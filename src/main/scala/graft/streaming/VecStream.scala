package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Similarity

/** Streaming ANN index ingest — the continuous form of an IVF code
  * table's encode ([[graft.ops.Similarity.IvfCodec]]; the q70
  * incremental-ingest story applied to the serving index): fresh embedding
  * batches arrive as a file stream and are coarse-assigned + PQ-encoded
  * MAP-SIDE under the PERSISTED index artifacts (coarse centroids +
  * codebooks, each collapsed to a one-row broadcast), emitting
  * (vec_id, cell, codes) rows that append to the serving cell+code table. No retraining, no state, no
  * shuffle: the whole transform is a stateless projection against two
  * static one-row frames, so it is streaming-legal under any trigger and
  * the per-micro-batch cost is proportional to the batch — never the
  * corpus or the index.
  *
  * At 100 TB this is the ingest half of the artifact serving loop:
  * `ivfPqIndex` trains once and persists; this stream keeps the code
  * table current between retrains (codebook drift is a periodic BATCH
  * retrain + re-encode, the standard IVF-PQ operating practice — a stream
  * must never mutate the quantizers mid-flight, or old and new codes stop
  * being comparable under one LUT).
  *
  * `DocStreamSpec`'s VecStream cases pin streamed ≡ batch: draining the
  * stream produces exactly the codec's batch encode for the same batch,
  * on a flat root and on a residual one.
  */
object VecStream {

  /** embeddings.parquet schema (TESTDATA.md; `label` optional). */
  val rawSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** File stream over a directory of embeddings.parquet batches. */
  def readVecs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(dir)

  /** Assign + encode a streaming batch under persisted artifacts with the
    * root's codec ([[graft.ops.Similarity.IvfCodec.of]]) — the batch
    * encode verbatim (same expressions, same broadcasts), which is exactly
    * why streamed ≡ batch holds: the only stream-specific part is the
    * source. A residual root's batches encode x − c(cell), so streaming
    * into it keeps its invariant. `cents`/`books` should be the
    * parquet-persisted artifacts (reading them back per micro-batch is a
    * few KB; training lineage would retrain per micro-batch). */
  def indexAppend(freshVecs: DataFrame, codec: Similarity.IvfCodec, cents: DataFrame,
      books: Option[DataFrame]): DataFrame =
    codec.encode(cents, books,
      freshVecs.select(col("vec_id"), col("embedding").cast("array<double>").as("e")))

  /** Per-micro-batch SEMANTIC DECONTAMINATION flags — q151's rule at
    * ingest time (the place a curation pipeline actually wants it: flag
    * eval leakage as vectors ARRIVE, not in a later full-corpus sweep).
    * Delegates to the batch [[graft.ops.Similarity.semanticDeconFrom]]
    * verbatim (the native `graft_cos_hits` fold against the broadcast
    * eval set), which is exactly why streamed ≡ batch holds bit-for-bit:
    * the flag is a pure per-row function of (vector, frozen eval set),
    * so ANY batching yields the same flag rows — no state, no shuffle,
    * streaming-legal under any trigger, per-batch cost ∝ batch × |eval|.
    * `ev` must be the (vec_id, e, nrm) eval frame, persisted once (a
    * benchmark suite is static; re-deriving it per batch would be
    * harmless but wasteful). */
  def deconFlags(freshVecs: DataFrame, ev: DataFrame, tau: Double): DataFrame = {
    graft.functions.VectorFunctions.register(freshVecs.sparkSession)
    Similarity.semanticDeconFrom(
      freshVecs.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
        .filter(col("nrm") > 0),
      // mirror the fresh-side zero-norm filter on the eval frame: an
      // unfiltered caller's zero-norm eval row would yield NaN sims that
      // silently never flag, weakening the streamed-equals-batch claim
      ev.filter(col("nrm") > 0), tau)
  }

  /** One RAW Gram/second-moment sketch row per micro-batch — the streaming
    * statistics feed for PCA/correlation audits (q99/q100): each batch
    * contributes (Σ floor(x_i·x_j·10⁶) over the batch, batch count). Because the fixed-point floor applies PER ROW and
    * the cell sums are plain BIGINT +, per-batch sketches are EXACTLY
    * additive under any batching — the streamed fold is bit-equal to one
    * whole-corpus aggregate (VecStreamSpec), unlike float moments where
    * batching changes rounding. Run inside `foreachBatch`, append to a
    * stats table; [[mergeGram]] folds KBs of rows into the corpus matrix.
    * (Raw moments, not centered: centering needs the global mean, so a
    * mean-corrected matrix is derived AT MERGE time — the standard
    * streaming-moments decomposition; per-dim mean sums stream the same
    * way via the q99 fixed-point mean pass.) */
  def gramSketch(batch: DataFrame): DataFrame = {
    graft.functions.CovAgg.register(batch.sparkSession)
    batch
      .select(col("embedding").cast("array<double>").as("e"))
      // null embeddings are skipped by CovAgg.update, so they must not be
      // counted into n either — otherwise the merged (fs, n) pairs would
      // normalize the Gram cells by more rows than were accumulated
      .filter(col("e").isNotNull)
      .agg(expr("graft_cov(e, 64)").as("cs"), count(lit(1)).as("n"))
  }

  /** Persisted per-batch Gram sketches → the exact corpus-level cell
    * matrix (i, j, fs, n): element-wise BIGINT sums over KB-scale rows —
    * the corpus is never re-read. */
  def mergeGram(sketches: DataFrame): DataFrame =
    sketches
      .select(col("n"), posexplode(col("cs")).as(Seq("k", "fs")))
      .groupBy("k")
      .agg(sum(col("fs")).as("fs"), sum(col("n")).as("n"))
      .select(expr("CAST(k div 64 AS INT)").as("i"),
        expr("CAST(k % 64 AS INT)").as("j"),
        col("fs"), col("n"))

  /** Per-batch per-dimension FIXED-POINT MEAN sums (i, fs, n) — the first
    * of the two streamed passes behind the SERVED q99 (pass 1: mean; pass 2
    * re-streams the same append log with the merged mean broadcast —
    * [[centeredGramSketch]]). fs = Σ floor(x_i·10⁶) is a BIGINT, so
    * per-batch rows are exactly additive under any batching, like
    * [[gramSketch]]. */
  def meanSketch(batch: DataFrame): DataFrame =
    batch
      .select(col("embedding").cast("array<double>").as("e"))
      .filter(col("e").isNotNull)
      .select(posexplode(col("e")).as(Seq("i", "x")))
      .groupBy("i")
      .agg(sum(expr("CAST(floor(x * 1000000.0) AS BIGINT)")).as("fs"),
        count(lit(1)).as("n"))

  /** Merged mean-sum rows → the ONE-ROW mean array frame in exactly the
    * batch q99 shape ([[graft.ops.Similarity]] pcaParts' `muArr`): per dim
    * m = (Σfs / Σn) / 10⁶ — the same two correctly-rounded IEEE ops on the
    * same exact integers, so the served mean is bit-equal to the batch
    * mean no matter how the stream was batched. */
  def mergeMean(sketches: DataFrame): DataFrame =
    sketches
      .groupBy("i")
      .agg(sum(col("fs")).as("fs"), sum(col("n")).as("n"))
      .select(col("i"),
        ((col("fs").cast("double") / col("n")) / lit(1000000.0)).as("m"))
      .agg(expr("transform(array_sort(collect_list(struct(i, m))), t -> t.m)").as("mu"))

  /** Pass-2 sketch: the CENTERED Gram cells of one batch under the merged
    * corpus mean (a one-row broadcast) — per row floor(cx_i·cx_j·10⁶)
    * BIGINTs, additive across batches, so the merged matrix equals the
    * batch q99 covariance cells bit-for-bit and the served component/
    * projections are IDENTICAL to self-contained q99 (VecStreamServe
    * spec). Centering at sketch time (not merge time) is what buys
    * bit-equality: mean-correcting RAW moments at merge time is the
    * standard streaming decomposition but rounds differently than
    * flooring centered products per row. */
  def centeredGramSketch(batch: DataFrame, muArr: DataFrame): DataFrame = {
    graft.functions.CovAgg.register(batch.sparkSession)
    batch
      .select(col("embedding").cast("array<double>").as("e"))
      .filter(col("e").isNotNull)
      .crossJoin(org.apache.spark.sql.functions.broadcast(muArr))
      .select(expr("zip_with(e, mu, (x, m) -> x - m)").as("cx"))
      .agg(expr("graft_cov(cx, 64)").as("cs"), count(lit(1)).as("n"))
  }

  /** STREAMING GRAPH MAINTENANCE — one micro-batch fold of fresh vectors
    * into the persisted kNN-graph artifact, the last serving family to get
    * a streaming ingest story (the ANN index has [[indexAppend]], the PCA
    * stats have the sketch passes; this is the edge-list analogue). Run
    * inside `foreachBatch`: delegates to the batch
    * [[graft.ops.Similarity.knnGraphAppend]] kernel VERBATIM (same
    * broadcasts, same bounded merge), which is exactly why
    * streamed ≡ batch rebuild holds transitively across any batching
    * (DocStreamSpec) — append(append(G, b₁), b₂) = rebuild(base ∪ b₁ ∪ b₂)
    * by induction on the per-step equivalence.
    *
    * Copy-on-write versioning: the updated SCORED edge list and probe-cell
    * table land under `outRoot` (a NEW graph root — parquet cannot be
    * overwritten while the fold is reading it), and the frozen centroids
    * are file-copied beside them, so every version is a self-contained
    * artifact the next fold (or any serving query) can point at. Retiring
    * old versions is the caller's swap step, the standard CoW table
    * convention.
    *
    * `baseEmb` must be the nonzero-norm (vec_id, e, nrm) corpus the
    * `root` edge list currently covers — stream operators keep it
    * current by appending each drained batch's raw rows to the corpus
    * store they read it from (the spec's accumulating-dir shape). */
  def graphAppend(s: SparkSession, baseEmb: DataFrame, root: String,
      fresh: DataFrame, outRoot: String): Unit = {
    import Similarity.{GraphCells, GraphEdges, IvfCents}
    val cents = IvfCents.read(s, root)
    val cells = GraphCells.read(s, root)
    val fr = fresh.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
    // the O(n)-shuffle path: base cells/probes from the persisted
    // probe-cell table, never an n·nlist recompute per micro-batch
    GraphEdges.write(Similarity.knnGraphAppendFrom(s, baseEmb, cells,
      GraphEdges.read(s, root), cents, fr), outRoot)
    graft.ops.Artifacts.copyFrozen(s, root, outRoot, IvfCents.name)
    // fold the batch's probe-cell rows in so the NEXT version appends
    // against the union table (same expression, same frozen cents)
    GraphCells.write(cells.unionByName(Similarity.probeCellRows(fr, cents)), outRoot)
  }

  /** Fold a vector DELETE micro-batch into the persisted IVF-PQ artifact —
    * the streaming half of the q127 live-docs contract, mirroring
    * [[graft.streaming.DocStream.tombstoneBatch]]: each batch of deleted
    * vec_ids lands as its own tiny immutable tombstone file under the
    * artifact root (cents/books/codes never rewritten, the frozen-
    * quantizer contract; errorifexists — a published root only ever gains
    * files), the serve-side anti-join folds over the tombstone-file
    * union, and physical reclamation is the compaction step of
    * [[graft.ops.Similarity.maybeMaintainIvfVersioned]], run between
    * batches. */
  def tombstoneBatch(ids: DataFrame, root: String, name: String): Unit =
    graft.ops.Artifacts.VecTombstones.add(ids, root, name)

  /** foreachBatch INGEST for the persisted IVF-PQ artifact: encode the
    * fresh batch with the root's codec ([[graft.ops.Similarity.IvfCodec.of]])
    * under the frozen cents/books (read back per batch — KBs, never a
    * training lineage) and APPEND the code rows to `root/codes`. Rebalancing
    * is [[graft.ops.Similarity.maybeMaintainIvfVersioned]]'s split and merge,
    * run between batches: on a flat root they only reroute, so ANY
    * interleaving of appends and rebalances serves the same full-probe
    * results as policy-free appends (the q142/q144 gates; DocStreamSpec
    * drains both); on a residual root they re-encode and audit. */
  def indexAppendBatch(freshVecs: DataFrame, root: String): Unit = {
    val s = freshVecs.sparkSession
    Similarity.IvfCodes.append(indexAppend(freshVecs, Similarity.IvfCodec.of(s, root),
      Similarity.IvfCents.read(s, root), Some(Similarity.IvfBooks.read(s, root))), root)
  }
}
