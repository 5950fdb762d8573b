package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Par, Retrieval, RootPointer, Similarity, TextOps}
import graft.streaming.{DocStream, VecStream}

/** rag-serve-maintain: a RAG application's reads and its ingest writes
  * against ONE set of artifacts built from a seeded corpus (the q138
  * shape): a versioned lexical segment root with tombstones, a versioned
  * IVF-PQ root (centroids, codebooks, codes, tombstones) and the q53
  * cluster labels.
  *
  * The closed loop runs a fixed cycle of six ops: a serve request, an
  * append fold (fresh documents through `DocStream.lexAppendBatch` and
  * `Similarity.ivfPqAppend`), a serve request, a delete fold
  * (`DocStream.tombstoneBatch` and `VecStream.tombstoneBatch`), a serve
  * request, and a versioned compaction (`Retrieval.maybeCompactLexVersioned`,
  * `Similarity.maybeMaintainIvfVersioned`, `RootPointer.retireOld`).
  * A serve request ranks a batch of query ids drawn Zipf-skewed from a
  * fixed pool, so repeated queries exist: BM25 over the tombstone-
  * corrected segments, IVF-PQ ADC over the live codes, RRF fusion, cluster
  * collapse, collect.
  *
  * Check: after the last fold, the served top-k for a fixed probe set
  * equals the same serve over artifacts rebuilt from scratch from the
  * final live corpus under the frozen quantizer (the q115/q126 additive
  * identities and the q74 append identity make the two exactly equal). */
final class Rag(a: Main.Args) extends Main.Workload {
  private val docs = a.int("docs")
  private val fresh = a.int("fresh")
  private val batch = a.int("batch")
  private val pool = a.int("pool")
  private val queriesPerServe = a.int("queries")

  private def docsPath = s"${a.inputs}/documents.parquet"
  private var root: String = _
  private def lexBase = s"$root/lex"
  private def ivfBase = s"$root/ivf"
  private def clustersPath = s"$root/clusters"

  private val rnd = new scala.util.Random(a.seed * 7919L + 17L)
  private var nextFresh = 0L
  private val deleted = mutable.LinkedHashSet.empty[Long]
  private var folds = 0  // names each fold's segment and tombstone files
  private val served = mutable.HashSet.empty[Long]
  private var servedIds, repeatIds = 0L

  override def generate(r: Main.Recorder): Unit = {
    val nBase = math.max(1L, docs / 10L)
    Gen.cached(a.inputs, "_CHECKSUMS", r)(
      Gen.write(a.inputs, "", a.seed, 0, docs, nBase, vectors = true) ++
        Gen.write(a.inputs, "fresh_", a.seed, docs, docs.toLong + fresh, nBase, vectors = true))
  }

  private def emb(s: SparkSession, file: String): DataFrame =
    s.read.parquet(s"${a.inputs}/$file")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  /** Initial delete set, as in q138: every non-pool id ≡ 3 (mod 7). */
  private def initialDeletes: Seq[Long] = (pool.toLong until docs).filter(_ % 7 == 3)

  // ---- set-up: the artifact build (three independent families, overlapped)
  def setup(s: SparkSession, r: Main.Recorder): Unit = {
    graft.functions.VectorFunctions.register(s)
    root = s"${a.work}/artifacts"
    val t = r.trace
    val t0 = System.nanoTime()
    t.span("build") {
      val tokens = TextOps.tokenizedDocs(s, a.inputs)
      val e = emb(s, "embeddings.parquet")
      val (subs, seedsPq) = Similarity.subSplit(e)
      val del = initialDeletes
      val lexV = RootPointer.nextVersion(s, lexBase)
      val ivfV = RootPointer.nextVersion(s, ivfBase)
      Par.jobs(
        () => t.span("Retrieval.lexIndexSegment") {
          Retrieval.lexIndexSegment(tokens, s"$lexBase/$lexV", "seg0")
          Retrieval.lexTombstone(ids(s, del, "doc_id"), s"$lexBase/$lexV", "t0")
        },
        () => t.span("Similarity.ivfPqIndex") {
          val (cents, books, codes) = Similarity.ivfPqIndex(e, subs, seedsPq)
          Similarity.writeIvfArtifacts(s"$ivfBase/$ivfV", cents, books, codes,
            "t0" -> ids(s, del, "vec_id"))
        },
        () => t.span("Dedup.q53DedupClusters") {
          Dedup.q53DedupClusters(s, a.inputs).write.mode("overwrite").parquet(clustersPath)
        })
      RootPointer.publish(s, lexBase, lexV)
      RootPointer.publish(s, ivfBase, ivfV)
    }
    val buildS = (System.nanoTime() - t0) / 1e9
    r.values("build_s") = buildS
    val fam = Seq("Retrieval.lexIndexSegment", "Similarity.ivfPqIndex", "Dedup.q53DedupClusters")
    fam.foreach(n => r.values(s"$n.build_s") = t.durations(n).last)
    r.values("par_overlap") = fam.map(n => t.durations(n).last).sum / buildS
    deleted ++= initialDeletes
    nextFresh = docs.toLong
    // the first serve of a session pays one-off planning and codegen cost;
    // its query id lies outside the Zipf pool, so no timed query is primed
    serve(s, r, Seq(pool.toLong))
  }

  private def ids(s: SparkSession, xs: Seq[Long], name: String): DataFrame = {
    import s.implicits._
    xs.toDF(name)
  }

  // ---- serve path
  private def zipfPick(): Long = {
    // inverse CDF of P(rank) ∝ 1/(rank + 1) over the pool
    val u = rnd.nextDouble()
    math.min(pool - 1, (math.exp(u * math.log(pool + 1.0)) - 1.0).toLong)
  }

  /** The serve plan ranking `qids` over the lexical root `lex`, the IVF
    * quantizer (`cents`, `books`) under `quant` and the codes and
    * tombstones under `ivf`: rows (query_id, rnk, doc_id, score, ckey). */
  private def ranked(s: SparkSession, qids: Seq[Long], lex: String, quant: String,
      ivf: String, cands: Option[Observation]): DataFrame = {
    val (tf, df, stats) = Retrieval.lexIndexServeDel(s, lex)
    val qt = s.read.parquet(docsPath).filter(col("doc_id").isin(qids: _*))
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(split(col("text"), " "), 1, 4))).as("term"))
    val lexRanked = TextOps.bm25RankedFrom(tf, df, stats, qt)
      .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rnk"))
    val codes = s.read.parquet(s"$ivf/codes")
    val live = Similarity.tombstoneUnion(s, ivf)
      .map(t => codes.join(t, Seq("vec_id"), "left_anti")).getOrElse(codes)
    val q = emb(s, "embeddings.parquet").filter(col("vec_id").isin(qids: _*))
    val sem0 = Similarity.ivfPqSearchFrom(s.read.parquet(s"$quant/cents"),
      s.read.parquet(s"$quant/books"), live, q, k = Retrieval.SemK)
    val sem = cands.map(o => sem0.observe(o,
        sum(when(col("rn") === 1, col("n_cand"))).as("cands"), count(lit(1)).as("hits")))
      .getOrElse(sem0)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rn").as("sem_rnk"))
    Retrieval.collapseRankFrom(
      Retrieval.rrfScores(lexRanked, sem).select(col("query_id"), col("doc_id"),
        col("rrf").as("score")),
      s.read.parquet(clustersPath))
  }

  /** One serve request: plan over the current published roots, collect. */
  private def serve(s: SparkSession, r: Main.Recorder, qids: Seq[Long],
      cands: Option[Observation] = None): Array[Row] = {
    val out = r.trace.span("serve.plan") {
      val ivf = RootPointer.resolve(s, ivfBase)
      ranked(s, qids, RootPointer.resolve(s, lexBase), ivf, ivf, cands)
    }
    r.trace.span("serve.exec")(out.collect())
  }

  // ---- maintenance
  private def appendFold(s: SparkSession, r: Main.Recorder): Unit = {
    val lo = nextFresh
    val hi = lo + batch  // run() stops before the fresh pool runs out
    nextFresh = hi
    val lexRoot = RootPointer.resolve(s, lexBase)
    val ivfRoot = RootPointer.resolve(s, ivfBase)
    val b = s.read.parquet(s"${a.inputs}/fresh_documents.parquet")
      .filter(col("doc_id") >= lo && col("doc_id") < hi).select("doc_id", "text")
    folds += 1
    r.trace.span("DocStream.lexAppendBatch")(DocStream.lexAppendBatch(s, lexRoot, b, s"seg_a$folds"))
    r.trace.span("Similarity.ivfPqAppend") {
      val v = emb(s, "fresh_embeddings.parquet").filter(col("vec_id") >= lo && col("vec_id") < hi)
      Similarity.ivfPqAppend(s.read.parquet(s"$ivfRoot/cents"),
        s.read.parquet(s"$ivfRoot/books"), v).write.mode("append").parquet(s"$ivfRoot/codes")
    }
  }

  private def deleteFold(s: SparkSession, r: Main.Recorder): Unit = {
    val victims = mutable.LinkedHashSet.empty[Long]
    while (victims.size < batch) {
      val id = pool + (rnd.nextDouble() * (nextFresh - pool)).toLong
      if (!deleted.contains(id)) victims += id
    }
    deleted ++= victims
    folds += 1
    val v = victims.toSeq
    r.trace.span("DocStream.tombstoneBatch")(DocStream.tombstoneBatch(s,
      RootPointer.resolve(s, lexBase), ids(s, v, "doc_id"), s"d$folds"))
    r.trace.span("VecStream.tombstoneBatch")(VecStream.tombstoneBatch(
      ids(s, v, "vec_id"), RootPointer.resolve(s, ivfBase), s"d$folds"))
  }

  private def compact(s: SparkSession, r: Main.Recorder): Unit = {
    r.trace.span("Retrieval.maybeCompactLexVersioned")(
      Retrieval.maybeCompactLexVersioned(s, lexBase, maxSegments = 1))
    r.trace.span("Similarity.maybeMaintainIvfVersioned")(
      Similarity.maybeMaintainIvfVersioned(s, ivfBase, emb(s, "embeddings.parquet"),
        maxTombstones = 1, maxSharePpm = 1000000L))
    r.trace.span("RootPointer.retireOld") {
      RootPointer.retireOld(s, lexBase, keep = 2)
      RootPointer.retireOld(s, ivfBase, keep = 2)
    }
  }

  private def serveOp(s: SparkSession, r: Main.Recorder): Unit = {
    val qids = Seq.fill(queriesPerServe)(zipfPick()).distinct
    servedIds += qids.size
    repeatIds += qids.count(q => !served.add(q))
    val traced = a.traced
    if (traced) r.sample("segments", Retrieval.lexSegmentCount(s, RootPointer.resolve(s, lexBase)))
    val obs = if (traced) Some(Observation()) else None
    r.op("serve", "serve")(serve(s, r, qids, obs))
    obs.foreach { o =>
      val m = o.get
      r.sample("cands", m("cands").asInstanceOf[Long].toDouble)
      r.sample("hits", m("hits").asInstanceOf[Long].toDouble)
    }
  }

  def run(s: SparkSession, r: Main.Recorder, deadlineNs: Long): Unit = {
    // whole cycles only: serve, append fold, serve, delete fold, serve,
    // compaction
    r.counts("cycles") = Main.loop(deadlineNs, nextFresh + batch <= docs + fresh) {
      serveOp(s, r)
      r.op("maintain", "maintain")(appendFold(s, r))
      serveOp(s, r)
      r.op("maintain", "maintain")(deleteFold(s, r))
      serveOp(s, r)
      r.op("compact", "compact")(compact(s, r))
      if (a.traced) r.sample("live_versions",
        RootPointer.completeVersions(s, lexBase).size + RootPointer.completeVersions(s, ivfBase).size)
    }
  }

  def check(s: SparkSession, r: Main.Recorder): Unit = {
    val probes = 0L until math.min(pool, 8).toLong
    // from-scratch rebuild of the final live corpus under the frozen quantizer
    val rb = s"${a.work}/rebuild"
    val dead = deleted.toSeq
    val liveDocs = s.read.parquet(docsPath).select("doc_id", "text")
      .unionByName(s.read.parquet(s"${a.inputs}/fresh_documents.parquet").select("doc_id", "text"))
      .filter(not(col("doc_id").isin(dead: _*)) && col("doc_id") < nextFresh)
    Retrieval.lexIndexSegment(liveDocs.select(col("doc_id"), split(col("text"), " ").as("w")),
      s"$rb/lex", "seg0")
    val ivfRoot = RootPointer.resolve(s, ivfBase)
    val liveVecs = emb(s, "embeddings.parquet").unionByName(emb(s, "fresh_embeddings.parquet"))
      .filter(not(col("vec_id").isin(dead: _*)) && col("vec_id") < nextFresh)
    Similarity.ivfPqAppend(s.read.parquet(s"$ivfRoot/cents"), s.read.parquet(s"$ivfRoot/books"),
      liveVecs).write.mode("overwrite").parquet(s"$rb/ivf/codes")
    // both serves in one action: side 0 is the live artifacts, 1 the rebuild
    // (its codes beside the live root's frozen centroids and codebooks)
    val both = ranked(s, probes, RootPointer.resolve(s, lexBase), ivfRoot, ivfRoot, None)
      .withColumn("side", lit(0))
      .unionByName(ranked(s, probes, s"$rb/lex", ivfRoot, s"$rb/ivf", None)
        .withColumn("side", lit(1)))
      .collect()
    def sideRows(k: Int) = both.filter(_.getAs[Int]("side") == k)
      .map(x => x.toSeq.dropRight(1)).sortBy(x => (x(0).asInstanceOf[Long], x(1).asInstanceOf[Long]))
      .toSeq
    val (served, rebuilt) = (sideRows(0), sideRows(1))
    val firstDiff = served.zip(rebuilt).find { case (x, y) => x != y }
    r.check("serve_equals_rebuild", served == rebuilt && served.nonEmpty,
      s"served=${served.length} rebuilt=${rebuilt.length} first difference: $firstDiff")
    r.info("probe_hash") = Catalog.contentHash(served.map(Row.fromSeq))
    val store = Gen.dirBytes(lexBase) + Gen.dirBytes(ivfBase) + Gen.dirBytes(clustersPath)
    val input = Seq("documents", "embeddings", "fresh_documents", "fresh_embeddings")
      .map(n => Gen.dirBytes(s"${a.inputs}/$n.parquet")).sum
    r.values("store_bytes") = store.toDouble
    r.values("input_bytes") = input.toDouble
    r.counts("live_docs") = nextFresh - deleted.size
    r.counts("folds") = folds
    // share of served query ids that an earlier timed request already served
    r.values("serve_repeat_share") = if (servedIds == 0) 0.0 else repeatIds.toDouble / servedIds
  }
}
