package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.{Tables, TestSpark}

/** Streaming ingest dedup ≡ brute force: draining a fresh-batch document
  * stream against the static-corpus index must find exactly the J ≥ t
  * fresh×existing pairs. */
class DocStreamSpec extends AnyFunSuite with graft.CacheHygiene {
  private val sf = "/root/testdata/sf0.001"
  private val threshold = 0.6

  test("streamed near-dup matches against a static corpus equal brute force") {
    val spark = TestSpark.spark
    val all = Tables.documents(spark, sf).select("doc_id", "text")
    val static = all.filter(col("doc_id") % 5 =!= 0)
    val fresh = all.filter(col("doc_id") % 5 === 0)

    // stage the fresh batch as a file-stream source directory
    val dir = java.nio.file.Files.createTempDirectory("docstream").toString
    fresh
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(dir)

    val (btable, index) = DocStream.nearDupIndex(static, threshold)
    val q = DocStream.nearDupAgainst(DocStream.readDocs(spark, dir), btable, index, threshold)
      .writeStream.format("memory").queryName("stream_neardup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("stream_neardup").collect()
      .map(r => (r.getAs[Long]("fresh_id"), r.getAs[Long]("ex_id"),
        r.getAs[Double]("jaccard"))).toSet

    // brute force driver-side: every fresh×static pair over distinct word
    // trigrams (same shingle definition as the engine)
    def shingleSet(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val sDocs = static.collect().map(r => (r.getLong(0), shingleSet(r.getString(1))))
      .filter(_._2.nonEmpty)
    val fDocs = fresh.collect().map(r => (r.getLong(0), shingleSet(r.getString(1))))
      .filter(_._2.nonEmpty)
    val expected = (for {
      (fid, fs) <- fDocs; (eid, es) <- sDocs
      inter = (fs & es).size
      j = inter.toDouble / (fs.size + es.size - inter)
      if j >= threshold
    } yield (fid, eid, j)).toSet
    assert(expected.nonEmpty, "vacuous: no fresh-vs-static near-dup pairs at sf0.001")
    assert(got == expected, s"got ${got.size}, expected ${expected.size}")
  }

  test("watermarked stream catches mutated near-dups, equals the batch incremental path") {
    val spark = TestSpark.spark
    import spark.implicits._
    val all = Tables.documents(spark, sf).select("doc_id", "text")
    val static = all.filter(col("doc_id") % 5 =!= 0)
    val fresh = all.filter(col("doc_id") % 5 === 0)
    // MUTATED copies of static docs: one middle word replaced — NOT
    // byte-identical (the exact gate is blind to them), trigram Jaccard
    // ≥ (n-5)/(n+1) ≥ 0.71 at n ≥ 20 words, comfortably over t=0.6
    val mutated = static.filter(size(split(col("text"), " ")) >= 20)
      .orderBy("doc_id").limit(5).collect().map { r =>
        val w = r.getString(1).split(" ")
        w(w.length / 2) = "zzmutated"
        (r.getLong(0) + 3000000L, w.mkString(" "))
      }
    assert(mutated.length == 5, "vacuous: not enough long static docs to mutate")
    val batch = fresh.unionByName(mutated.toSeq.toDF("doc_id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("docstream_wm").toString
    batch
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("ingest_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .coalesce(1).write.mode("overwrite").parquet(dir)

    val (btable, index) = DocStream.nearDupIndex(static, threshold)
    val q = DocStream.nearDupAgainstWatermarked(
        DocStream.readDocsTs(spark, dir), btable, index, threshold)
      .writeStream.format("memory").queryName("stream_neardup_wm")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("stream_neardup_wm").collect()
      .map(r => (r.getAs[Long]("fresh_id"), r.getAs[Long]("ex_id"),
        r.getAs[Double]("jaccard"))).toSet

    // every planted mutation must be caught against its source document
    mutated.foreach { case (mid, _) =>
      assert(got.exists(p => p._1 == mid && p._2 == mid - 3000000L),
        s"mutated copy $mid not caught against its source")
    }
    // differential vs the BATCH incremental path (the q70 machinery) over
    // static ∪ batch, restricted to fresh-vs-static pairs — the only pairs
    // the stream probes. Note the two paths rank by DIFFERENT df tables
    // (static-only vs combined) — both consistent total orders, so both are
    // exact and must agree; this is the strongest check of that claim.
    def isFresh(id: Long): Boolean = id % 5 == 0 || id >= 3000000L
    val expected = graft.ops.Dedup.incrementalJaccardPairs(
        graft.ops.Dedup.shingleDocs(static.unionByName(batch)),
        batch.select("doc_id"), threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => isFresh(a) ^ isFresh(b) }
      .map { case (a, b, j) => if (isFresh(a)) (a, b, j) else (b, a, j) }.toSet
    assert(expected.size >= 5, "vacuous: differential has no pairs")
    assert(got == expected, s"got ${got.size}, expected ${expected.size}")
  }

  test("streamed exact-dup gate flags exactly the docs whose text exists in the static corpus") {
    val spark = TestSpark.spark
    val all = Tables.documents(spark, sf).select("doc_id", "text")
    val static = all.filter(col("doc_id") % 5 =!= 0)
    val fresh = all.filter(col("doc_id") % 5 === 0)
    // plant byte-identical copies of static texts in the batch so the gate
    // has true positives (no natural fresh↔static exact dup exists at this SF)
    val planted = static.orderBy("doc_id").limit(3)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val batch = fresh.unionByName(planted)
    val dir = java.nio.file.Files.createTempDirectory("docstream_exact").toString
    batch
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val q = DocStream.exactDupAgainst(DocStream.readDocs(spark, dir), static)
      .writeStream.format("memory").queryName("stream_exactdup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("stream_exactdup").collect().map(_.getAs[Long]("fresh_id")).toSet
    val staticTexts = static.collect().map(_.getString(1)).toSet
    val expected = batch.collect()
      .filter(r => staticTexts.contains(r.getString(1))).map(_.getLong(0)).toSet
    assert(expected.size >= 3, "vacuous: planted duplicates missing")
    assert(got == expected, s"got ${got.size}, expected ${expected.size}")
  }

  test("streamed bloom gate passes every true duplicate map-side, stays selective") {
    val spark = TestSpark.spark
    val all = Tables.documents(spark, sf).select("doc_id", "text")
    val static = all.filter(col("doc_id") % 5 =!= 0)
    val fresh = all.filter(col("doc_id") % 5 === 0)
    val planted = static.orderBy("doc_id").limit(3)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val batch = fresh.unionByName(planted)
    val dir = java.nio.file.Files.createTempDirectory("docstream_bloom").toString
    batch
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val q = DocStream.bloomGate(DocStream.readDocs(spark, dir), static)
      .writeStream.format("memory").queryName("stream_bloomgate")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("stream_bloomgate").collect().map(_.getAs[Long]("fresh_id")).toSet
    val staticTexts = static.collect().map(_.getString(1)).toSet
    val trueDups = batch.collect()
      .filter(r => staticTexts.contains(r.getString(1))).map(_.getLong(0)).toSet
    assert(trueDups.size >= 3, "vacuous: planted duplicates missing")
    // no false negatives: the gate is a valid prefilter for the exact join
    assert(trueDups.subsetOf(got), s"gate dropped true dups: ${trueDups -- got}")
    // selective: at 2^20 bits / ~400 fingerprints the FP rate is ~0, so the
    // gate should pass little beyond the true dups (generous 10% headroom)
    assert(got.size <= trueDups.size + (batch.count() / 10).toInt,
      s"gate passed ${got.size} of ${batch.count()} rows — not selective")
  }

  test("streamed ANN ingest: drained index rows equal the batch ivfPqAppend exactly") {
    val spark = TestSpark.spark
    import graft.ops.Similarity
    graft.functions.VectorFunctions.register(spark)
    val all = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e")
    val static = all.filter(col("vec_id") % 5 =!= 0)
    val fresh = all.filter(col("vec_id") % 5 === 0)

    // train on the static corpus only, then PERSIST the artifacts — the
    // production shape: the stream reads the parquet artifacts, never a
    // training lineage (which would retrain per micro-batch)
    val (subs, seeds) = Similarity.subSplit(static)
    val (cents, books, _) = Similarity.ivfPqIndex(static, subs, seeds)
    val art = java.nio.file.Files.createTempDirectory("vecstream_art").toString
    cents.write.mode("overwrite").parquet(s"$art/cents")
    books.write.mode("overwrite").parquet(s"$art/books")
    val pc = spark.read.parquet(s"$art/cents")
    val pb = spark.read.parquet(s"$art/books")

    // stage the fresh batch as a file-stream source directory (raw schema)
    val dir = java.nio.file.Files.createTempDirectory("vecstream").toString
    Tables.embeddings(spark, sf).filter(col("vec_id") % 5 === 0)
      .select("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(dir)

    val q = VecStream.indexAppend(VecStream.readVecs(spark, dir),
        Similarity.IvfCodec.of(spark, art), pc, Some(pb))
      .writeStream.format("memory").queryName("stream_annappend")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    def rows(a: Array[org.apache.spark.sql.Row]) = a.map(r =>
      r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cell"), r.getAs[Seq[Long]]("codes").mkString(","))).toMap
    val streamed = rows(spark.table("stream_annappend").collect())
    val batch = rows(Similarity.ivfPqAppend(pc, pb, fresh).collect())
    assert(batch.nonEmpty, "vacuous: empty fresh batch")
    assert(streamed == batch,
      s"streamed index diverged: ${streamed.size} vs ${batch.size} rows")
  }

  test("streamed ANN ingest into a residual root keeps its invariant and equals the batch residual encode") {
    val spark = TestSpark.spark
    import graft.ops.Similarity
    graft.functions.VectorFunctions.register(spark)
    // a residual-marked root over the static corpus: its codes encode
    // x - c(cell), so a batch encoded with flat PQ would break every row
    val (cents, books, codes) = Similarity.residualPartsCached(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("vecstream_resid").toString
    cents.write.parquet(s"$root/cents")
    books.write.parquet(s"$root/books")
    codes.filter(col("vec_id") % 5 =!= 0).write.parquet(s"$root/codes")
    graft.ops.Artifacts.markResidual(spark, root)
    val pc = spark.read.parquet(s"$root/cents")
    val pb = spark.read.parquet(s"$root/books")

    val dir = java.nio.file.Files.createTempDirectory("vecstream_resid_in").toString
    Tables.embeddings(spark, sf).filter(col("vec_id") % 5 === 0)
      .select("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val q = VecStream.readVecs(spark, dir).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        VecStream.indexAppend(batch, Similarity.IvfCodec.of(spark, root), pc, Some(pb))
          .write.mode("append").parquet(s"$root/codes")
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val emb = Similarity.embWithNorm(spark, sf).select("vec_id", "e")
    assert(Similarity.residualAuditMismatches(spark, root, emb) == 0L,
      "a streamed batch broke the residual invariant of the root it serves")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cell"), r.getAs[Seq[Long]]("codes").mkString(","))).toMap
    val fresh = emb.filter(col("vec_id") % 5 === 0)
    val batch = rows(Similarity.IvfCodec.ResidualPq.encode(pc, Some(pb), fresh))
    val streamed = rows(spark.read.parquet(s"$root/codes").filter(col("vec_id") % 5 === 0))
    assert(batch.nonEmpty, "vacuous: empty fresh batch")
    assert(streamed == batch, s"streamed residual rows diverged: ${streamed.size} vs ${batch.size}")
  }

  test("streamed Gram sketches fold to the exact whole-corpus matrix (fixed-point cells are additive)") {
    val spark = TestSpark.spark
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")

    val dir = java.nio.file.Files.createTempDirectory("vecstream_gram").toString
    (0 until 3).foreach { i =>
      vecs.filter(col("vec_id") % 3 === i)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val skDir = java.nio.file.Files.createTempDirectory("vecstream_gram_sk").toString
    val q = VecStream.readVecs(spark, dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        VecStream.gramSketch(batch)
          .coalesce(1).write.mode("append").parquet(skDir)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val merged = VecStream.mergeGram(spark.read.parquet(skDir)).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val direct = VecStream.mergeGram(VecStream.gramSketch(vecs)).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(merged.size == 64 * 64 && direct.size == 64 * 64)
    assert(merged == direct,
      "streamed Gram fold diverged from the whole-corpus aggregate — " +
        "fixed-point cell additivity is broken")
  }

  test("streamed PCA serve: component+projections from two streamed sketch passes equal batch q99 bit-for-bit") {
    val spark = TestSpark.spark
    import graft.ops.Similarity
    graft.functions.VectorFunctions.register(spark)
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")

    val dir = java.nio.file.Files.createTempDirectory("vecstream_pca").toString
    (0 until 3).foreach { i =>
      vecs.filter(col("vec_id") % 3 === i)
        .coalesce(1).write.mode("append").parquet(dir)
    }

    // PASS 1: streamed per-dim fixed-point mean sums, merged to the corpus mean
    val muDir = java.nio.file.Files.createTempDirectory("vecstream_pca_mu").toString
    val q1 = VecStream.readVecs(spark, dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        VecStream.meanSketch(batch).coalesce(1).write.mode("append").parquet(muDir)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination()
    val muArr = VecStream.mergeMean(spark.read.parquet(muDir)).cache()
    assert(muArr.count() == 1)

    // PASS 2: re-stream the same append log, sketching CENTERED Gram cells
    // under the merged mean (a one-row broadcast)
    val gDir = java.nio.file.Files.createTempDirectory("vecstream_pca_gram").toString
    val q2 = VecStream.readVecs(spark, dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        VecStream.centeredGramSketch(batch, muArr)
          .coalesce(1).write.mode("append").parquet(gDir)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()

    // merged sketches → the (i, j, c) cell frame in the exact batch shape
    val cov = VecStream.mergeGram(spark.read.parquet(gDir))
      .select(col("i"), col("j"),
        ((col("fs").cast("double") / col("n")) / lit(1000000.0)).as("c"))
      .cache()
    assert(cov.count() == 64 * 64)
    val centered = vecs
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e")
      .crossJoin(org.apache.spark.sql.functions.broadcast(muArr))
      .select(col("vec_id"), expr("zip_with(e, mu, (x, m) -> x - m)").as("cx"))

    val served = Similarity.q99PowerProject(spark, centered, cov).collect().toSeq
    val batchQ99 = Similarity.q99PcaPower(spark, sf).collect().toSeq
    assert(served.nonEmpty && served == batchQ99,
      s"served PCA diverged from batch q99:\n served=$served\n batch=$batchQ99")
  }

  test("streamed HLL profile: per-batch sketches merged on read equal one batch sketch over the whole stream") {
    val spark = TestSpark.spark
    val docs = Tables.documents(spark, sf)

    // stage three micro-batches as separate parquet files in one stream dir
    val dir = java.nio.file.Files.createTempDirectory("docstream_hll").toString
    (0 until 3).foreach { i =>
      docs.filter(col("doc_id") % 3 === i)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val skDir = java.nio.file.Files.createTempDirectory("docstream_hll_sk").toString

    // the production shape: foreachBatch appends one sketch row per source
    // per micro-batch; the corpus is never re-read
    val q = DocStream.readDocs(spark, dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        DocStream.docSketches(batch)
          .coalesce(1).write.mode("append").parquet(skDir)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val merged = DocStream.mergeSketches(spark.read.parquet(skDir)).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("v_empty"), r.getAs[Long]("s_scaled")))).toMap

    // batch differential: one sketch pass over ALL the docs at once
    val direct = graft.ops.TextOps.q96HllDistinct(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("v_empty"), r.getAs[Long]("s_scaled")))).toMap

    assert(merged.keySet == direct.keySet,
      s"source sets diverge: ${merged.keySet} vs ${direct.keySet}")
    assert(merged.size >= 2, "vacuous: need at least one source plus '_all_'")
    merged.foreach { case (src, got) =>
      assert(got == direct(src),
        s"stream-merged sketch diverges for $src: got=$got exp=${direct(src)}")
    }
  }

  test("streamed KN scoring: micro-batch scores under the persisted model equal the batch scorer exactly") {
    val spark = TestSpark.spark
    val all = Tables.documents(spark, sf).select("doc_id", "text")
    val static = all.filter(col("doc_id") % 4 =!= 0)
    val fresh = all.filter(col("doc_id") % 4 === 0)

    // train on the static corpus, persist the model (the serving artifact)
    val art = java.nio.file.Files.createTempDirectory("knmodel").toString
    graft.ops.TextOps.knModel(
        static.select(col("doc_id"), split(col("text"), " ").as("w")))
      .write.mode("overwrite").parquet(s"$art/model")
    val model = spark.read.parquet(s"$art/model")

    val dir = java.nio.file.Files.createTempDirectory("docstream_kn").toString
    fresh
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val outDir = java.nio.file.Files.createTempDirectory("docstream_kn_out").toString
    val q = DocStream.readDocs(spark, dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        DocStream.knScoreBatch(batch, model)
          .coalesce(1).write.mode("append").parquet(outDir)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    def key(a: Array[org.apache.spark.sql.Row]) = a.map(r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_bi"),
        r.getAs[Long]("kn_mass"), r.getAs[Double]("score")))).toMap
    val streamed = key(spark.read.parquet(outDir).collect())
    val batch = key(graft.ops.TextOps.knScore(
      fresh.select(col("doc_id"), split(col("text"), " ").as("w")), model).collect())
    assert(batch.nonEmpty, "vacuous: no scorable fresh docs")
    assert(streamed == batch,
      s"streamed KN scores diverged: ${streamed.size} vs ${batch.size} docs")
    // OOV semantics sanity: fresh docs score over KNOWN bigrams only, so
    // every streamed n_bi is ≤ the doc's own bigram count
    fresh.collect().foreach { r =>
      val id = r.getLong(0); val nb = r.getString(1).split(" ").length - 1
      streamed.get(id).foreach { case (n, _, _) => assert(n <= nb, s"doc $id") }
    }
  }

  test("streamed graph maintenance: per-micro-batch edge folds equal the batch rebuild over the whole stream") {
    val spark = TestSpark.spark
    import graft.ops.Similarity
    graft.functions.VectorFunctions.register(spark)
    val allE = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e")
      .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
      .filter(col("nrm") > 0)
    val static = allE.filter(col("vec_id") % 3 === 2)

    // base artifact: frozen cents + scored edges for the static corpus
    // (the explicit-cents seams — the artifact layout knnGraphArtifact
    // writes, built here per-split so the quantizer freezes on `static`)
    val root = java.nio.file.Files.createTempDirectory("vecstream_graph").toString
    Similarity.IvfCents.write(Similarity.knnCents(static, 8), s"$root/v0")
    val cents = Similarity.IvfCents.read(spark, s"$root/v0")
    Similarity.GraphEdges.write(
      Similarity.knnEdgesScoredFrom(spark, static, Similarity.ccRow(cents)), s"$root/v0")
    Similarity.GraphCells.write(
      Similarity.probeCellRows(static.select("vec_id", "e"), cents), s"$root/v0")

    // the corpus store the folds read their baseEmb from (CoW convention:
    // each drained batch appends its raw rows after its fold lands)
    val accDir = s"$root/corpus"
    Tables.embeddings(spark, sf).filter(col("vec_id") % 3 === 2)
      .select("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(accDir)

    // two fresh micro-batches, forced to drain separately
    val dir = java.nio.file.Files.createTempDirectory("vecstream_graph_src").toString
    Seq(0, 1).foreach { m =>
      Tables.embeddings(spark, sf).filter(col("vec_id") % 3 === m)
        .select("vec_id", "embedding").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    var ver = 0
    val q = spark.readStream.schema(VecStream.rawSchema)
      .option("pathGlobFilter", "*.parquet").option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val baseEmb = spark.read.parquet(accDir)
            .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e")
            .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
            .filter(col("nrm") > 0)
          VecStream.graphAppend(spark, baseEmb, s"$root/v$ver", batch, s"$root/v${ver + 1}")
          batch.select("vec_id", "embedding").coalesce(1)
            .write.mode("append").parquet(accDir)
          ver += 1
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(ver >= 2, s"expected ≥2 micro-batches, got $ver — maxFilesPerTrigger ignored?")

    def key(a: Array[org.apache.spark.sql.Row]) = a.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        ((r.getAs[Long]("outdeg"), r.getAs[Double]("cos_sim")))).toMap
    val streamed = key(Similarity.GraphEdges.read(spark, s"$root/v$ver").collect())
    // batch differential: one rebuild over the full union under the SAME
    // frozen quantizer — transitive equivalence across any batching
    val rebuilt = key(Similarity.knnEdgesScoredFrom(spark, allE,
      Similarity.ccRow(cents)).collect())
    assert(rebuilt.nonEmpty && streamed == rebuilt,
      s"streamed graph diverged: ${streamed.size} vs ${rebuilt.size} edges")
  }

  test("streamed lexical-index maintenance: micro-batch segments serve bit-for-bit like a one-shot full-corpus index") {
    val spark = TestSpark.spark
    import graft.ops.{Retrieval, TextOps}
    val all = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val static = all.filter(col("doc_id") % 3 === 2)
    val art = java.nio.file.Files.createTempDirectory("docstream_lex").toString + "/idx"

    // base segment from the static corpus (the one-time build)
    Retrieval.lexIndexSegment(
      static.select(col("doc_id"), split(col("text"), " ").as("w")), art, "seg0")

    // two fresh micro-batches, forced to drain separately; each folds in
    // as its own immutable segment named by batch id
    val dir = java.nio.file.Files.createTempDirectory("docstream_lex_src").toString
    Seq(0, 1).foreach { m =>
      all.filter(col("doc_id") % 3 === m).coalesce(1)
        .write.mode("append").parquet(dir)
    }
    var batches = 0
    val q = spark.readStream.schema(DocStream.rawSchema)
      .option("pathGlobFilter", "*.parquet").option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          DocStream.lexAppendBatch(spark, art, batch, s"seg_b$id")
          batches += 1
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 2, s"expected ≥2 micro-batches, got $batches")
    assert(graft.ops.Artifacts.segmentCount(spark, art) == batches + 1,
      "each micro-batch must land as its own immutable segment")

    // the q115 additivity identity, transitively across the batching:
    // streamed-segmented serve ≡ one-shot full-corpus index, bit-for-bit
    val qt = TextOps.queryTerms(spark, sf)
    val (tf, df, st) = Retrieval.lexIndexServe(spark, art)
    val streamed = TextOps.bm25RankedFrom(tf, df, st, qt).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val (rtf, rdf, rst) = TextOps.lexIndexOf(
      all.select(col("doc_id"), split(col("text"), " ").as("w")))
    val oneShot = TextOps.bm25RankedFrom(rtf, rdf, rst, qt).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(oneShot.nonEmpty && streamed == oneShot,
      s"streamed lexical serve diverged: ${streamed.size} vs ${oneShot.size} rows")
  }

  test("self-maintaining LSM: a forced 12-batch drain under the compaction policy ends ≤ tier segments, serve ≡ one-shot bit-for-bit") {
    val spark = TestSpark.spark
    import graft.ops.{Retrieval, RootPointer, TextOps}
    val all = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val base = java.nio.file.Files.createTempDirectory("docstream_policy").toString + "/idx"
    val maxSegs = 4
    // base segment, then 12 forced micro-batches folding in under the
    // size-tiered policy — the long-running-ingest shape the round-14
    // verdict flagged (without the trigger, this drain ends at 13 segments
    // and the serve-time df fold pays the measured +75%)
    Retrieval.lexIndexSegment(
      all.filter(col("doc_id") % 13 === 12)
        .select(col("doc_id"), split(col("text"), " ").as("w")), s"$base/v00001", "seg0")
    RootPointer.publish(spark, base, "v00001")
    val dir = java.nio.file.Files.createTempDirectory("docstream_policy_src").toString
    (0 to 11).foreach { m =>
      all.filter(col("doc_id") % 13 === m).coalesce(1)
        .write.mode("append").parquet(dir)
    }
    var batches = 0
    val q = spark.readStream.schema(DocStream.rawSchema)
      .option("pathGlobFilter", "*.parquet").option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          // append into the published root, then the versioned policy
          // between batches (one writer per base)
          DocStream.lexAppendBatch(spark, RootPointer.resolve(spark, base), batch, s"seg_b$id")
          Retrieval.maybeCompactLexVersioned(spark, base, maxSegs)
          batches += 1
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches == 12, s"expected 12 forced micro-batches, got $batches")
    val art = RootPointer.resolve(spark, base)
    val endSegs = Retrieval.lexSegmentCount(spark, art)
    assert(endSegs <= maxSegs,
      s"policy failed to hold the tier: $endSegs segments after the drain")
    assert(endSegs < batches + 1 && art != s"$base/v00001",
      "no compaction ever ran — the trigger is dead code")
    // the whole point of the exact additive merge: the self-maintained
    // artifact serves bit-for-bit like a one-shot full-corpus index
    val qt = TextOps.queryTerms(spark, sf)
    val (tf, df, st) = Retrieval.lexIndexServe(spark, art)
    val maintained = TextOps.bm25RankedFrom(tf, df, st, qt).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val (rtf, rdf, rst) = TextOps.lexIndexOf(
      all.select(col("doc_id"), split(col("text"), " ").as("w")))
    val oneShot = TextOps.bm25RankedFrom(rtf, rdf, rst, qt).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(oneShot.nonEmpty && maintained == oneShot,
      s"self-maintained serve diverged: ${maintained.size} vs ${oneShot.size} rows")
  }

  test("streamed tombstones: per-batch delete files serve bit-for-bit like one batch delete — and like a rebuild without the deleted docs") {
    val spark = TestSpark.spark
    import graft.ops.{Retrieval, TextOps}
    val all = Tables.documents(spark, sf)
    val art = java.nio.file.Files.createTempDirectory("docstream_tomb").toString + "/idx"
    Retrieval.lexIndexSegment(
      all.select(col("doc_id"), split(col("text"), " ").as("w")), art, "seg0")

    // the delete stream: ids arriving in micro-batches (forced separate)
    val delPred = col("doc_id") % 7 === 3 && col("doc_id") >= 5
    val dir = java.nio.file.Files.createTempDirectory("docstream_tomb_src").toString
    Seq(0, 1).foreach { m =>
      all.filter(delPred && col("doc_id") % 2 === m).select("doc_id")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    var batches = 0
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType))))
      .option("pathGlobFilter", "*.parquet").option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          DocStream.tombstoneBatch(spark, art, batch, s"t_b$id")
          batches += 1
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 2, s"expected ≥2 delete micro-batches, got $batches")

    val qt = TextOps.queryTerms(spark, sf)
    def rank(t: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)) =
      TextOps.bm25RankedFrom(t._1, t._2, t._3, qt).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = rank(Retrieval.lexIndexServeDel(spark, art))
    val rebuilt = rank(TextOps.lexIndexOf(
      all.filter(!delPred).select(col("doc_id"), split(col("text"), " ").as("w"))))
    assert(rebuilt.nonEmpty && streamed == rebuilt,
      s"streamed deletes diverged from rebuild-minus-deleted: ${streamed.size} vs ${rebuilt.size}")
  }

  test("streamed cluster maintenance: micro-batch label folds ≡ one-shot full recluster bit-for-bit") {
    val spark = TestSpark.spark
    import graft.ops.{Dedup => DD}
    val all = Tables.documents(spark, sf)
    val static = all.filter(col("doc_id") % 3 === 2)
    val root = java.nio.file.Files.createTempDirectory("docstream_cluster").toString
    // build-time artifacts: the ranked probe side + base labels
    val (ranked, btable) = DD.corpusArtifact(static)
    DocStream.ClusterRanked.write(ranked, s"$root/v0")
    DocStream.ClusterLabels.write(DD.clusterPairs(DD.jaccardPairs(DD.shingleDocs(static),
      threshold).select("a_id", "b_id")), s"$root/v0")
    // the remaining docs arrive as forced separate micro-batches
    val dir = java.nio.file.Files.createTempDirectory("docstream_cluster_src").toString
    Seq(0, 1).foreach { m =>
      all.filter(col("doc_id") % 3 === m).coalesce(1)
        .write.mode("append").parquet(dir)
    }
    var ver = 0
    val q = spark.readStream.schema(DocStream.rawSchema)
      .option("pathGlobFilter", "*.parquet").option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          DocStream.clusterAppendBatch(spark, s"$root/v$ver", btable, batch, threshold,
            s"$root/v${ver + 1}")
          ver += 1
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(ver >= 2, s"expected ≥2 micro-batches, got $ver")
    val streamed = DocStream.ClusterLabels.read(spark, s"$root/v$ver").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toSet
    val oneShot = DD.q53DedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oneShot.nonEmpty && streamed == oneShot,
      s"streamed labels diverged from the one-shot recluster: " +
        s"missing=${(oneShot -- streamed).take(3)} extra=${(streamed -- oneShot).take(3)}")
  }

  test("self-maintaining ANN ingest: a skewed append drain under the split policy splits the hot list; full-probe serve ≡ policy-free appends") {
    val spark = TestSpark.spark
    import graft.ops.{RootPointer, Similarity}
    graft.functions.VectorFunctions.register(spark)
    val all = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e")
    val static = all.filter(col("vec_id") % 5 =!= 0)
    // train on the full corpus (dense 0..k-1 seed ids — the LUT decode
    // assumes them), encode the static subset as the initial code table;
    // two identical artifacts: a versioned one drained under the policy,
    // and a policy-free plain root
    val (subs, seeds) = Similarity.subSplit(all)
    val (cents, books, _) = Similarity.ivfPqIndex(all, subs, seeds)
    val codes0 = Similarity.ivfPqAppend(cents, books, static)
    val base = java.nio.file.Files.createTempDirectory("vecstream_split").toString
    Seq(s"$base/polv/v00001", s"$base/ctl").foreach { r =>
      cents.write.parquet(s"$r/cents")
      books.write.parquet(s"$r/books")
      codes0.write.parquet(s"$r/codes")
    }
    RootPointer.publish(spark, s"$base/polv", "v00001")
    // skewed ingest: three batches of near-clones of one static vector —
    // every appended row routes to that vector's cell, which becomes the
    // hot list by construction
    val v0 = static.orderBy("vec_id").select("e").head().getSeq[Double](0)
    import spark.implicits._
    val batches = (0 until 3).map { b =>
      (0 until 20).map { i =>
        (100000L + b * 20 + i,
          v0.zipWithIndex.map { case (x, j) =>
            (x * (1.0 + (b * 20 + i + j) * 1e-4)).toFloat })
      }.toDF("vec_id", "embedding")
    }
    val embAll = all.unionByName(batches.reduce(_ unionByName _)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e"))
    batches.foreach { b =>
      VecStream.indexAppendBatch(b, RootPointer.resolve(spark, s"$base/polv"))
      Similarity.maybeMaintainIvfVersioned(spark, s"$base/polv", embAll,
        maxTombstones = 1, maxSharePpm = 180000)
      VecStream.indexAppendBatch(b, s"$base/ctl")
    }
    val pol = RootPointer.resolve(spark, s"$base/polv")
    // the policy fired: the maintained root carries more cells, every
    // routed cell has a centroid, and no list holds what the hot one would
    val nPol = spark.read.parquet(s"$pol/cents").count().toInt
    val nCtl = spark.read.parquet(s"$base/ctl/cents").count().toInt
    assert(nPol > nCtl, s"split policy never fired: $nPol vs $nCtl cells")
    val occ = spark.read.parquet(s"$pol/codes").groupBy("cell").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val centIds = spark.read.parquet(s"$pol/cents").select("cent_id")
      .collect().map(_.getLong(0)).toSet
    assert(occ.keySet.subsetOf(centIds),
      s"rows route to missing centroids: ${occ.keySet -- centIds}")
    val ctlOcc = spark.read.parquet(s"$base/ctl/codes").groupBy("cell").count()
      .collect().map(_.getLong(1))
    assert(occ.values.sum == ctlOcc.sum, "append mass diverged across roots")
    assert(occ.values.max < ctlOcc.max,
      s"hot list not lighter under the policy: ${occ.values.max} vs ${ctlOcc.max}")
    // routing-only: full-probe serving is bit-identical across the two
    // drains — ANY interleaving of appends and splits serves the same rows
    val queries = static.filter(col("vec_id") < 10).select("vec_id", "e")
    def serve(r: String, np: Int) = Similarity.ivfPqSearchFrom(
      spark.read.parquet(s"$r/cents"), spark.read.parquet(s"$r/books"),
      spark.read.parquet(s"$r/codes"), queries, nprobe = np)
      .collect().map(_.toString).toSeq
    val polServed = serve(pol, nPol)
    val ctl = serve(s"$base/ctl", nCtl)
    assert(polServed.nonEmpty && polServed == ctl,
      "full-probe serve diverged between the self-maintained and policy-free roots")
  }

  test("self-maintaining ANN ingest: the merge policy reclaims a dead list during the drain; full-probe serve ≡ policy-free appends") {
    val spark = TestSpark.spark
    import graft.ops.{RootPointer, Similarity}
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    val all = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e")
    val static = all.filter(col("vec_id") % 5 =!= 0)
    val (subs, seeds) = Similarity.subSplit(all)
    val (cents0, books, _) = Similarity.ivfPqIndex(all, subs, seeds)
    // plant a DEAD centroid far from every vector: a list no append will
    // ever route to — the q132 empty-cell finding, injected
    val dim = cents0.select("ce").head().getSeq[Double](0).size
    val cents = cents0.unionByName(
      Seq((999L, Seq.fill(dim)(1e6))).toDF("cent_id", "ce"))
    val codes0 = Similarity.ivfPqAppend(cents, books, static)
    val base = java.nio.file.Files.createTempDirectory("vecstream_merge").toString
    Seq(s"$base/polv/v00001", s"$base/ctl").foreach { r =>
      cents.write.parquet(s"$r/cents")
      books.write.parquet(s"$r/books")
      codes0.write.parquet(s"$r/codes")
    }
    RootPointer.publish(spark, s"$base/polv", "v00001")
    val v0 = static.orderBy("vec_id").select("e").head().getSeq[Double](0)
    val batches = (0 until 2).map { b =>
      (0 until 10).map { i =>
        (200000L + b * 10 + i,
          v0.zipWithIndex.map { case (x, j) =>
            (x * (1.0 + (b * 10 + i + j) * 1e-4)).toFloat })
      }.toDF("vec_id", "embedding")
    }
    val embAll = all.unionByName(batches.reduce(_ unionByName _)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e"))
    batches.foreach { b =>
      VecStream.indexAppendBatch(b, RootPointer.resolve(spark, s"$base/polv"))
      Similarity.maybeMaintainIvfVersioned(spark, s"$base/polv", embAll,
        maxTombstones = 1, maxSharePpm = 1000000L, minSharePpm = 1000)
      VecStream.indexAppendBatch(b, s"$base/ctl")
    }
    val pol = RootPointer.resolve(spark, s"$base/polv")
    // the merge fired: the dead centroid left the maintained root's cents
    // (pure metadata reclamation — no row ever routed there)
    val polIds = spark.read.parquet(s"$pol/cents").select("cent_id")
      .collect().map(_.getLong(0)).toSet
    val ctlIds = spark.read.parquet(s"$base/ctl/cents").select("cent_id")
      .collect().map(_.getLong(0)).toSet
    assert(ctlIds.contains(999L) && !polIds.contains(999L),
      s"merge policy never reclaimed the dead list: pol=$polIds")
    val polN = spark.read.parquet(s"$pol/codes").count()
    assert(polN == spark.read.parquet(s"$base/ctl/codes").count(),
      "append mass diverged across roots")
    // routing-only: full-probe serving is bit-identical across the drains
    val queries = static.filter(col("vec_id") < 10).select("vec_id", "e")
    def serve(r: String, np: Int) = Similarity.ivfPqSearchFrom(
      spark.read.parquet(s"$r/cents"), spark.read.parquet(s"$r/books"),
      spark.read.parquet(s"$r/codes"), queries, nprobe = np)
      .collect().map(_.toString).toSeq
    val polServed = serve(pol, polIds.size)
    val ctl = serve(s"$base/ctl", ctlIds.size)
    assert(polServed.nonEmpty && polServed == ctl,
      "full-probe serve diverged between the merge-maintained and policy-free roots")
  }

  test("streamed curation: per-batch rule bitmaps against a frozen snapshot equal the one-shot pass; every planted doc flags its rule") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.ops.Corpus
    val gram8 = (1 to 8).map(i => s"g$i").mkString(" ")
    val base = s"the ${(1 to 24).map(i => s"w$i").mkString(" ")}"
    val longBase = s"the ${(1 to 60).map(i => s"v$i").mkString(" ")}"
    val static = Seq((100L, base),
      (101L, s"the ${(1 to 24).map(i => s"s$i").mkString(" ")}"),
      (102L, longBase)).toDF("doc_id", "text")
    val evalDocs = Seq((900L, s"the eval doc holds $gram8 and padding words here"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (201L, Seq.fill(6)("der die das und").mkString(" ")), // !pass_lang
      (202L, "the tiny doc with only ten words in it total"), // !pass_quality
      (203L, base), // dup_exact (and trivially dup_near at J=1)
      (204L, s"the ${(1 to 23).map(i => s"w$i").mkString(" ")} zz"), // dup_near
      (205L, s"the $gram8 ${(1 to 12).map(i => s"y$i").mkString(" ")}"), // contaminated
      (206L, s"the ${(1 to 24).map(i => s"z$i").mkString(" ")}"), // kept
      // dup_excerpt: a 21-word contiguous slice of the 61-word static doc —
      // passes quality (≥ 20 words), Jaccard ≪ 0.6 (near-dup misses it),
      // containment = 1.0 against a strictly larger container
      (207L, longBase.split(" ").slice(0, 21).mkString(" ")))
      .toDF("doc_id", "text")

    // frozen snapshot state, prepared once
    val staticFps = static.select(md5(col("text")).as("fp")).distinct().cache()
    val (btable, index) = DocStream.nearDupIndex(static, threshold)
    val (_, containIdx) = DocStream.containmentIndex(static)
    val evalGrams = Corpus.decontGrams(
        evalDocs.select(col("doc_id"), split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= Corpus.DecontN))
      .select("g").distinct().cache()

    // one file per planted pair of docs -> a 3-micro-batch drain
    val dir = java.nio.file.Files.createTempDirectory("docstream_curate").toString
    Seq(Seq(201L, 204L), Seq(202L, 205L, 207L), Seq(203L, 206L)).foreach { ids =>
      fresh.filter(col("doc_id").isin(ids: _*))
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val outDir = java.nio.file.Files.createTempDirectory("docstream_curate_out").toString
    val q = spark.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
      .option("pathGlobFilter", "*.parquet").option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        DocStream.curateBatch(batch, staticFps, btable, index, threshold,
            evalGrams, containIndex = Some(containIdx))
          .coalesce(1).write.mode("append").parquet(outDir)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    def key(a: Array[org.apache.spark.sql.Row]) = a.map(r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Boolean]("pass_lang"),
        r.getAs[Boolean]("pass_quality"), r.getAs[Boolean]("dup_exact"),
        r.getAs[Boolean]("dup_near"), r.getAs[Boolean]("dup_excerpt"),
        r.getAs[Boolean]("contaminated"), r.getAs[Boolean]("kept")))).toMap
    val streamed = key(spark.read.parquet(outDir).collect())
    val oneShot = key(DocStream.curateBatch(
      fresh, staticFps, btable, index, threshold, evalGrams,
      containIndex = Some(containIdx)).collect())
    assert(streamed == oneShot, "batching changed the curation bitmap")
    // german fails BOTH gates: no 'en' stopwords means lang != en AND
    // stop_ratio = 0 < 0.01 (the quality rule is anglocentric by design —
    // q20's committed thresholds)
    assert(streamed(201L) == ((false, false, false, false, false, false, false)))
    assert(streamed(202L) == ((true, false, false, false, false, false, false)))
    // 203/204 carry dup_excerpt too: equal-size containment (203 IS the
    // base; 204's 21/23 shingles sit in it) — the ingest size rule flags
    // a same-size twin deliberately (the static side is the earlier doc)
    assert(streamed(203L) == ((true, true, true, true, true, false, false)))
    assert(streamed(204L) == ((true, true, false, true, true, false, false)))
    assert(streamed(205L) == ((true, true, false, false, false, true, false)))
    assert(streamed(206L) == ((true, true, false, false, false, false, true)))
    // the planted excerpt: ONLY the containment gate catches it
    assert(streamed(207L) == ((true, true, false, false, true, false, false)))
  }

  test("streamed tokenizer-drift monitor: per-batch OOV rows are exactly additive and the fallback algebra is right") {
    val spark = TestSpark.spark
    import spark.implicits._
    // frozen vocab {ab, abc, xy}: hand-walked fallbacks —
    //  'abcab'  -> [abc][ab]            0 fallbacks, 2 subwords
    //  'zabz'   -> [z][ab][z]           2 fallbacks, 3 subwords
    //  'qqq'    -> [q][q][q]            3 fallbacks, 3 subwords
    //  'xyab'   -> [xy][ab]             0 fallbacks, 2 subwords
    val vocab = Seq("ab", "abc", "xy").toDF("v")
    val lens = Seq(2, 3)
    val docs = Seq((1L, "abcab zabz"), (2L, "qqq xyab"))
    val dir = java.nio.file.Files.createTempDirectory("docstream_oov").toString
    docs.zipWithIndex.foreach { case ((id, text), i) =>
      Seq((id, text)).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val outDir = java.nio.file.Files.createTempDirectory("docstream_oov_out").toString
    val q = spark.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
      .option("pathGlobFilter", "*.parquet").option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        DocStream.vocabOovBatch(batch, vocab, lens)
          .coalesce(1).write.mode("append").parquet(outDir)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.read.parquet(outDir).collect()
    assert(rows.length == 2, "expected one monitor row per micro-batch")
    def tot(c: String) = rows.map(_.getAs[Long](c)).sum
    // streamed rows fold to the one-shot totals (additivity)
    val oneShot = DocStream.vocabOovBatch(docs.toDF("doc_id", "text"), vocab, lens)
      .head()
    assert((tot("n_docs"), tot("n_words"), tot("n_subwords"), tot("n_fallback")) ==
      ((oneShot.getLong(0), oneShot.getLong(1), oneShot.getLong(2), oneShot.getLong(3))))
    // and the hand-walked algebra
    assert(tot("n_docs") == 2 && tot("n_words") == 4)
    assert(tot("n_subwords") == 2 + 3 + 3 + 2, s"subwords ${tot("n_subwords")}")
    assert(tot("n_fallback") == 0 + 2 + 3 + 0, s"fallbacks ${tot("n_fallback")}")
  }

  test("streamed semantic decon: per-micro-batch flags against the frozen eval set equal the batch sweep exactly") {
    val spark = TestSpark.spark
    graft.functions.VectorFunctions.register(spark)
    val tau = 0.30
    val emb = Tables.spread(spark, Tables.embeddings(spark, sf), "vec_id")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
      .filter(col("nrm") > 0)
    val ev = emb.filter(col("vec_id") % 100 === 7)
    val train = Tables.embeddings(spark, sf).filter(col("vec_id") % 100 =!= 7)
      .select("vec_id", "embedding")

    // stage the train vectors as MULTIPLE stream files so the drain runs
    // several micro-batches (one file per batch under AvailableNow +
    // maxFilesPerTrigger); the flag must not depend on the batching
    val dir = java.nio.file.Files.createTempDirectory("vecstream_decon").toString
    (0 until 3).foreach { p =>
      train.filter(col("vec_id") % 3 === p).coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val outDir = java.nio.file.Files.createTempDirectory("vecstream_decon_out").toString
    val q = spark.readStream.schema(VecStream.rawSchema)
      .option("pathGlobFilter", "*.parquet").option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        VecStream.deconFlags(batch, ev, tau)
          .coalesce(1).write.mode("append").parquet(outDir)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    def key(a: Array[org.apache.spark.sql.Row]) = a.map(r =>
      r.getAs[Long]("vec_id") -> ((r.getAs[Long]("witness_eval_id"),
        r.getAs[Double]("max_sim"), r.getAs[Long]("n_over")))).toMap
    val streamed = key(spark.read.parquet(outDir).collect())
    val batch = key(graft.ops.Similarity.semanticDeconFrom(
      emb.filter(col("vec_id") % 100 =!= 7), ev, tau).collect())
    assert(batch.nonEmpty, "vacuous: no flagged vectors at tau=0.30")
    assert(streamed == batch,
      s"streamed decon flags diverged: ${streamed.size} vs ${batch.size}")
  }

  test("streamed containment gate catches a planted excerpt, equals the batch incremental path on fresh-vs-static") {
    val spark = TestSpark.spark
    import spark.implicits._
    val all = Tables.documents(spark, sf).select("doc_id", "text")
    val static = all.filter(col("doc_id") % 5 =!= 0)
    val fresh = all.filter(col("doc_id") % 5 === 0)
    // planted excerpts: the first 10 words of two long static docs — tiny
    // Jaccard against their sources, containment ≈ 1 (what this gate is FOR)
    val excerpts = static.filter(size(split(col("text"), " ")) >= 30)
      .orderBy("doc_id").limit(2).collect().map { r =>
        (r.getLong(0) + 4000000L, r.getString(1).split(" ").take(10).mkString(" "))
      }
    assert(excerpts.length == 2, "vacuous: not enough long static docs")
    val batch = fresh.unionByName(excerpts.toSeq.toDF("doc_id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("docstream_cont").toString
    batch
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val (btable, index) = DocStream.containmentIndex(static)
    val q = DocStream.containmentAgainst(DocStream.readDocs(spark, dir), btable, index, 0.8)
      .writeStream.format("memory").queryName("stream_containment")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("stream_containment").collect()
      .map(r => (r.getAs[Long]("fresh_id"), r.getAs[Long]("ex_id"),
        r.getAs[Double]("containment"))).toSet
    excerpts.foreach { case (eid, _) =>
      assert(got.exists(p => p._1 == eid && p._2 == eid - 4000000L),
        s"planted excerpt $eid not caught against its source")
    }
    // differential vs the batch incremental path over static ∪ batch,
    // restricted to fresh-vs-STATIC (the only pairs the stream probes)
    def isFresh(id: Long) = id % 5 == 0 || id >= 4000000L
    val expected = graft.ops.Dedup.incrementalContainment(
        graft.ops.Dedup.shingleDocs(static.unionByName(batch)),
        batch.select("doc_id"), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (_, b, _) => !isFresh(b) }.toSet
    assert(got == expected, s"got ${got.size}, expected ${expected.size}")
  }

  test("containment gate rehydrated from the q164 artifact equals the staticDocs-built gate") {
    // the stream-restart seam (round-18 verdict gap (d)): feeding the gate
    // from the persisted segment artifact must change NOTHING — the
    // persisted rank order differs from a fresh build's, and "any
    // consistent total order preserves prefix containment" is exactly the
    // claim this differential pins
    val spark = TestSpark.spark
    val sf = "/root/testdata/sf0.001"
    val all = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val static = all.filter(col("doc_id") % 5 =!= 0)
    val batch = all.filter(col("doc_id") % 5 === 0)
    val root = java.nio.file.Files.createTempDirectory("docstream_art").toString
    graft.ops.Dedup.containmentArtifactBuild(spark, s"$root/c", static)
    val (bt1, idx1) = DocStream.containmentIndex(static)
    val (bt2, idx2) = DocStream.containmentIndexFromArtifact(spark, s"$root/c")
    def pairs(bt: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Long])],
        idx: org.apache.spark.sql.DataFrame) =
      DocStream.excerptAgainst(batch, bt, idx, 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fromStatic = pairs(bt1, idx1)
    val fromArtifact = pairs(bt2, idx2)
    assert(fromArtifact == fromStatic && fromStatic.nonEmpty,
      s"artifact-fed gate diverged: ${fromArtifact.size} vs ${fromStatic.size}")
    idx1.unpersist(blocking = false); idx2.unpersist(blocking = false)
  }

  test("streamed OOV-retrain loop: a drained drift stream triggers exactly one retrain, any batching") {
    import graft.ops.TextOps
    val spark = TestSpark.spark
    import spark.implicits._
    // the foreachBatch wiring of maybeRetrainVocab — the caller's contract
    // from the policy doc: the trainer frame is corpus ∪ fresh (a
    // batch-only retrain would FORGET the corpus and thrash on the next
    // covered batch), so the sink appends each micro-batch to the corpus
    // dir and measures/retrains over the union. The claim is
    // batching-INVARIANT: however AvailableNow slices the three files,
    // exactly one retrain fires (the first union containing the drifted
    // batch), and the final published vocab covers the whole stream.
    def mkDocs(rows: Seq[(Long, String)]) = rows.map { case (id, t) =>
      (id, t, "en", s"src${id % 3}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val b0 = mkDocs(Seq((0L, "spark table spark table scan"), (1L, "table scan spark")))
    val b1 = mkDocs(Seq((2L, "zzqq zxzx zzqq zzqq"), (3L, "zxzx zzqq")))
    val b2 = mkDocs(Seq((4L, "spark scan table table")))
    val streamDir = java.nio.file.Files.createTempDirectory("oov_stream").toString
    val corpusDir = java.nio.file.Files.createTempDirectory("oov_corpus").toString
    val base = java.nio.file.Files.createTempDirectory("oov_vocab").toString
    // v1: trained on the pre-stream corpus shape (b0's vocabulary)
    TextOps.publishVocab(spark, base,
      TextOps.bpeTrainLocal(TextOps.wordFreqsOf(b0), 20).map(_._4).distinct.sorted)
    Seq(b0, b1, b2).foreach(_.coalesce(1).write.mode("append").parquet(streamDir))
    val retrains = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = DocStream.readDocs(spark, streamDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.coalesce(1).write.mode("append").parquet(corpusDir)
        if (TextOps.maybeRetrainVocab(spark, base,
            spark.read.parquet(corpusDir), maxOovPpm = 20000L, nMerges = 20))
          retrains.incrementAndGet()
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(retrains.get == 1,
      s"a drained drift stream must retrain exactly once, got ${retrains.get}")
    // the resolved vocab covers the full union: one more policy call is quiet
    assert(!TextOps.maybeRetrainVocab(spark, base,
      spark.read.parquet(corpusDir), maxOovPpm = 20000L, nMerges = 20),
      "the published vocab must cover the whole drained stream")
  }
}
