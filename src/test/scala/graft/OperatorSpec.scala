package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Artifacts, Dedup, Relational, Similarity}
import graft.multimodal.Multimodal
import graft.obs.Trace

/** Per-operator invariants on sf0.001 (the DuckDB oracle harness is the
  * authoritative value-level check; these specs guard semantics that the
  * oracle can't see, e.g. LSH ≡ exact equivalence). */
class OperatorSpec extends AnyFunSuite with CacheHygiene {
  private val sf = "/root/testdata/sf0.001"
  private def spark = TestSpark.spark

  /** The residual artifact trio (cents, books, codes) of `sf`, trained
    * ONCE per run and persisted to a temp dir; each residual case reads it
    * back and writes its own roots from it. */
  private lazy val residualTrioDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_resid_trio").toString
    val (cents, books, codes) = Similarity.residualPartsCached(spark, sf)
    Similarity.writeIvfArtifacts(dir, cents, books, codes)
    dir
  }

  private def residualTrio: (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = trio(residualTrioDir)

  /** The flat (q74) artifact trio of `sf`, trained ONCE per run the same
    * way: the flat cases read it back instead of retraining it. */
  private lazy val flatTrioDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_flat_trio").toString
    val (emb, subs, seedsPq) = Similarity.pqParts(spark, sf)
    val (cents, books, codes) = Similarity.ivfPqIndex(emb, subs, seedsPq)
    Similarity.writeIvfArtifacts(dir, cents, books, codes)
    dir
  }

  private def flatTrio: (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = trio(flatTrioDir)

  private def trio(root: String) = (Similarity.IvfCents.read(spark, root),
    Similarity.IvfBooks.read(spark, root), Similarity.IvfCodes.read(spark, root))

  test("every catalog query runs and has a deterministic schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, name)
      assert(df.count() >= 0, name)
    }
  }

  test("oracleSql covers every query") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("flagship entry has rows and really composes join+window+as-of") {
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    assert(rows.nonEmpty, "driver smoke gate needs rows>0 at sf0.001")
    // every row: as-of gap within the 1h bound, rank within the top-5 cut
    rows.foreach { r =>
      val gap = r.getLong(r.fieldIndex("gap_s"))
      assert(gap >= 0 && gap <= 3600, r.toString)
      assert(r.getInt(r.fieldIndex("nation_rnk")) <= 5, r.toString)
    }
    // the single plan contains the claimed shape: ≥2 joins (as-of + star
    // dims), a window, and broadcast dimension sides
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan.take(500))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(500))
  }

  test("sketch stats: approx distinct and quantile within 5% of exact") {
    val rows = graft.ops.Corpus.sketchStatsRaw(spark, sf).collect()
    assert(rows.nonEmpty)
    // exact medians computed from the raw table (driver-side; the gate SF is
    // small) — the query itself intentionally carries only the sketch
    val exactMedians = Tables.orders(spark, sf)
      .select("o_orderpriority", "o_totalprice").collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) =>
        val v = rs.map(_.getDouble(1)).sorted
        val m = if (v.length % 2 == 1) v(v.length / 2)
                else (v(v.length / 2 - 1) + v(v.length / 2)) / 2.0
        k -> m
      }
    rows.foreach { r =>
      val ac = r.getAs[Long]("approx_custs").toDouble
      val ec = r.getAs[Long]("exact_custs").toDouble
      assert(math.abs(ac - ec) / ec <= 0.05, s"distinct sketch off: $ac vs $ec")
      val pa = r.getAs[Double]("p50_approx")
      val pe = exactMedians(r.getAs[String]("o_orderpriority"))
      assert(math.abs(pa - pe) / math.abs(pe) <= 0.05, s"quantile sketch off: $pa vs $pe")
    }
  }

  test("train split: buckets in [0,100), split matches bucket, deterministic") {
    val rows = graft.ops.Corpus.q36TrainSplit(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= 0 && b < 100)
      val expected = if (b < 90) "train" else if (b < 95) "val" else "test"
      assert(r.getAs[String]("split") == expected)
    }
    val again = graft.ops.Corpus.q36TrainSplit(spark, sf).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("sessionize: ids start at 1 and increment, events partition exactly") {
    val sess = graft.ops.Corpus.q37Sessionize(spark, sf).collect()
    assert(sess.nonEmpty)
    sess.groupBy(_.getAs[Long]("user_id")).values.foreach { rs =>
      val ids = rs.map(_.getAs[Long]("session_id")).sorted
      assert(ids.toSeq == (1L to ids.length).toSeq)
    }
    sess.foreach { r =>
      assert(r.getAs[Long]("n_events") >= 1)
      assert(r.getAs[Long]("duration_s") ==
        r.getAs[Long]("end_s") - r.getAs[Long]("start_s"))
    }
    // every event lands in exactly one session
    assert(sess.map(_.getAs[Long]("n_events")).sum ==
      Tables.events(spark, sf).count())
  }

  test("sessionize equals brute force on random event streams") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // bursts around the gap boundary: gaps drawn near 60s so sessions break
    // and continue unpredictably; duplicate-second timestamps included
    val events = (0 until 50).flatMap { u =>
      var t = rnd.nextInt(1000).toLong
      (0 until rnd.nextInt(40)).map { i =>
        t += (rnd.nextInt(4) match {
          case 0 => rnd.nextInt(3)            // same/near second
          case 1 => 30 + rnd.nextInt(40)      // straddles nothing
          case _ => 50 + rnd.nextInt(30)      // straddles the 60s gap
        }).toLong
        (u.toLong * 10000 + i, t * 1000000000L, u.toLong)
      }
    }
    val df = events.toDF("event_id", "ts_ns", "user_id")
    val got = graft.ops.Corpus.sessionize(df, 60L).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
        r.getAs[Long]("n_events"), r.getAs[Long]("start_s"), r.getAs[Long]("end_s")))
      .toSeq.sorted
    val expected = events.groupBy(_._3).toSeq.flatMap { case (u, evs) =>
      val ts = evs.sortBy(e => (e._2, e._1)).map(_._2 / 1000000000L)
      val sessions = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
      ts.foreach { t =>
        if (sessions.nonEmpty && t - sessions.last.last <= 60L)
          sessions(sessions.length - 1) = sessions.last :+ t
        else sessions += Seq(t)
      }
      sessions.zipWithIndex.map { case (sess, i) =>
        (u, (i + 1).toLong, sess.length.toLong, sess.min, sess.max)
      }
    }.sorted
    assert(got == expected)
  }

  test("as-of join: one row per event, gap within window, prev precedes") {
    val res = Relational.q15AsofJoin(spark, sf).collect()
    assert(res.map(_.getLong(0)).distinct.length == res.length)
    assert(res.forall { r => val g = r.getAs[Long]("gap_s"); g >= 0 && g <= 3600 })
  }

  test("SRP-LSH-prefiltered embedding dedup equals brute force at every gate SF") {
    graft.functions.VectorFunctions.register(spark)
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1").foreach { d =>
      val got = graft.ops.Dedup.q27DedupEmbed(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      // sf0.1 is the only SF with qualifying pairs — if testdata ever changes
      // to zero, the recall comparison below degenerates to empty==empty and
      // this test would pass while proving nothing. Fail loudly instead.
      if (d.endsWith("sf0.1"))
        assert(got.nonEmpty, s"$d: recall evidence vacuous — no qualifying pairs")
      // brute force: the n² nested-loop compare the LSH prefilter replaced —
      // kept here as the recall oracle (the DuckDB gate only sees sf0.01,
      // which has zero qualifying pairs; sf0.1 is where recall is at stake)
      val emb = Tables.embeddings(spark, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
      val a = emb.select(col("vec_id").as("a_id"), col("e").as("ea"), col("nrm").as("na"))
      val b = emb.select(col("vec_id").as("b_id"), col("e").as("eb"), col("nrm").as("nb"))
      val cos = round(expr("graft_dot(ea, eb)") / (col("na") * col("nb")), 6)
      val bf = a.join(b, col("a_id") < col("b_id") && cos >= 0.57)
        .withColumn("cos_sim", cos).select("a_id", "b_id", "cos_sim")
        .orderBy("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == bf, s"$d: LSH-prefiltered result diverges from brute force")
    }
  }

  test("every chunk past the first contributes words beyond the overlap") {
    val rows = graft.ops.TextOps.q48Chunk(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.filter(_.getAs[Long]("chunk_start") > 1).foreach { r =>
      assert(r.getAs[Long]("n_chunk_words") > 10,
        s"redundant tail chunk: $r")  // 10 = ChunkWords - ChunkStride overlap
    }
  }

  test("corpus clean output is identical with the collapsed-pair path") {
    val plain = graft.ops.Corpus.q34CorpusClean(spark, sf).collect().map(_.toSeq).toSeq
    val collapsed = graft.ops.Corpus.corpusClean(spark, sf, collapseExact = true)
      .collect().map(_.toSeq).toSeq
    assert(plain == collapsed)
  }

  test("native expressions survive repeated use in one codegen scope") {
    // non-nullable children make nullSafeCodeGen emit no scoping braces —
    // fixed local names would collide (Janino error → interpreted fallback).
    // fallback=false turns that silent regression into a test failure.
    graft.functions.VectorFunctions.register(spark)
    graft.functions.VectorFunctions.registerSrp(spark, "graft_srp_buckets_cg",
      graft.ops.Similarity.srpPlanes(8).flatten.toSeq, 2, 4)
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      val row = spark.sql(
        """SELECT graft_dot(a, a) AS d1, graft_dot(b, b) AS d2,
          |       graft_srp_buckets_cg(a) AS s1, graft_srp_buckets_cg(b) AS s2
          |FROM (SELECT CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>) AS a,
          |             CAST(array(3.0, 4.0) AS ARRAY<DOUBLE>) AS b)""".stripMargin)
        .head()
      assert(row.getDouble(0) == 5.0 && row.getDouble(1) == 25.0)
      assert(row.getSeq[Int](2).length == 2 && row.getSeq[Int](3).length == 2)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("registerSrp: identical re-registration no-ops, conflicting one throws") {
    val planesA = graft.ops.Similarity.srpPlanes(8).flatten.toSeq
    graft.functions.VectorFunctions.registerSrp(spark, "graft_srp_rebind", planesA, 2, 4)
    // idempotent for identical parameters
    graft.functions.VectorFunctions.registerSrp(spark, "graft_srp_rebind", planesA, 2, 4)
    // a different plane matrix (or tables/bits) under the same name would
    // silently keep the OLD math bound — must fail loudly instead
    val planesB = planesA.map(_ * 2.0 + 1.0)
    val e = intercept[IllegalArgumentException] {
      graft.functions.VectorFunctions.registerSrp(spark, "graft_srp_rebind", planesB, 2, 4)
    }
    assert(e.getMessage.contains("graft_srp_rebind"))
    intercept[IllegalArgumentException] {
      graft.functions.VectorFunctions.registerSrp(spark, "graft_srp_rebind", planesA, 4, 8)
    }
  }

  test("cluster assignment equals union-find on random graphs incl. chains") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    (1 to 5).foreach { trial =>
      val n = 30 + rnd.nextInt(40)
      val pairs = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      // random edges plus one long chain (worst-case diameter for the
      // propagation loop)
      (1 to n).foreach { _ =>
        val a = rnd.nextInt(n); val b = rnd.nextInt(n)
        if (a != b) pairs += ((math.min(a, b).toLong, math.max(a, b).toLong))
      }
      (100L until 120L).sliding(2).foreach { w => pairs += ((w(0), w(1))) }
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(x => x -> find(x)).toMap
      val got = Dedup.clusterPairs(pairs.toSeq.toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial: $got vs $expected")
    }
  }

  test("cluster assignment is exact on a power-law mix: a long chain, a mega-star hub, many small stars") {
    // the adversarial shape at small scale: the 40-node chain outlasts the
    // 12-round min-label cap, so the whole graph's labels come from the
    // large-star/small-star fallback, hub and small stars included
    val s = spark
    import s.implicits._
    val (hub, smallBase) = (1000L, 10000L)
    val chain = (1L until 40L).map(i => (i - 1, i))
    val mega = (1L to 500L).map(i => (hub, hub + i))
    val small = (0L until 50L).flatMap { c =>
      (1L until 8L).map(i => (smallBase + c * 100L, smallBase + c * 100L + i))
    }
    val got = Dedup.clusterPairs((chain ++ mega ++ small).toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    def expected(d: Long): Long =
      if (d < 40L) 0L else if (d < smallBase) hub else (d / 100L) * 100L
    assert(got.length == 40 + 501 + 50 * 8)
    assert(got.forall { case (d, c) => c == expected(d) },
      got.filter { case (d, c) => c != expected(d) }.take(5).mkString(", "))
  }

  test("incremental dedup equals full-corpus pairs restricted to the fresh batch") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(67)
    val vocab = (0 until 50).map(i => s"v$i")
    // near-dup corpus: bases + mutated/byte-identical copies, so plenty of
    // pairs land existing×fresh, fresh×fresh, and existing×existing
    val texts = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    var id = 0L
    (1 to 30).foreach { _ =>
      val base = Seq.fill(12 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
      (0 to 1 + rnd.nextInt(3)).foreach { _ =>
        // light mutation (~7% of words) keeps trigram Jaccard straddling 0.6
        val words = base.flatMap { w =>
          if (rnd.nextInt(30) == 0) None
          else if (rnd.nextInt(30) == 1) Some(vocab(rnd.nextInt(vocab.size)))
          else Some(w)
        }
        texts += ((id, words.mkString(" "))); id += 1
      }
    }
    val docs = texts.toSeq.toDF("doc_id", "text")
    val shingledAll = Dedup.shingleDocs(docs)
    val freshIds = docs.filter(col("doc_id") % 3 === 0).select("doc_id")
    val fresh = freshIds.collect().map(_.getLong(0)).toSet
    val full = Dedup.jaccardPairs(shingledAll, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = full.filter(p => fresh(p._1) || fresh(p._2)).toSeq
    val got = Dedup.incrementalJaccardPairs(shingledAll, freshIds, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(expected.nonEmpty && expected.size < full.length,
      s"corpus must exercise both kept and skipped pairs (${expected.size}/${full.length})")
    assert(got == expected, s"got ${got.size} vs expected ${expected.size}")
  }

  test("incrementalFrom on persisted corpus artifacts equals the batch incremental path") {
    // steady-state shape: corpus ranked ONCE, artifact through a parquet
    // round-trip, fresh batch raw. The two paths rank by DIFFERENT df
    // tables (corpus-only vs combined) — both consistent total orders, so
    // both are exact and the verified pair sets must be identical,
    // fresh×fresh included.
    val all = Tables.documents(spark, sf).select("doc_id", "text")
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val fresh = all.filter(col("doc_id") % 5 === 0)
    val (ranked, btable) = Dedup.corpusArtifact(corpus)
    val dir = java.nio.file.Files.createTempDirectory("corpus_art").toString
    ranked.write.mode("overwrite").parquet(dir)
    val got = Dedup.incrementalFrom(spark.read.parquet(dir), btable, fresh, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val expected = Dedup.incrementalJaccardPairs(
        Dedup.shingleDocs(all), fresh.select("doc_id"), 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(expected.nonEmpty, "vacuous: no fresh-member pairs at sf0.001")
    assert(got == expected, s"got ${got.size} vs expected ${expected.size}")
  }

  test("minhash+LSH dedup equals exact n-gram jaccard dedup") {
    val exact = Dedup.q24DedupNgram(spark, sf).collect().map(_.toSeq)
    val lsh = Dedup.q25DedupMinhash(spark, sf).collect().map(_.toSeq)
    assert(lsh.toSeq == exact.toSeq)
  }

  test("prefix-filtered jaccard pairs equal brute force on random near-dup corpora") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 60).map(i => s"w$i")
    // near-dup corpus: base docs plus mutated copies (drop/replace words) so
    // plenty of pairs straddle each threshold
    val texts = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    var id = 0L
    (1 to 40).foreach { _ =>
      val base = Seq.fill(5 + rnd.nextInt(26))(vocab(rnd.nextInt(vocab.size)))
      // exact-duplicate cluster: byte-identical copies exercise the
      // collapse/expansion fast path (intra J=1 pairs, inherited inter pairs)
      (0 to rnd.nextInt(3)).foreach { _ =>
        texts += ((id, base.mkString(" "))); id += 1
      }
      (0 to rnd.nextInt(4)).foreach { _ =>
        val mutated = base.flatMap { w =>
          rnd.nextInt(10) match {
            case 0 => Nil                                     // drop
            case 1 => Seq(vocab(rnd.nextInt(vocab.size)))     // replace
            case _ => Seq(w)
          }
        }
        if (mutated.size >= 3) { texts += ((id, mutated.mkString(" "))); id += 1 }
      }
    }
    def shingleSet(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val docs = texts.toSeq.toDF("doc_id", "text")
    Seq(0.3, 0.5, 0.6, 0.8).foreach { t =>
      val gotPlain = Dedup.jaccardPairs(Dedup.shingleDocs(docs), t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val got = Dedup.collapsedJaccardPairs(docs, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(gotPlain == got, s"threshold $t: plain and collapsed disagree")
      val expected = (for {
        (ia, ta) <- texts; (ib, tb) <- texts if ia < ib
        sa = shingleSet(ta); sb = shingleSet(tb)
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter)
        if j >= t
      } yield (ia, ib, j)).toSet
      assert(got == expected, s"threshold $t: got ${got.size}, expected ${expected.size}")
    }
  }

  test("simhash pairs all within hamming 3 and symmetric-free (a<b)") {
    val rows = Dedup.q26DedupSimhash(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("hamming") <= 3))
    assert(rows.forall(r => r.getAs[Long]("a_id") < r.getAs[Long]("b_id")))
  }

  test("edit-distance dedup equals brute force when edits stay mid-string") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(41)
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    // corpus where every mutation lands strictly between the head-16 and
    // tail-16 blocking windows — there the prefix/suffix blocking guarantee
    // is total, so blocked == brute force exactly
    val texts = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    var id = 0L
    (1 to 30).foreach { _ =>
      val base = Seq.fill(60 + rnd.nextInt(40))(alpha(rnd.nextInt(26))).mkString
      texts += ((id, base)); id += 1
      (0 to rnd.nextInt(3)).foreach { _ =>
        val nEdits = rnd.nextInt(12) // some pairs exceed the max-dist cut
        val chars = base.toCharArray
        (1 to nEdits).foreach { _ =>
          chars(16 + rnd.nextInt(chars.length - 32)) = alpha(rnd.nextInt(26))
        }
        texts += ((id, new String(chars))); id += 1
      }
    }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val got = Dedup.editPairs(texts.toSeq.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = (for {
      (ia, ta) <- texts; (ib, tb) <- texts if ia < ib
      d = lev(ta, tb) if d <= Dedup.EditMaxDist
    } yield (ia, ib, d.toLong)).toSet
    assert(got == expected, s"got ${got.size}, expected ${expected.size}")
    assert(expected.nonEmpty, "vacuous: no pairs under the threshold")
    assert(expected.exists(_._3 > 0), "vacuous: only exact-dup pairs")
  }

  test("edit-distance dedup on testdata: subset of brute force, exact dups found") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val got = Dedup.q59EditDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty, "vacuous: no pairs at sf0.001")
    // every reported pair is genuine (distance re-checked via Spark's own
    // levenshtein is what produced it; here re-check the blocking invariant:
    // reported pairs share a head or tail block)
    val byId = docs.toMap
    got.foreach { case (a, b, d) =>
      val (ta, tb) = (byId(a), byId(b))
      assert(d <= Dedup.EditMaxDist)
      assert(ta.take(16) == tb.take(16) || ta.takeRight(16) == tb.takeRight(16),
        s"pair ($a,$b) shares no blocking key")
    }
    // exact duplicates have dist 0 and identical blocks — all must be found
    val exactPairs = docs.groupBy(_._2).values.filter(_.length > 1)
      .flatMap(g => g.map(_._1).sorted.combinations(2).map(p => (p(0), p(1), 0L))).toSet
    assert(exactPairs.subsetOf(got), "missed an exact-duplicate pair")
  }

  test("substring spans: every span is a maximal ≥SpanN-word run with consistent gram count") {
    val rows = Dedup.q57SubstrSpans(spark, sf).collect()
    assert(rows.nonEmpty, "vacuous: no repeated spans at sf0.001")
    rows.foreach { r =>
      val (s0, s1, n) = (r.getAs[Long]("span_start"), r.getAs[Long]("span_end"), r.getAs[Long]("n_grams"))
      assert(s1 - s0 + 1 >= Dedup.SpanN, r.toString)      // at least one gram's width
      assert(n == s1 - s0 - Dedup.SpanN + 2, r.toString)  // consecutive starts, maximal run
    }
    // spans within a doc never overlap (they would have merged)
    rows.groupBy(_.getAs[Long]("doc_id")).values.foreach { spans =>
      val sorted = spans.map(r => (r.getAs[Long]("span_start"), r.getAs[Long]("span_end"))).sortBy(_._1).toSeq
      sorted.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(s2 > e1 + 1, s"adjacent spans not merged: $sorted")
        case _ =>
      }
    }
  }

  test("canonical selection: keeper is a member with max tokens, members conserved") {
    val clusters = Dedup.q53DedupClusters(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
    val byCluster = clusters.groupBy(_._2).map { case (c, ms) => c -> ms.map(_._1).toSet }
    val canon = Dedup.q61Canonical(spark, sf).collect()
    assert(canon.nonEmpty, "vacuous: no clusters at sf0.001")
    assert(canon.length == byCluster.size, "one keeper per cluster")
    assert(canon.map(_.getAs[Long]("n_members")).sum == clusters.length,
      "members must be conserved across keepers")
    canon.foreach { r =>
      val c = r.getAs[Long]("cluster_id")
      assert(byCluster(c).contains(r.getAs[Long]("keep_id")),
        s"cluster $c keeper not a member")
      assert(r.getAs[Long]("n_members") == byCluster(c).size.toLong, s"cluster $c size")
    }
  }

  test("canonicalFrom on a persisted cluster table equals the catalog q61 output") {
    // the pipeline shape the q61 scaladoc promises: q53's clusters persisted
    // once, selection re-run from the artifact — no pair regeneration
    val dir = java.nio.file.Files.createTempDirectory("clusters").toString
    Dedup.q53DedupClusters(spark, sf).write.mode("overwrite").parquet(dir)
    val got = Dedup.canonicalFrom(spark.read.parquet(dir),
      Tables.spread(spark, Tables.documents(spark, sf), "doc_id"))
      .collect().map(_.toSeq).toSeq
    val expected = Dedup.q61Canonical(spark, sf).collect().map(_.toSeq).toSeq
    assert(expected.nonEmpty && got == expected)
  }

  test("substr clean: removal count equals span mass, untouched docs keep their text hash") {
    val spans = Dedup.q57SubstrSpans(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (doc, rs) =>
        doc -> rs.map(r => r.getAs[Long]("span_end") - r.getAs[Long]("span_start") + 1).sum
      }
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val cleaned = Dedup.q60SubstrClean(spark, sf).collect()
    assert(cleaned.length == docs.size, "q60 must emit one row per document")
    cleaned.foreach { r =>
      val doc = r.getAs[Long]("doc_id")
      val removed = r.getAs[Long]("n_removed")
      assert(removed == spans.getOrElse(doc, 0L), s"doc $doc removed $removed")
      if (!spans.contains(doc)) {
        val fp = java.security.MessageDigest.getInstance("MD5")
          .digest(docs(doc).getBytes("UTF-8")).map("%02x".format(_)).mkString
        assert(r.getAs[String]("clean_fp") == fp, s"doc $doc text changed without spans")
      }
    }
    assert(spans.nonEmpty, "vacuous: no spans to apply at sf0.001")
  }

  test("tfidf: ranks 1..3, rank-1 term carries the doc's max tf") {
    val s = spark
    val rows = graft.ops.TextOps.q56Tfidf(s, sf).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    // exact per-doc max tf recomputed driver-side from the raw table
    val maxTf = Tables.documents(s, sf).select("doc_id", "text").collect().map { r =>
      val counts = r.getString(1).split(" ", -1).groupBy(identity).map(_._2.length)
      r.getLong(0) -> counts.max
    }.toMap
    byDoc.foreach { case (doc, rs) =>
      val ranks = rs.map(_.getAs[Long]("rnk")).sorted.toSeq
      assert(ranks == (1L to ranks.length).toSeq, s"doc $doc ranks $ranks")
      val top = rs.find(_.getAs[Long]("rnk") == 1L).get
      assert(top.getAs[Long]("tf") == maxTf(doc), s"doc $doc top tf")
    }
  }

  test("q71: lloyd trainer inertia strictly decreases; every vector assigned each round") {
    val rows = Similarity.q71LloydTrained(spark, sf).collect()
    val byRound = rows.groupBy(_.getAs[Long]("round"))
    assert(byRound.keySet == Set(1L, 2L, 3L))
    val inertia = byRound.view.mapValues(_.map(_.getAs[Long]("inertia_fixed")).sum).toMap
    assert(inertia(1L) > inertia(2L) && inertia(2L) > inertia(3L),
      s"inertia not descending: $inertia")
    val assigned = byRound.view.mapValues(_.map(_.getAs[Long]("n_members")).sum).toMap
    assert(assigned.values.toSet.size == 1, s"rounds assign different totals: $assigned")
    assert(assigned(1L) > 0)
  }

  test("q72: codes and errors match an independent driver-side reimplementation") {
    // NOT the DuckDB oracle (which shares the formula): a from-scratch
    // plain-Scala PQ — same op ORDER (left-to-right dots, the ‖x−c‖²
    // expansion, fixed-point means as floor-sum/n/scale), zero shared code.
    // Bit-equality here proves the Catalyst expression pipeline computes
    // exactly the arithmetic the scaladoc claims.
    val rows = Tables.spread(spark, Tables.embeddings(spark, sf), "vec_id")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    val (em, es, ek, scale) = (8, 8, 8, 1000000L)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def d2(a: Array[Double], b: Array[Double]): Double =
      dot(a, a) - 2 * dot(a, b) + dot(b, b)
    def slices(e: Array[Double]): Array[Array[Double]] =
      Array.tabulate(em)(m => e.slice(m * es, m * es + es))
    val seeds = Array.tabulate(em, ek)((m, k) => slices(rows(k)._2)(m))
    val asg0 = rows.map { case (_, e) =>
      slices(e).zipWithIndex.map { case (se, m) =>
        (0 until ek).minBy(k => (d2(se, seeds(m)(k)), k)) } }
    val cents = Array.tabulate(em, ek) { (m, k) =>
      val members = rows.indices.filter(i => asg0(i)(m) == k)
      if (members.isEmpty) seeds(m)(k)
      else Array.tabulate(es) { i =>
        val fs = members.map(j => math.floor(slices(rows(j)._2)(m)(i) * scale).toLong).sum
        (fs.toDouble / members.size) / scale
      }
    }
    val expected = rows.map { case (id, e) =>
      val enc = slices(e).zipWithIndex.map { case (se, m) =>
        val k = (0 until ek).minBy(k => (d2(se, cents(m)(k)), k))
        (k, d2(se, cents(m)(k)))
      }
      val fp = java.security.MessageDigest.getInstance("MD5")
        .digest(enc.map(_._1).mkString(",").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (id, fp, enc.map(t => math.floor(t._2 * scale).toLong).sum)
    }.toSeq
    val got = Similarity.q72PqEncode(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[String]("code_fp"),
        r.getAs[Long]("err_fixed"))).toSeq
    assert(got.nonEmpty && got == expected)

    // same independence argument for the ADC READ path (q73): LUT terms,
    // integer summation, and (adc, neighbor_id) ranking recomputed from
    // the driver-side codebooks above, zero shared code with the engine
    val codesById = expected.map { case (id, _, _) => id }.zip(rows.map { case (_, e) =>
      slices(e).zipWithIndex.map { case (se, m) =>
        (0 until ek).minBy(k => (d2(se, cents(m)(k)), k)) } }).toMap
    val adcExpected = rows.take(10).flatMap { case (qid, qe) =>
      val lut = slices(qe).zipWithIndex.map { case (se, m) =>
        Array.tabulate(ek)(k => math.floor(d2(se, cents(m)(k)) * scale).toLong) }
      rows.collect { case (nid, _) if nid != qid =>
        val code = codesById(nid)
        (nid, (0 until em).map(m => lut(m)(code(m))).sum)
      }.sortBy { case (nid, d) => (d, nid) }.take(5).zipWithIndex
        .map { case ((nid, d), i) => (qid, nid, d, (i + 1).toLong) }
    }.toSeq
    val adcGot = Similarity.q73AdcTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("adc_fixed"), r.getAs[Long]("rn"))).toSeq
    assert(adcGot.nonEmpty && adcGot == adcExpected)
  }

  test("q72: PQ training lowers total reconstruction error vs seed codebooks") {
    val trained = Similarity.q72PqEncode(spark, sf).collect()
    val seeded = Similarity.pqEncodeSeeded(spark, sf).collect()
    assert(trained.nonEmpty && trained.length == seeded.length)
    val tErr = trained.map(_.getAs[Long]("err_fixed")).sum
    val sErr = seeded.map(_.getAs[Long]("err_fixed")).sum
    assert(tErr < sErr, s"training did not help: $tErr vs $sErr")
    trained.foreach(r => assert(r.getAs[Long]("err_fixed") >= 0L))
  }

  test("q73: ADC ranking well-formed, recall vs exact euclidean top-k above floor") {
    val rows = Similarity.q73AdcTopk(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rn"))
      assert(sorted.map(_.getAs[Long]("rn")).toSeq == (1L to sorted.length),
        s"query $q ranks")
      // adc distance non-decreasing in rank
      val ds = sorted.map(_.getAs[Long]("adc_fixed")).toSeq
      assert(ds == ds.sorted, s"query $q adc order")
    }
    // quality: ADC top-k against EXACT euclidean top-k (what ADC
    // approximates), computed driver-side at sf0.001 scale
    val emb = Tables.spread(spark, Tables.embeddings(spark, sf), "vec_id")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val recalls = byQ.map { case (q, rs) =>
      val exact = emb.keys.filter(_ != q).toSeq
        .sortBy(n => (d2(emb(q), emb(n)), n)).take(rs.length).toSet
      rs.count(r => exact.contains(r.getAs[Long]("neighbor_id"))).toDouble / rs.length
    }
    val mean = recalls.sum / recalls.size
    // 8×8 PQ on unstructured gaussians is the hardest case for ADC; the
    // floor is far below measured so only a real regression trips it
    assert(mean >= 0.2, s"mean ADC recall $mean")
  }

  test("q74: IVF pruning real; ADC distances agree exactly with the flat q73 scan") {
    val ivfpq = Similarity.q74IvfPqTopk(spark, sf).collect()
    val flat = Similarity.q73AdcTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Long]("adc_fixed")).toMap
    assert(ivfpq.nonEmpty)
    val nVecs = Tables.embeddings(spark, sf).count()
    ivfpq.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      // pruning: the nprobe cells scanned strictly fewer than the corpus
      val nCand = rs.map(_.getAs[Long]("n_cand")).distinct
      assert(nCand.length == 1 && nCand.head < nVecs - 1, s"query $q n_cand $nCand vs $nVecs")
      assert(rs.map(_.getAs[Long]("rn")).sorted.toSeq == (1L to rs.length), s"query $q ranks")
    }
    // same codebooks + same LUT arithmetic ⇒ any pair surfacing in both
    // rankings must carry the IDENTICAL integer distance
    ivfpq.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      flat.get(key).foreach(d =>
        assert(d == r.getAs[Long]("adc_fixed"), s"$key adc mismatch"))
    }
  }

  test("q74 artifacts: parquet round-trip serves bit-identically; append equals rebuild") {
    val (emb, subs, seedsPq) = Similarity.pqParts(spark, sf)
    val (cents, books, codeTable) = Similarity.ivfPqIndex(emb, subs, seedsPq)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_idx").toString
    try {
      Similarity.writeIvfArtifacts(dir, cents, books, codeTable)
      val pc = spark.read.parquet(s"$dir/cents")
      val pb = spark.read.parquet(s"$dir/books")
      val pt = spark.read.parquet(s"$dir/codes")
      // serving from the PERSISTED artifacts (no retraining, corpus
      // embeddings unread) must be bit-identical to the self-contained
      // catalog query — doubles survive parquet exactly, and the whole
      // downstream ranking is integer
      val queries = emb.filter(col("vec_id") < 10).select("vec_id", "e")
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("query_id"), r.getAs[Long]("rn"))
      val served = Similarity.ivfPqSearchFrom(pc, pb, pt, queries).collect()
        .map(r => key(r) -> (r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_fixed"),
          r.getAs[Long]("n_cand"))).toMap
      val direct = Similarity.q74IvfPqTopk(spark, sf).collect()
        .map(r => key(r) -> (r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_fixed"),
          r.getAs[Long]("n_cand"))).toMap
      assert(served == direct, "persisted-artifact serving diverged from the catalog query")
      // incremental ingest: encoding a fresh batch under the persisted
      // centroids+codebooks must equal the full build's rows for the same
      // ids — append is the build's own encode pass, never a retrain
      def codeRows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[Long]("vec_id") ->
          (r.getAs[Long]("cell"), r.getAs[Seq[Long]]("codes").mkString(","))).toMap
      val fresh = emb.filter(col("vec_id") % 5 === 0).select("vec_id", "e")
      val appended = codeRows(Similarity.ivfPqAppend(pc, pb, fresh))
      val rebuilt = codeRows(codeTable.filter(col("vec_id") % 5 === 0))
      assert(appended == rebuilt, "append diverged from the full rebuild")
      assert(appended.nonEmpty)
    } finally {
      import java.nio.file.{Files, Path, Paths}
      import scala.jdk.CollectionConverters._
      val root = Paths.get(dir)
      Files.walk(root).iterator().asScala.toSeq
        .sortBy((p: Path) => -p.getNameCount).foreach(Files.deleteIfExists(_))
    }
  }

  test("ANN serving observe counters equal independent counts, from one action") {
    val m = Similarity.observedServeMetrics(spark, sf)
    val q74 = Similarity.q74IvfPqTopk(spark, sf).collect()
    // cells probed = nq × nprobe (every query fans out to exactly nprobe cells)
    val (emb, _, _) = Similarity.pqParts(spark, sf)
    val nq = emb.filter(col("vec_id") < Similarity.AdcQueries).count()
    assert(m("cells_probed") == nq * Similarity.IvfNProbe)
    // candidates scored = Σ per-query n_cand — the number the query itself
    // reports, recomputed independently from the catalog entry's output
    val sumNCand = q74.groupBy(_.getAs[Long]("query_id"))
      .map(_._2.head.getAs[Long]("n_cand")).sum
    assert(m("candidates_scored") == sumNCand)
    assert(sumNCand > 0, "vacuous: the cell gate must pass candidates")
    assert(m("results") == q74.length.toLong)
    // the gate must actually prune: scoring fewer candidates than a flat
    // ADC scan over the whole corpus is the point of the IVF structure
    val corpus = emb.count()
    assert(m("candidates_scored") < nq * corpus,
      "cell gate scored the whole corpus per query — IVF pruning is vacuous")
  }

  test("q86 refine serves bit-identically from parquet-persisted artifacts") {
    val (emb, _, _) = Similarity.pqParts(spark, sf)
    val (cents, books, codeTable) = flatTrio
    val queries = emb.filter(col("vec_id") < 10).select("vec_id", "e")
    def m(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("rn")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Long]("exact_fixed"))).toMap
    val served = m(Similarity.ivfPqRefineFrom(cents, books, codeTable, emb, queries).collect())
    val direct = m(Similarity.q86AdcRefine(spark, sf).collect())
    assert(served == direct, "persisted-artifact refine diverged from the catalog query")
    assert(served.nonEmpty)
  }

  test("q77 artifacts: persisted rotation+index serve bit-identically; append equals rebuild") {
    val emb = Similarity.embWithNorm(spark, sf).select("vec_id", "e")
    val (hh, cents, books, codeTable) = Similarity.opqIndex(emb)
    val dir = java.nio.file.Files.createTempDirectory("graft_opq_idx").toString
    try {
      hh.write.mode("overwrite").parquet(s"$dir/hh")
      cents.write.mode("overwrite").parquet(s"$dir/cents")
      books.write.mode("overwrite").parquet(s"$dir/books")
      codeTable.write.mode("overwrite").parquet(s"$dir/codes")
      val (ph, pc, pb, pt) = (spark.read.parquet(s"$dir/hh"),
        spark.read.parquet(s"$dir/cents"), spark.read.parquet(s"$dir/books"),
        spark.read.parquet(s"$dir/codes"))
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("query_id"), r.getAs[Long]("rn"))
      // serving from parquet (rotation never retrained, corpus unread)
      // must be bit-identical to the self-contained catalog query
      val queries = emb.filter(col("vec_id") < 10).select("vec_id", "e")
      val served = Similarity.opqSearchFrom(ph, pc, pb, pt, queries).collect()
        .map(r => key(r) -> (r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_fixed"),
          r.getAs[Long]("n_cand"))).toMap
      val direct = Similarity.q77OpqIvfPq(spark, sf).collect()
        .map(r => key(r) -> (r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_fixed"),
          r.getAs[Long]("n_cand"))).toMap
      assert(served == direct, "persisted-artifact OPQ serving diverged from the catalog query")
      assert(served.nonEmpty)
      // ingest: rotate+encode a fresh batch under the persisted artifacts
      // ≡ the full rebuild's rows for the same ids
      def codeRows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[Long]("vec_id") ->
          (r.getAs[Long]("cell"), r.getAs[Seq[Long]]("codes").mkString(","))).toMap
      val fresh = emb.filter(col("vec_id") % 5 === 0).select("vec_id", "e")
      val appended = codeRows(Similarity.opqAppend(ph, pc, pb, fresh))
      val rebuilt = codeRows(codeTable.filter(col("vec_id") % 5 === 0))
      assert(appended == rebuilt && appended.nonEmpty, "OPQ append diverged from rebuild")
    } finally {
      import java.nio.file.{Files, Path, Paths}
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(dir)).iterator().asScala.toSeq
        .sortBy((p: Path) => -p.getNameCount).foreach(Files.deleteIfExists(_))
    }
  }

  test("q78 artifacts: persisted SQ8 index serves bit-identically; append equals rebuild") {
    graft.functions.VectorFunctions.register(spark)
    val emb = Similarity.embWithNorm(spark, sf).filter(col("nrm") > 0)
      .select("vec_id", "e", "nrm")
    val (cents, codeTable) = Similarity.sq8Index(emb)
    val dir = java.nio.file.Files.createTempDirectory("graft_sq8_idx").toString
    try {
      cents.write.mode("overwrite").parquet(s"$dir/cents")
      codeTable.write.mode("overwrite").parquet(s"$dir/codes")
      val pc = spark.read.parquet(s"$dir/cents")
      val pt = spark.read.parquet(s"$dir/codes")
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("query_id"), r.getAs[Long]("rn"))
      val queries = emb.filter(col("vec_id") < 10)
      val served = Similarity.IvfCodec.Sq8.searchFrom(pc, None, pt, queries).collect()
        .map(r => key(r) -> (r.getAs[Long]("neighbor_id"), r.getAs[Double]("sim8"),
          r.getAs[Long]("n_cand"))).toMap
      val direct = Similarity.q78Sq8Ivf(spark, sf).collect()
        .map(r => key(r) -> (r.getAs[Long]("neighbor_id"), r.getAs[Double]("sim8"),
          r.getAs[Long]("n_cand"))).toMap
      assert(served == direct, "persisted-artifact SQ8 serving diverged from the catalog query")
      assert(served.nonEmpty)
      def codeRows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[Long]("vec_id") ->
          (r.getAs[Long]("cell"), r.getAs[Seq[Int]]("qc").mkString(","),
            r.getAs[Double]("max_abs"), r.getAs[Double]("nrm"))).toMap
      val fresh = emb.filter(col("vec_id") % 5 === 0)
      val appended = codeRows(Similarity.IvfCodec.Sq8.encode(pc, None, fresh))
      val rebuilt = codeRows(codeTable.filter(col("vec_id") % 5 === 0))
      assert(appended == rebuilt && appended.nonEmpty, "SQ8 append diverged from rebuild")
    } finally {
      import java.nio.file.{Files, Path, Paths}
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(dir)).iterator().asScala.toSeq
        .sortBy((p: Path) => -p.getNameCount).foreach(Files.deleteIfExists(_))
    }
  }

  test("q77 OPQ: rotation exactly orthogonal (norms/dots preserved), recall vs q74 comparable") {
    graft.functions.VectorFunctions.register(spark)
    val emb = Tables.spread(spark, Tables.embeddings(spark, sf), "vec_id")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e")
    val rot = Similarity.opqRotate(emb)
    // Householder is orthogonal: every vector's norm survives to fp
    // tolerance (exact math; only rounding differs)
    val norms = emb.selectExpr("vec_id", "graft_dot(e, e) AS n")
      .join(rot.selectExpr("vec_id", "graft_dot(e, e) AS nr"), "vec_id").collect()
    assert(norms.nonEmpty)
    norms.foreach { r =>
      val (n, nr) = (r.getAs[Double]("n"), r.getAs[Double]("nr"))
      assert(math.abs(n - nr) <= 1e-9 * math.max(1.0, n), s"norm drift: $n vs $nr")
    }
    // the rotation must actually DO something (mean is nonzero on this data)
    val moved = emb.join(rot.withColumnRenamed("e", "er"), "vec_id")
      .selectExpr("aggregate(zip_with(e, er, (x, y) -> abs(x - y)), 0.0D, (a, t) -> a + t) AS d")
      .agg(max("d")).head().getDouble(0)
    assert(moved > 1e-6, s"rotation is a no-op (max move $moved)")
    // recall@5 against exact euclidean ground truth, side by side with q74:
    // the rotated index must stay in the same quality regime (OPQ changes
    // the subspace decomposition, not the geometry)
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    val exact = (0L until 10L).map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .sortBy(n => (l2(vecs(q), vecs(n)), n)).take(5).toSet
    }.toMap
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val byQ = rows.groupBy(_.getAs[Long]("query_id"))
      byQ.map { case (q, rs) =>
        rs.count(r => exact(q).contains(r.getAs[Long]("neighbor_id"))) / 5.0
      }.sum / byQ.size
    }
    val r74 = recall(Similarity.q74IvfPqTopk(spark, sf).collect())
    val r77 = recall(Similarity.q77OpqIvfPq(spark, sf).collect())
    assert(r77 >= 0.2, s"q77 recall collapsed: $r77 (q74 $r74)")
    assert(r77 >= r74 - 0.3, s"q77 recall $r77 far below q74 $r74")
    info(f"recall@5 vs exact L2: q74 $r74%.2f, q77(OPQ) $r77%.2f")
  }

  test("q75: residual IVF-PQ scans exactly q74's candidate sets, ranks well-formed") {
    val res = Similarity.q75IvfPqResidual(spark, sf).collect()
    val raw = Similarity.q74IvfPqTopk(spark, sf).collect()
    assert(res.nonEmpty)
    // identical coarse quantizer ⇒ identical per-query candidate counts —
    // the residual refinement changes HOW candidates are ranked, never
    // WHICH candidates are scanned
    def cands(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getAs[Long]("query_id")).view
        .mapValues(_.head.getAs[Long]("n_cand")).toMap
    assert(cands(res) == cands(raw), s"${cands(res)} vs ${cands(raw)}")
    res.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Long]("rn")).sorted.toSeq == (1L to rs.length), s"query $q")
      val ds = rs.sortBy(_.getAs[Long]("rn")).map(_.getAs[Long]("adc_fixed")).toSeq
      assert(ds == ds.sorted, s"query $q adc order")
    }
  }

  test("q78: SQ8 scores track true cosine tightly; candidate sets are exactly q74's") {
    graft.functions.VectorFunctions.register(spark)
    val sq8 = Similarity.q78Sq8Ivf(spark, sf).collect()
    assert(sq8.nonEmpty)
    // identical coarse quantizer + nprobe ⇒ q74's candidate sets verbatim —
    // SQ8 changes the ranking fidelity, never the cells scanned
    def cands(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getAs[Long]("query_id")).view
        .mapValues(_.head.getAs[Long]("n_cand")).toMap
    val raw = Similarity.q74IvfPqTopk(spark, sf).collect()
    assert(cands(sq8) == cands(raw), s"${cands(sq8)} vs ${cands(raw)}")
    // int8 max-abs quantization on 64 dims keeps the approximate cosine
    // within a few percent of the true value — the whole point of SQ8 over
    // PQ; compare every reported score against the exact cosine of the
    // same pair, computed driver-side from the raw embeddings
    val emb = Tables.spread(spark, Tables.embeddings(spark, sf), "vec_id")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Double]]("e").toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    var maxErr = 0.0
    sq8.foreach { r =>
      val t = cos(emb(r.getAs[Long]("query_id")), emb(r.getAs[Long]("neighbor_id")))
      maxErr = math.max(maxErr, math.abs(r.getAs[Double]("sim8") - t))
    }
    assert(maxErr <= 0.05, s"max |sim8 - cos| = $maxErr")
    sq8.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Long]("rn")).sorted.toSeq == (1L to rs.length), s"query $q")
      val ss = rs.sortBy(_.getAs[Long]("rn")).map(_.getAs[Double]("sim8")).toSeq
      assert(ss == ss.sorted.reverse, s"query $q sim8 order")
    }
  }

  test("q79: recall metrics equal an independent driver-side recomputation") {
    val evalRows = Similarity.q79AnnRecall(spark, sf).collect()
    assert(evalRows.nonEmpty)
    // independent ground truth: exact cosine top-5 per query recomputed in
    // plain Scala from the raw embeddings (no Spark expressions shared with
    // the operator), then the overlap metrics refolded from q74's output
    val emb = Tables.spread(spark, Tables.embeddings(spark, sf), "vec_id")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Double]]("e").toArray).toMap
    def cosR(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val queries = emb.keys.filter(_ < 10).toSeq.sorted
    val exact = queries.map { q =>
      q -> emb.keys.filter(_ != q).toSeq
        .map(n => (n, cosR(emb(q), emb(n))))
        .sortBy { case (n, c) => (-c, n) }.take(5).map(_._1).toSet
    }.toMap
    val approx = Similarity.q74IvfPqTopk(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id")).view
      .mapValues(_.sortBy(_.getAs[Long]("rn"))
        .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("rn"))).toSeq).toMap
    evalRows.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val hits = approx(q).filter { case (n, _) => exact(q).contains(n) }
      assert(r.getAs[Long]("n_hits") == hits.length, s"query $q n_hits")
      assert(r.getAs[Double]("recall") == hits.length / 5.0, s"query $q recall")
      val fhr = if (hits.isEmpty) 0L else hits.map(_._2).min
      assert(r.getAs[Long]("first_hit_rank") == fhr, s"query $q first_hit_rank")
    }
  }

  test("q82: kNN graph covers every vector; n_cand agrees with q74 on the shared queries") {
    graft.functions.VectorFunctions.register(spark)
    val g = Similarity.q82KnnGraph(spark, sf).collect()
    assert(g.nonEmpty)
    val emb = Tables.spread(spark, Tables.embeddings(spark, sf), "vec_id")
    val nVecs = emb.count()
    // every corpus vector is a query node in the graph (nonzero-norm corpus,
    // nprobe>=1 cells each holding at least the vector's own cell-mates)
    val byQ = g.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == nVecs, s"${byQ.size} graph nodes vs $nVecs vectors")
    byQ.foreach { case (q, rs) =>
      val rns = rs.map(_.getAs[Long]("rn")).sorted.toSeq
      assert(rns == (1L to rs.length), s"query $q ranks")
      val sims = rs.sortBy(_.getAs[Long]("rn")).map(_.getAs[Double]("cos_sim")).toSeq
      assert(sims == sims.sorted.reverse, s"query $q order")
      assert(rs.head.getAs[Long]("n_cand") >= rs.length, s"query $q n_cand")
    }
    // n_cand cross-check: a plain-Scala recompute of the coarse quantizer
    // at the DERIVED nlist (seed → one fixed-point Lloyd update → argmin
    // assignment → nprobe probe cells) must predict every query's scanned
    // candidate count. (Until round 12 this compared against q74's n_cand,
    // which silently assumed the serving and corpus² families share one
    // nlist — the auto-sizing split broke that by design.)
    val nlist = Similarity.corpusNList(spark, sf)
    val nprobe = Similarity.IvfNProbe
    val vecs = Tables.spread(spark, Tables.embeddings(spark, sf), "vec_id")
      .selectExpr("vec_id", "cast(embedding as array<double>) as e").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Double]]("e").toArray)
      .filter { case (_, e) => math.sqrt(e.map(x => x * x).sum) > 0 }
      .sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0; while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def d2(x: Array[Double], c: Array[Double]): Double =
      dot(x, x) - 2 * dot(x, c) + dot(c, c)
    def nearCells(cents: Array[(Long, Array[Double])], x: Array[Double], k: Int): Seq[Long] =
      cents.map { case (cid, ce) => (d2(x, ce), cid) }.sortBy(identity).take(k).map(_._2).toSeq
    val seeds = vecs.filter(_._1 < nlist)
    val upd = vecs.map { case (_, e) => (nearCells(seeds, e, 1).head, e) }
      .groupBy(_._1).map { case (cell, xs) =>
        val dim = xs.head._2.length
        cell -> Array.tabulate(dim) { i =>
          val fs = xs.map(x => math.floor(x._2(i) * 1000000.0).toLong).sum
          (fs.toDouble / xs.length) / 1000000.0
        }
      }
    val cents = seeds.map { case (cid, ce) => cid -> upd.getOrElse(cid, ce) }
    val cellOf = vecs.map { case (id, e) => id -> nearCells(cents, e, 1).head }.toMap
    val cellSize = cellOf.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    vecs.foreach { case (id, e) =>
      val probes = nearCells(cents, e, nprobe)
      val exp = probes.map(c => cellSize.getOrElse(c, 0L)).sum -
        (if (probes.contains(cellOf(id))) 1L else 0L)
      assert(byQ(id).head.getAs[Long]("n_cand") == exp, s"query $id n_cand vs recompute")
    }
  }

  test("q83: semdedup drops are witnessed — independent cosine recompute confirms every (witness, drop) pair") {
    graft.functions.VectorFunctions.register(spark)
    val drops = Similarity.q83SemDedup(spark, sf).collect()
    assert(drops.nonEmpty, "semdedup gate must not be vacuous at sf0.001")
    val emb = Tables.spread(spark, Tables.embeddings(spark, sf), "vec_id")
      .selectExpr("vec_id", "cast(embedding as array<double>) as e").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[scala.collection.Seq[Double]]("e")).toMap
    def cos(a: scala.collection.Seq[Double], b: scala.collection.Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    drops.foreach { r =>
      val (d, w) = (r.getAs[Long]("drop_id"), r.getAs[Long]("witness_id"))
      // witness precedes the drop (SemDeDup keeps the first-seen member)
      assert(w < d, s"witness $w !< drop $d")
      assert(r.getAs[Long]("n_witnesses") >= 1L)
      // plain-Scala cosine of the recorded pair clears the threshold, and
      // max_sim is at least it (the min-id witness need not be the argmax)
      val c = cos(emb(w), emb(d))
      assert(c >= 0.45, s"pair ($w, $d) cosine $c under threshold")
      assert(r.getAs[Double]("max_sim") >= c - 1e-9, s"max_sim < witness cosine for $d")
    }
    // dropping is idempotent in effect: kept = corpus minus drops is
    // strictly smaller than the corpus and every drop is a corpus member
    val dropIds = drops.map(_.getAs[Long]("drop_id")).toSet
    assert(dropIds.subsetOf(emb.keySet) && dropIds.size < emb.size)
  }

  test("corpus² nlist auto-sizes to ≥ ⌈√n⌉ from the corpus count (no env lever needed)") {
    // the derivation rule itself: max(8, ⌈√n⌉)
    assert(Similarity.derivedNList(10000L) == 100)
    assert(Similarity.derivedNList(500L) == 23)
    assert(Similarity.derivedNList(1000000L) == 1000)
    assert(Similarity.derivedNList(10L) == 8, "small corpora keep the floor of 8")
    assert(Similarity.derivedNList(0L) == 8)
    // end-to-end on a synthetic 10k-vector table: corpusNList reads only
    // the parquet row count and lands exactly at ⌈√10000⌉ = 100
    val dir = java.nio.file.Files.createTempDirectory("nlist_syn").toString
    spark.range(10000)
      .selectExpr("id AS vec_id", "array(CAST(id AS FLOAT)) AS embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    if (!sys.env.contains("SPARK_GRAFT_NLIST")) {
      val got = Similarity.corpusNList(spark, dir)
      assert(got == 100, s"derived nlist $got for a 10k-vector corpus")
      assert(got >= math.ceil(math.sqrt(10000.0)).toInt)
    }
  }

  test("q84: label propagation matches an independent plain-Scala propagation over the q82 graph") {
    graft.functions.VectorFunctions.register(spark)
    val got = Similarity.q84LabelProp(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("lbl"), r.getAs[Long]("rnd")))
    val byId = got.map(t => t._1 -> t).toMap
    assert(got.length == byId.size, "one row per node")
    // independent reimplementation: q82's gated graph + raw seed labels,
    // two synchronous majority-vote rounds in plain Scala collections
    val edges = Similarity.q82KnnGraph(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    val trueLbl = Tables.spread(spark, Tables.embeddings(spark, sf), "vec_id").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label").toLong).toMap
    var labels: Map[Long, (Long, Long)] =
      byId.keySet.filter(_ % 4 == 0).map(v => v -> (trueLbl(v), 0L)).toMap
    for (r <- 1L to 2L) {
      val votes = edges
        .filter { case (q, n) => !labels.contains(q) && labels.contains(n) }
        .groupBy(_._1).map { case (q, es) =>
          val counts = es.map(e => labels(e._2)._1).groupBy(identity)
            .map { case (l, xs) => (l, xs.length) }
          // majority, ties toward the smaller label
          q -> (counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1, r)
        }
      labels = labels ++ votes
    }
    val expect = byId.keySet.toSeq.sorted
      .map(v => (v, labels.get(v).map(_._1).getOrElse(-1L),
        labels.get(v).map(_._2).getOrElse(-1L)))
    assert(got.toSeq.sortBy(_._1) == expect)
    // seeds are clamped to their true labels at round 0
    got.filter(_._1 % 4 == 0).foreach { case (v, l, r) =>
      assert(l == trueLbl(v) && r == 0L, s"seed $v")
    }
  }

  test("quantize: max-magnitude code saturates, fingerprints deterministic") {
    val a = Similarity.q58Quantize(spark, sf).collect()
    val b = Similarity.q58Quantize(spark, sf).collect()
    assert(a.nonEmpty)
    a.foreach { r => assert(r.getAs[Long]("n_sat") >= 1, r.toString) }
    assert(a.map(_.getAs[String]("q_fp")).toSeq == b.map(_.getAs[String]("q_fp")).toSeq)
  }

  test("pack: per-shard offsets are contiguous, pack ranges consistent") {
    import graft.ops.Corpus
    val rows = Corpus.q62PackSequences(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("shard")).values.foreach { rs =>
      val ordered = rs.sortBy(_.getAs[Long]("doc_id"))
      // the shard is one gapless token stream: doc k starts where k-1 ended
      assert(ordered.head.getAs[Long]("tok_start") == 0L)
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("tok_start") ==
            a.getAs[Long]("tok_start") + a.getAs[Long]("n_tokens"), s"$a -> $b")
        case _ =>
      }
    }
    rows.foreach { r =>
      val (first, last, n) = (r.getAs[Long]("pack_first"),
        r.getAs[Long]("pack_last"), r.getAs[Long]("n_packs"))
      assert(first <= last && n == last - first + 1 && n >= 1, r.toString)
      assert(first == r.getAs[Long]("tok_start") / 512, r.toString)
    }
  }

  test("quantile cut: threshold is the exact p10, survivors all above it") {
    import graft.ops.Corpus
    val all = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).cast("long").as("nw"))
      .collect().map(_.getLong(0)).sorted
    // percentile_disc(0.10): smallest value whose cumulative rank covers 10%
    val exactP10 = all((all.length + 9) / 10 - 1)
    val rows = Corpus.q63QuantileCut(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("p10") == exactP10, r.toString)
      assert(r.getAs[Long]("n_words") > exactP10, r.toString)
    }
    assert(rows.length == all.count(_ > exactP10))
  }

  test("centroids: fixed-point sums match a driver-side fold, counts conserve") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("e"))
      .collect()
      .map(r => (r.getAs[Long]("label"), r.getSeq[Double](1)))
    val rows = Similarity.q64Centroids(spark, sf).collect()
    assert(rows.nonEmpty)
    def lbl(r: org.apache.spark.sql.Row): Long =
      r.getAs[Number]("label").longValue
    // every dimension row of every label accounts for that label's vectors
    val nByLabel = emb.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n") == nByLabel(lbl(r)), r.toString)
    }
    // exact agreement with a sequential fold for one (label, dim) cell —
    // order-independence is the point of the fixed-point formulation
    val l0 = rows.filter(r => lbl(r) == emb.head._1 && r.getAs[Long]("i") == 0L)
    val expect = emb.filter(_._1 == emb.head._1)
      .map(v => math.floor(v._2.head * 1000000.0).toLong).sum
    assert(l0.length == 1 && l0.head.getAs[Long]("s_fixed") == expect)
  }

  test("bloom dedup: equals exact containment (no false negatives), non-vacuous") {
    val s = spark
    import s.implicits._
    // the catalog query must equal the bloom-free formulation exactly
    val got = graft.ops.Dedup.q65BloomDedup(s, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp")))
    val norm = lower(regexp_replace(col("text"), "\\s+", " "))
    val docs = Tables.documents(s, sf)
      .select(col("doc_id"), md5(substring(norm, 1, 64)).as("fp"))
    val expect = docs.filter(col("doc_id") % 10 === 0)
      .join(docs.filter(col("doc_id") % 10 =!= 0).select("fp").distinct(),
        Seq("fp"), "left_semi")
      .select("doc_id", "fp").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp")))
    assert(got.nonEmpty, "containment evidence must be non-vacuous at sf0.001")
    assert(got.sorted.toSeq == expect.sorted.toSeq)

    // filter quality: zero false negatives by construction; false-positive
    // rate over a disjoint probe set stays near the design point
    // (n=2000, m=65536, k=3 → ~0.2%)
    graft.functions.BloomAgg.register(s)
    val bloom = (0L until 2000L).toDF("x")
      .repartition(8) // exercise partial-filter OR-merge across partitions
      .agg(expr("graft_bloom_agg(xxhash64(x), 65536, 3)").as("b"))
    val probed = (0L until 2000L).toDF("x").crossJoin(broadcast(bloom))
      .filter(expr("graft_bloom_contains(b, xxhash64(x))")).count()
    assert(probed == 2000L, "a member must never be reported absent")
    val fps = (10000L until 20000L).toDF("x").crossJoin(broadcast(bloom))
      .filter(expr("graft_bloom_contains(b, xxhash64(x))")).count()
    assert(fps < 100L, s"false-positive rate out of band: $fps / 10000")
  }

  test("variant extraction agrees with the string-parse path on every row") {
    import graft.ops.Extras
    val viaVariant = Extras.q66Variant(spark, sf).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("k")))
    val viaString = Tables.events(spark, sf)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("k")))
    assert(viaVariant.nonEmpty)
    assert(viaVariant.sorted.toSeq == viaString.sorted.toSeq)
  }

  test("grouped median: every source's p50 equals the exact sorted-middle") {
    import graft.ops.Corpus
    val raw = Tables.documents(spark, sf)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("nw"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val rows = Corpus.q67GroupedMedian(spark, sf).collect()
    assert(rows.length == raw.size)
    rows.foreach { r =>
      val ws = raw(r.getAs[String]("source"))
      val exact = ws((ws.length + 1) / 2 - 1) // percentile_disc(0.5)
      assert(r.getAs[Long]("p50") == exact, r.toString)
      assert(r.getAs[Long]("n_docs") == ws.length.toLong, r.toString)
    }
  }

  test("observed metrics equal independent counts, from one action") {
    import graft.ops.{Corpus, TextOps}
    val m = Corpus.observedCleanMetrics(spark, sf)
    val docs = Tables.documents(spark, sf)
    assert(m("ingest_rows") == docs.count())
    assert(m("ingest_chars") ==
      docs.agg(sum(length(col("text")).cast("long"))).head().getLong(0))
    val kept = TextOps.withLangPred(TextOps.withTextStats(docs))
      .filter(col("quality") === "keep" && col("lang_pred") === "en")
    assert(m("kept_rows") == kept.count())
    assert(m("kept_words") == kept.agg(sum(col("n_words"))).head().getLong(0))
    assert(m("kept_rows") < m("ingest_rows"), "the filter must be non-vacuous")
  }

  test("qualityKeep column ≡ withTextStats quality, row for row") {
    // the funnel's fused stage evaluates the q20 keep rule through
    // TextOps.qualityKeep (conditionally, on lang survivors only); this
    // pins the predicate against the oracle-gated withTextStats rule on
    // every real doc PLUS the boundary shapes (empty text, exactly-20
    // words, all-punct) so the two formulations can never drift
    import graft.ops.TextOps
    val edge = Seq("", "a", ("the " * 19).trim, ("the " * 20).trim,
      "!!!! ???? ....", ("x " * 50).trim, (("the x " * 25) + "!!").trim)
      .zipWithIndex.map { case (t, i) => (1000000L + i, t) }
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .unionByName(spark.createDataFrame(edge).toDF("doc_id", "text"))
    val mismatches = TextOps.withTextStats(docs)
      .withColumn("alt", TextOps.qualityKeep(col("text")))
      .filter((col("quality") === "keep") =!= coalesce(col("alt"), lit(false)))
      .count()
    assert(mismatches == 0L, s"$mismatches rows disagree with withTextStats")
  }

  test("decont clean is exactly the train docs q54 did not flag") {
    import graft.ops.Corpus
    val flagged = Corpus.q54Decontaminate(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(flagged.nonEmpty, "vacuous: q54 must flag something at sf0.001")
    val clean = Corpus.q68DecontClean(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val train = Tables.documents(spark, sf)
      .filter(col("doc_id") % 11 =!= 0)
      .filter(size(split(col("text"), " ")) >= 8)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(clean == train -- flagged,
      s"clean ∪ flagged must partition the train slice: ${clean.size} + ${flagged.size} vs ${train.size}")
  }

  test("brute-force ANN: 5 neighbors per query, ranks 1..5, cos in [-1,1]") {
    val rows = Similarity.q28AnnTopk(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 10)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rn")).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      assert(rs.forall(r => math.abs(r.getAs[Double]("cos_sim")) <= 1.0))
    }
  }

  test("LSH ANN neighbors share the query's bucket ordering invariants") {
    val rows = Similarity.q29AnnLsh(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Long]("rn"))
      val sims = sorted.map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF ANN: valid ranks, self-excluded, decent recall vs brute force") {
    val spark = TestSpark.spark
    val ivf = Similarity.ivfTopK(spark, sf).collect()
    assert(ivf.nonEmpty)
    ivf.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      val ranks = rs.map(_.getAs[Long]("rn")).sorted.toSeq
      assert(ranks == (1L to ranks.length).toSeq)
      assert(rs.forall(r => r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
    }
    val brute = Similarity.q28AnnTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val found = ivf.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (brute & found).size.toDouble / brute.size
    assert(recall >= 0.2, s"IVF recall too low: $recall")
  }

  test("k-means training monotonically reduces inertia; trained IVF keeps the recall floor") {
    val s = spark
    graft.functions.VectorFunctions.register(s)
    val emb = Tables.embeddings(s, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // trainCentroids(iters = 0) is exactly the untrained seed
    val i0 = Similarity.inertia(emb, Similarity.trainCentroids(emb, 16, 0))
    val i1 = Similarity.inertia(emb, Similarity.trainCentroids(emb, 16, 1))
    val i3 = Similarity.inertia(emb, Similarity.trainCentroids(emb, 16, 3))
    // Lloyd guarantees non-increase per round (tolerance for fp accumulation)
    assert(i1 <= i0 * (1 + 1e-9), s"round 1 increased inertia: $i0 -> $i1")
    assert(i3 <= i1 * (1 + 1e-9), s"rounds 2-3 increased inertia: $i1 -> $i3")
    // on the labeled synthetic embeddings the drop is substantial, not ulp
    assert(i3 < i0 * 0.9, s"training barely moved inertia: $i0 -> $i3")
    // the search path with trained centroids still meets the recall floor
    val ivf = Similarity.ivfTopK(s, sf, trainIters = 3).collect()
    assert(ivf.nonEmpty)
    val brute = Similarity.q28AnnTopk(s, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val found = ivf.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (brute & found).size.toDouble / brute.size
    assert(recall >= 0.2, s"trained-IVF recall too low: $recall")
  }

  test("session built with GraftExtensions resolves graft functions in SQL") {
    val spark = TestSpark.spark
    // wire the extension points (builder path); the injected builders are
    // identical to the runtime-registered ones asserted below
    new graft.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    graft.functions.VectorFunctions.register(spark)
    graft.functions.MinHashAgg.register(spark)
    val one = spark.sql(
      "SELECT graft_dot(CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>), CAST(array(3.0, 4.0) AS ARRAY<DOUBLE>))")
      .head().getDouble(0)
    assert(one == 11.0)
    // srp bucket ids: 2 tables × 3 bits over the md5-derived plane family —
    // value range and count pinned, and stable run to run
    graft.functions.VectorFunctions.registerSrp(spark, "graft_srp_buckets_t",
      graft.ops.Similarity.srpPlanes(6).flatten.toSeq, 2, 3)
    val bks = spark.sql(
      "SELECT graft_srp_buckets_t(CAST(array(0.5, -1.5, 2.0) AS ARRAY<DOUBLE>))")
      .head().getSeq[Int](0)
    assert(bks.length == 2 && bks.forall(b => b >= 0 && b < 8), bks.toString)
    // bloom build + probe round-trips through the pure-SQL surface
    graft.functions.BloomAgg.register(spark)
    val hit = spark.sql(
      """SELECT graft_bloom_contains(b, xxhash64(5)) AS hit FROM
        |  (SELECT graft_bloom_agg(xxhash64(x), 1024, 3) AS b
        |   FROM (SELECT explode(sequence(1, 10)) AS x))""".stripMargin)
      .head().getBoolean(0)
    assert(hit, "a member must probe true through the SQL surface")
    // the sketch/top-k aggregates injected for pure-SQL clients
    graft.functions.TopKAgg.register(spark)
    graft.functions.MGAgg.register(spark)
    graft.functions.HllAgg.register(spark)
    val tk = spark.sql(
      """SELECT graft_topk(CAST(x AS DOUBLE), CAST(x AS BIGINT), 2) AS t
        |FROM (SELECT explode(sequence(1, 5)) AS x)""".stripMargin)
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(tk.map(_.getLong(1)) == Seq(5L, 4L), tk.toString)
    val mg = spark.sql(
      """SELECT graft_mg(CAST(x % 2 AS STRING), 4) AS c
        |FROM (SELECT explode(sequence(1, 10)) AS x)""".stripMargin)
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(mg.nonEmpty, "MG sketch empty through the SQL surface")
    val hll = spark.sql(
      """SELECT graft_hll_stats(graft_hll_merge(sk)).s_scaled AS s FROM (
        |  SELECT graft_hll_agg(CAST(x % 4096 AS BIGINT), CAST(1 + x % 20 AS BIGINT)) AS sk
        |  FROM (SELECT explode(sequence(1, 1000)) AS x) GROUP BY x % 3)""".stripMargin)
      .head().getLong(0)
    assert(hll > 0, "HLL stats empty through the SQL surface")
  }

  test("multimodal feature extraction is deterministic and frame sampling explodes") {
    val docs = Tables.documents(spark, sf)
    val feats = Multimodal.extractFeatures(Multimodal.withBinaryPayload(docs), 4)
    assert(feats.count() == docs.count())
    val once = feats.orderBy("doc_id").collect().map(_.toSeq)
    val twice = Multimodal.extractFeatures(Multimodal.withBinaryPayload(docs), 2)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(once.toSeq == twice.toSeq)
    val frames = Multimodal.sampleFrames(feats, 2)
    assert(frames.count() >= feats.count())
    assert(frames.columns.contains("frame_idx"))
  }

  test("source mixing flattens a skewed corpus toward sqrt-weights (alpha=0.5)") {
    val s = spark
    import s.implicits._
    // controlled skew: 900 docs from "big", 100 from "small", equal doc
    // length, so the expected outcome is exactly computable —
    // ws ∝ sqrt(tokens): big 3/4, small 1/4 of the weight; T = 400 docs →
    // expected rates: big 300/900 = 1/3, small 100/100 = 1 (uncapped)
    val text = (1 to 100).map(i => s"w$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("q55mix").toString
    (0 until 1000).map { i =>
      (i.toLong, text, if (i < 900) "big" else "small")
    }.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val mixed = graft.ops.Corpus.q55SourceMix(spark, dir)
    val bySrc = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // "small" hits rate 1 exactly (every doc kept); "big" lands in a
    // binomial band around 300 (p = 1/3, n = 900, sd ≈ 14 → ±5 sd)
    assert(bySrc("small") == 100L, bySrc.toString)
    assert(bySrc("big") > 230 && bySrc("big") < 370, bySrc.toString)
    // the realized doc share flattened from 90/10 toward 75/25
    val share = bySrc("big").toDouble / (bySrc("big") + bySrc("small"))
    assert(share > 0.65 && share < 0.82, share.toString)
  }

  test("decontamination equals brute force on random corpora with planted overlap") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(43)
    val vocab = (0 until 40).map(i => s"t$i")
    (1 to 3).foreach { trial =>
      // random docs; every 7th TRAIN doc gets an eval doc's 8-gram run
      // planted mid-text so contamination is guaranteed present
      val docs = (0L until 120L).map { id =>
        val words = Seq.fill(10 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
        (id, words.mkString(" "), s"src${id % 5}")
      }
      val evalTexts = docs.filter(_._1 % 11 == 0)
      val planted = docs.map { case (id, text, src) =>
        if (id % 11 != 0 && id % 7 == 0 && evalTexts.nonEmpty) {
          val ev = evalTexts(rnd.nextInt(evalTexts.size))._2.split(" ")
          if (ev.length >= 8) {
            val run = ev.slice(0, 8).mkString(" ")
            (id, s"$text $run", src)
          } else (id, text, src)
        } else (id, text, src)
      }
      val dir = java.nio.file.Files.createTempDirectory(s"q54d$trial").toString
      planted.toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // brute force: distinct 8-grams per doc, intersect with the eval union
      def grams(t: String): Set[String] = {
        val w = t.split(" ")
        if (w.length < 8) Set.empty
        else (0 to w.length - 8).map(i => w.slice(i, i + 8).mkString(" ")).toSet
      }
      val evalGrams = planted.filter(_._1 % 11 == 0).flatMap(d => grams(d._2)).toSet
      val expected = planted.filter(_._1 % 11 != 0)
        .map(d => d._1 -> grams(d._2).count(evalGrams.contains).toLong)
        .filter(_._2 > 0).toMap
      assert(expected.nonEmpty, s"trial $trial planted nothing")
      val got = graft.ops.Corpus.q54Decontaminate(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial: $got vs $expected")
    }
  }

  test("real image codec: ImageIO decodes synthesized PNGs through the batch path") {
    val s = spark
    import s.implicits._
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, rgb)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // solid colors ⇒ the Rec.601 mean luma is known exactly per image
    val imgs = Seq(
      (1L, 7, 5, 0xffffff, 255.0),
      (2L, 16, 9, 0x000000, 0.0),
      (3L, 3, 3, 0xff0000, 0.299 * 255),
      (4L, 4, 2, 0x00ff00, 0.587 * 255),
      (5L, 2, 4, 0x0000ff, 0.114 * 255))
    val df = imgs.map { case (id, w, h, c, _) => (id, png(w, h, c)) }
      .toDF("doc_id", "payload")
    val feats = Multimodal.extractFeatures(df, 2, Multimodal.ImageIoDecoder.decode)
      .orderBy("doc_id").collect()
    assert(feats.length == imgs.length)
    imgs.zip(feats).foreach { case ((id, w, h, _, luma), r) =>
      assert(r.getLong(0) == id && r.getString(2) == "image")
      assert(r.getInt(3) == w && r.getInt(4) == h, s"doc $id dims")
      assert(math.abs(r.getDouble(6) - luma) < 1e-9, s"doc $id luma ${r.getDouble(6)}")
    }
    // a payload no codec accepts fails loudly, never silently fakes features
    val bad = Seq((9L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    intercept[Exception] {
      Multimodal.extractFeatures(bad, 1, Multimodal.ImageIoDecoder.decode).collect()
    }
  }

  test("real resize: scaled payloads re-decode at target dims with preserved luma") {
    val s = spark
    import s.implicits._
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, rgb)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // solid colors: bilinear scaling cannot change the (constant) luma
    val imgs = Seq(
      (1L, 16, 12, 0xffffff, 255.0),
      (2L, 7, 9, 0xff0000, 0.299 * 255),
      (3L, 30, 2, 0x0000ff, 0.114 * 255))
    val df = imgs.map { case (id, w, h, c, _) => (id, png(w, h, c)) }
      .toDF("doc_id", "payload")
    val resized = Multimodal.resizeImages(df, 2, 4, 3)
    // the resized payload is a REAL image: run it back through the codec
    val feats = Multimodal.extractFeatures(resized, 2, Multimodal.ImageIoDecoder.decode)
      .orderBy("doc_id").collect()
    assert(feats.length == imgs.length)
    imgs.zip(feats).foreach { case ((id, _, _, _, luma), r) =>
      assert(r.getLong(0) == id)
      assert(r.getInt(3) == 4 && r.getInt(4) == 3, s"doc $id dims after resize")
      assert(math.abs(r.getDouble(6) - luma) < 1e-9, s"doc $id luma ${r.getDouble(6)}")
    }
    val bad = Seq((9L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    intercept[Exception] { Multimodal.resizeImages(bad, 1, 4, 3).collect() }
  }

  test("real audio codec: javax.sound decodes synthesized WAVs through the batch path") {
    val s = spark
    import s.implicits._
    // mono 16-bit little-endian PCM sine, wrapped as WAV by the JDK writer
    def wav(freq: Double, nSamples: Int, rate: Float, amp: Double): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val pcm = new Array[Byte](nSamples * 2)
      (0 until nSamples).foreach { i =>
        val v = (amp * math.sin(2 * math.Pi * freq * i / rate) * 32767).toInt.toShort
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val clips = Seq((1L, 440.0, 8000, 8000f, 0.5), (2L, 1000.0, 4410, 44100f, 0.25))
    val df = clips.map { case (id, f, n, r, a) => (id, wav(f, n, r, a)) }
      .toDF("doc_id", "payload")
    val feats = Multimodal.extractFeatures(df, 2, Multimodal.WavDecoder.decode)
      .orderBy("doc_id").collect()
    clips.zip(feats).foreach { case ((id, _, n, rate, amp), r) =>
      assert(r.getLong(0) == id && r.getString(2) == "audio")
      assert(r.getInt(3) == rate.toInt, s"doc $id sample rate ${r.getInt(3)}")
      assert(r.getInt(4) == 1, s"doc $id channels")
      assert(r.getInt(5) == n, s"doc $id frames ${r.getInt(5)}")
      // mean |amp·sin| = amp·2/π over whole periods
      assert(math.abs(r.getDouble(6) - amp * 2 / math.Pi) < 0.01,
        s"doc $id mean amplitude ${r.getDouble(6)}")
    }
    // garbage fails loudly, same contract as the image codec
    val bad = Seq((9L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    intercept[Exception] {
      Multimodal.extractFeatures(bad, 1, Multimodal.WavDecoder.decode).collect()
    }
  }

  test("q86 refine: distances match driver-side exact L2; recall never below q74") {
    val vecs = Tables.spread(spark, Tables.embeddings(spark, sf), "vec_id")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    val refined = Similarity.q86AdcRefine(spark, sf).collect()
    assert(refined.nonEmpty)
    // independent distance differential: every returned exact_fixed must be
    // the driver-side floor(‖q−n‖²·10⁶) — sequential-sum order replicated
    refined.foreach { r =>
      val (q, n) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      val d = {
        // replicate graft_dot's expansion: q·q − 2 q·n + n·n, sequential sums
        def dot(a: Array[Double], b: Array[Double]): Double = {
          var s = 0.0; var i = 0; while (i < a.length) { s += a(i) * b(i); i += 1 }; s
        }
        dot(vecs(q), vecs(q)) - 2 * dot(vecs(q), vecs(n)) + dot(vecs(n), vecs(n))
      }
      assert(r.getAs[Long]("exact_fixed") == math.floor(d * 1e6).toLong,
        s"($q,$n) exact_fixed differs from independent recompute")
    }
    refined.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rn"))
      assert(sorted.map(_.getAs[Long]("rn")).toSeq == (1L to sorted.length), s"query $q ranks")
      val ds = sorted.map(_.getAs[Long]("exact_fixed")).toSeq
      assert(ds == ds.sorted, s"query $q exact order")
    }
    // refine re-ranks a SUPERSET of q74's returned set by true distance, so
    // any exact-top-5 member the shortlist caught must surface: recall can
    // only improve or tie (fixed-point ties aside — epsilon allowance)
    val exact = (0L until 10L).map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .sortBy(n => (l2(vecs(q), vecs(n)), n)).take(5).toSet
    }.toMap
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val byQ = rows.groupBy(_.getAs[Long]("query_id"))
      byQ.map { case (q, rs) =>
        rs.count(r => exact(q).contains(r.getAs[Long]("neighbor_id"))) / 5.0
      }.sum / byQ.size
    }
    val r74 = recall(Similarity.q74IvfPqTopk(spark, sf).collect())
    val r86 = recall(refined)
    assert(r86 >= r74 - 1e-9, s"refine recall $r86 fell below ADC-only $r74")
    info(f"recall@5 vs exact L2: q74 $r74%.2f, q86(refine) $r86%.2f")
  }

  test("q87 cube: all four grouping sets present and internally consistent") {
    val rows = graft.ops.Skew.q87Cube(spark, sf).collect()
    val total = Tables.lineitem(spark, sf).count()
    val byGid = rows.groupBy(_.getAs[Long]("gid"))
    assert(byGid.keySet == Set(0L, 1L, 2L, 3L), byGid.keySet.toString)
    // grand total row counts everything; every grouping set partitions it
    assert(byGid(3L).map(_.getAs[Long]("n")).sum == total)
    Seq(0L, 1L, 2L).foreach { g =>
      assert(byGid(g).map(_.getAs[Long]("n")).sum == total, s"gid $g rows lost")
    }
  }

  test("q88 z-order: every bucket is one key-space tile on BOTH dimensions") {
    val rows = graft.sources.Sinks.q88ZorderLayout(spark, sf).collect()
    assert(rows.length > 1, "degenerate single bucket")
    val total = Tables.lineitem(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    rows.foreach { r =>
      // 6-bit bucket prefix = top 3 bits of each dim → a 32×32 tile; a
      // plain sort on x would satisfy this for x but span ~255 on y
      assert(r.getAs[Long]("x_max") - r.getAs[Long]("x_min") <= 31, r.toString)
      assert(r.getAs[Long]("y_max") - r.getAs[Long]("y_min") <= 31, r.toString)
    }
  }

  test("q89 zscore: per-type standardization really lands at mean 0, sd 1") {
    val rows = graft.ops.Corpus.q89GroupZscore(spark, sf).collect()
    assert(rows.length == Tables.events(spark, sf).count())
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (t, rs) =>
      val zs = rs.map(_.getAs[Double]("z"))
      val n = zs.length.toDouble
      val mean = zs.sum / n
      val sd = math.sqrt(zs.map(z => (z - mean) * (z - mean)).sum / n)
      assert(math.abs(mean) < 1e-4, s"$t mean $mean")
      assert(math.abs(sd - 1.0) < 1e-3, s"$t sd $sd")
    }
  }

  test("q90 bigrams match an independent driver-side count") {
    val got = graft.ops.TextOps.q90BigramTopk(spark, sf).collect()
      .map(r => (r.getAs[String]("bigram"), r.getAs[Long]("n"))).toSeq
    assert(got.nonEmpty && got.head._2 >= 2, "vacuous: no repeated bigram")
    // independent recompute: plain Scala over the raw text
    val counts = scala.collection.mutable.Map.empty[String, Long]
    Tables.documents(spark, sf).select("text").collect().foreach { r =>
      val w = r.getString(0).split(" ", -1)
      var i = 0
      while (i < w.length - 1) {
        val b = w(i) + " " + w(i + 1)
        counts(b) = counts.getOrElse(b, 0L) + 1L
        i += 1
      }
    }
    val expect = counts.toSeq.sortBy { case (b, n) => (-n, b) }.take(20)
    assert(got == expect, s"top-20 bigrams diverge:\n got=$got\n exp=$expect")
  }

  test("q92 heavy hitters: final equals exact; MG candidates are a provable superset") {
    val got = graft.ops.TextOps.q92HeavyHitters(spark, sf).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("n"))).toSeq
    assert(got.nonEmpty, "vacuous: no heavy tokens at sf0.001")
    // independent exact recompute over the raw text
    val counts = scala.collection.mutable.Map.empty[String, Long]
    var total = 0L
    Tables.documents(spark, sf).select("text").collect().foreach { r =>
      r.getString(0).split(" ", -1).foreach { t =>
        counts(t) = counts.getOrElse(t, 0L) + 1L; total += 1L
      }
    }
    val exact = counts.toSeq.filter { case (_, n) => n * 200L > total }
      .sortBy { case (t, n) => (-n, t) }
    assert(got == exact, s"heavy set diverges:\n got=$got\n exp=$exact")
    // the structural claim behind the two-pass design, checked directly:
    // every exact-heavy token must appear in the raw sketch output
    graft.functions.MGAgg.register(spark)
    val cands = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("token"))
      .agg(expr("graft_mg(token, 400)")).head().getSeq[String](0).toSet
    exact.foreach { case (t, _) =>
      assert(cands.contains(t), s"superset guarantee violated for '$t'")
    }
    assert(cands.size <= 400, s"sketch exceeded capacity: ${cands.size}")
  }

  test("MG sketch superset guarantee holds on adversarial random streams") {
    graft.functions.MGAgg.register(spark)
    // zipf-ish stream with planted heavies, shuffled deterministically so
    // partition layout is hostile (heavy items scattered)
    val rnd = new scala.util.Random(7)
    val stream = new scala.util.Random(11)
      .shuffle((1 to 5000).map { i =>
        if (i % 5 == 0) s"heavy_${i % 3}" else s"tail_${rnd.nextInt(2000)}"
      }.toVector)
    val n = stream.size.toLong
    val exactCounts = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cap = 50
    val cands = spark.createDataset(stream)(org.apache.spark.sql.Encoders.STRING)
      .toDF("token").repartition(16)
      .agg(expr(s"graft_mg(token, $cap)")).head().getSeq[String](0).toSet
    // anything above n/(cap+1) must survive, however partials merged
    exactCounts.filter { case (_, c) => c > n / (cap + 1) }.keys.foreach { k =>
      assert(cands.contains(k), s"lost guaranteed item $k")
    }
  }

  test("q91 weighted sample is deterministic and equals the independent recompute") {
    val got = graft.ops.Corpus.q91WeightedSample(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("priority"))).toSeq
    assert(got.length == 50)
    val expect = Tables.documents(spark, sf).select("doc_id", "n_chars").collect()
      .map { r =>
        val id = r.getLong(0)
        val u = java.lang.Math.floorMod(id * 2654435761L, 4294967296L)
        (id, u * 1000000L / r.getLong(1))
      }.sortBy { case (id, p) => (p, id) }.take(50).toSeq
    assert(got == expect, s"sample diverges:\n got=${got.take(5)}…\n exp=${expect.take(5)}…")
    // weights matter: the selected docs skew long (chars above corpus median)
    val medianChars = {
      val cs = Tables.documents(spark, sf).select("n_chars").collect().map(_.getLong(0)).sorted
      cs(cs.length / 2)
    }
    val chosen = Tables.documents(spark, sf)
      .filter(col("doc_id").isin(got.map(_._1): _*))
      .select("n_chars").collect().map(_.getLong(0))
    assert(chosen.count(_ > medianChars) > chosen.length / 2,
      "weighted sample shows no pull toward heavy docs")
  }

  test("q91 hash is total on BIGINT: 100TB-scale doc_ids match the BigInt recompute") {
    val s = spark; import s.implicits._
    // ids ≥ ~3.47e9 overflow the naive doc_id*2654435761 product; the
    // split-multiply must agree with exact BigInt arithmetic everywhere
    val ids = Seq(0L, 1L, 65535L, 65536L, 2654435760L, 3470000000L,
      5000000000L, 1234567890123456789L, Long.MaxValue, -7L)
    val got = ids.toDF("doc_id")
      .select(col("doc_id"), graft.ops.Corpus.knuthHash32(col("doc_id")).as("u"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m = BigInt(4294967296L)
    ids.foreach { id =>
      val exp = (BigInt(id) * BigInt(2654435761L)).mod(m).toLong
      assert(got(id) == exp, s"id $id: got ${got(id)}, expect $exp")
    }
  }

  test("q89 zscore: a constant-valued group gives z=0, never NaN") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q89const").toString
    Seq((1L, 1000000000L, 1L, "const", 42.0, "{}"),
        (2L, 2000000000L, 1L, "const", 42.0, "{}"),
        (3L, 3000000000L, 2L, "vary", 1.0, "{}"),
        (4L, 4000000000L, 2L, "vary", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val rows = graft.ops.Corpus.q89GroupZscore(spark, dir).collect()
    assert(rows.forall(r => !r.getAs[Double]("z").isNaN), "NaN leaked from sigma=0")
    val z = rows.map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("z")).toMap
    assert(z(1L) == 0.0 && z(2L) == 0.0, s"constant group must standardize to 0: $z")
    assert(z(3L) == -1.0 && z(4L) == 1.0, z.toString)
  }

  test("q94 pagerank matches an independent plain-Scala fixed-point recompute over the q82 graph") {
    graft.functions.VectorFunctions.register(spark)
    val got = Similarity.q94PageRank(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("pr")).toMap
    val edges = Similarity.q82KnnGraph(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    val outdeg = edges.groupBy(_._1).map { case (q, es) => q -> es.length }
    // same fixed-point rule, single-threaded: floor(pr/outdeg·1e9) BIGINT
    // contributions, damped update, 3 rounds
    var pr: Map[Long, Double] = got.keys.map(_ -> 1.0).toMap
    for (_ <- 1 to 3) {
      val sums = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (q, n) =>
        sums(n) += math.floor(pr(q) / outdeg(q) * 1000000000.0).toLong
      }
      pr = pr.keys.map(v => v -> (0.15 + 0.85 * (sums(v).toDouble / 1000000000.0))).toMap
    }
    assert(got.keySet == pr.keySet)
    got.foreach { case (v, p) =>
      val exp = BigDecimal(pr(v)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(p == exp, s"node $v: got $p expect $exp")
    }
    // centrality varies: the graph is not rank-uniform (a constant result
    // would mean the vote rounds never executed)
    assert(got.values.toSet.size > 1, "pagerank degenerated to a constant")
  }

  test("q95 bm25 matches an independent plain-Scala recompute") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    // Spark's split(str, ' ') is java split with limit -1 (keeps trailing
    // empties) — the recompute must tokenize identically
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    val n = docs.length.toLong
    val dl = toks.map { case (id, w) => id -> w.length.toLong }
    val avgdl = dl.values.sum.toDouble / n
    val tfm = toks.map { case (id, w) =>
      id -> w.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong } }
    val dfm = tfm.values.flatMap(_.keys).groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val expect = docs.filter(_._1 < 5).flatMap { case (qid, _) =>
      val terms = toks(qid).take(4).distinct
      val scored = docs.flatMap { case (did, _) =>
        if (did == qid) None
        else {
          val parts = terms.flatMap { t =>
            tfm(did).get(t).map { tf =>
              val df = dfm(t)
              math.floor(((n - df).toDouble + 0.5) / (df.toDouble + 0.5) *
                (tf.toDouble * 2.2 / (tf.toDouble + 1.2 *
                  (0.25 + 0.75 * dl(did).toDouble / avgdl))) * 1000000.0).toLong
            }
          }
          if (parts.isEmpty) None else Some((did, parts.sum))
        }
      }
      scored.sortBy { case (did, s) => (-s, did) }.take(10).zipWithIndex
        .map { case ((did, s), i) => (qid, (i + 1).toLong, did, s) }
    }
    val got = graft.ops.TextOps.q95Bm25(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSeq
    assert(got.nonEmpty, "bm25 returned no rows at sf0.001")
    assert(got == expect, s"bm25 diverges:\n got=${got.take(6)}…\n exp=${expect.take(6)}…")
  }

  test("q102: kneser-ney counts match a plain-Scala recompute; p_kn bit-equal; discount-mass identity exact") {
    val rows = graft.ops.TextOps.q102KneserNey(spark, sf).collect()
    assert(rows.nonEmpty)
    // independent recompute of every count from the raw text
    val texts = Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    val bigrams = texts.flatMap { t => val w = t.split(" "); w.dropRight(1).zip(w.drop(1)) }
    val cvw = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cv = bigrams.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val n1v = cvw.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val contw = cvw.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val b = cvw.size.toLong
    rows.foreach { r =>
      val (v, w) = (r.getAs[String]("prev"), r.getAs[String]("tok"))
      assert(r.getAs[Long]("cvw") == cvw((v, w)), s"c($v,$w)")
      assert(r.getAs[Long]("cv") == cv(v) && r.getAs[Long]("n1v") == n1v(v), s"prev stats $v")
      assert(r.getAs[Long]("contw") == contw(w), s"cont $w")
      // the exact op chain the operator and the oracle both execute
      val exp = BigDecimal(
        (cvw((v, w)).toDouble - 0.75) / cv(v).toDouble +
          (0.75 * n1v(v).toDouble / cv(v).toDouble) * (contw(w).toDouble / b.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("p_kn") == exp, s"p_kn($v,$w)")
      val p = r.getAs[Double]("p_kn")
      assert(p > 0 && p < 1, r.toString)
    }
    // absolute-discounting mass identity, exact in BigDecimal: the backoff
    // weight D·N1+(v·)/c(v·) is precisely the mass the first term released
    cv.keys.foreach { v =>
      val released = cvw.collect { case ((p, _), c) if p == v => BigDecimal(c) - BigDecimal("0.75") }.sum
      assert(released == BigDecimal(cv(v)) - BigDecimal("0.75") * BigDecimal(n1v(v)), s"mass identity for $v")
    }
  }

  test("q103: Σpr conserved on the sink graph; the uniform-teleport update on the same edges loses the dangling mass") {
    graft.functions.VectorFunctions.register(spark)
    val got = Similarity.q103PageRankDangling(spark, sf).collect()
    val n = got.length.toDouble
    assert(n > 0)
    val total = got.map(_.getAs[Double]("pr")).sum
    assert(math.abs(total - n) <= n * 1e-6, s"Σpr=$total vs n=$n")
    // counterfactual: q94's non-conserving update over the SAME sink-bearing
    // edge set drops the dangling share every round — the law q103 restores
    val edges = Similarity.knnEdges(spark, sf)
      .filter(col("query_id") % Similarity.PrSinkMod =!= 0)
    val plain = Similarity.q94PageRankFrom(spark, sf, edges).collect()
    val plainTotal = plain.map(_.getAs[Double]("pr")).sum
    assert(plainTotal < total - 1.0,
      s"uniform-teleport on the sink graph should lose mass: $plainTotal vs $total")
  }

  test("kNN graph artifact serving: q84/q94 from the parquet edge list equal the self-contained queries") {
    import graft.ops.Similarity
    val dir = java.nio.file.Files.createTempDirectory("knn_graph_art").toString
    Similarity.knnGraphArtifact(spark, sf, dir)
    val served = Similarity.GraphEdges.read(spark, dir)
    val lpSelf = Similarity.q84LabelProp(spark, sf).collect().toSeq
    val lpServed = Similarity.q84LabelPropFrom(spark, sf, served).collect().toSeq
    assert(lpSelf.nonEmpty && lpSelf == lpServed,
      s"served label-prop diverged: ${lpServed.size} vs ${lpSelf.size} rows")
    val prSelf = Similarity.q94PageRank(spark, sf).collect().toSeq
    val prServed = Similarity.q94PageRankFrom(spark, sf, served).collect().toSeq
    assert(prSelf.nonEmpty && prSelf == prServed,
      s"served pagerank diverged: ${prServed.size} vs ${prSelf.size} rows")
    // the serving path's lineage must be the artifact, not the kernel: the
    // edge frame is file-backed by exactly the artifact dir (checked on the
    // ANALYZED plan — the physical plan may read the serving cache that
    // q94PageRankFrom installs, which is itself rooted at this relation)
    val rels = served.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(rels.nonEmpty && rels.forall(
      _.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
        .location.rootPaths.forall(_.toString.contains("knn_graph_art"))),
      "served edges did not come from the artifact")
  }

  test("knnGraphAppend ≡ full rebuild over the union corpus under the frozen quantizer, and fresh vectors really displace edges") {
    graft.functions.VectorFunctions.register(spark)
    val all = Similarity.embWithNorm(spark, sf)
      .filter(col("nrm") > 0).select("vec_id", "e", "nrm")
    val maxId = all.agg(max("vec_id")).head().getLong(0)
    val cut = maxId * 4 / 5
    val base = all.filter(col("vec_id") <= cut)
    val fresh = all.filter(col("vec_id") > cut).select("vec_id", "e")
    // shared EXPLICIT centroids (trained on base — the artifact's frozen
    // quantizer; the rebuild must see the same cells or equivalence is
    // ill-posed, exactly as ivfPqAppend never retrains)
    val cents = Similarity.knnCents(base, 8).cache()
    val cc = Similarity.ccRow(cents)
    val baseEdges = Similarity.knnEdgesScoredFrom(spark, base, cc).cache()
    val appended = Similarity
      .knnGraphAppend(spark, base, baseEdges, cents, fresh)
      .orderBy("query_id", "neighbor_id").collect().toSeq
    val rebuilt = Similarity.knnEdgesScoredFrom(spark, all, cc)
      .orderBy("query_id", "neighbor_id").collect().toSeq
    assert(appended.nonEmpty && appended == rebuilt,
      s"append diverged from rebuild: ${appended.size} vs ${rebuilt.size} rows")
    // the hard half must actually fire: some existing node's top-k now
    // contains a fresh neighbor (a pure fresh-side append would pass the
    // equality above on a corpus where no displacement happens)
    assert(appended.exists(r => r.getAs[Long]("query_id") <= cut &&
      r.getAs[Long]("neighbor_id") > cut),
      "no existing node adopted a fresh neighbor — displacement untested")
    // the persisted-probe-cell path (knnGraphAppendFrom — the O(n)-shuffle
    // serving shape) must produce the identical union edge list
    val cellsTable = Similarity.probeCellRows(base.select("vec_id", "e"), cents)
    val appendedFrom = Similarity
      .knnGraphAppendFrom(spark, base, cellsTable, baseEdges, cents, fresh)
      .orderBy("query_id", "neighbor_id").collect().toSeq
    assert(appendedFrom == rebuilt,
      s"cells-table append diverged: ${appendedFrom.size} vs ${rebuilt.size} rows")
  }

  test("knnGraphArtifact restores the session topk-fallback conf after its eager writes") {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prior = spark.conf.get(key, "128")
    try {
      spark.conf.set(key, "128") // simulate the untouched Spark default
      val dir = java.nio.file.Files.createTempDirectory("knn_art_conf").toString
      Similarity.knnGraphArtifact(spark, sf, s"$dir/graph")
      assert(spark.conf.get(key) == "128",
        "eager artifact build must restore the session conf it raised")
    } finally spark.conf.set(key, prior)
  }

  test("termCounts: sorted-run counter ≡ brute-force recount on long docs; q56/q95 keep the linear kernel") {
    // real long-doc text (the GenLongDocs mixture: per-doc distinct counts
    // grow ~L/2, the regime where the pre-r12 O(L·distinct) kernel was
    // measurably quadratic) — doc 9 takes the skew-tail maxTok branch
    val docs = Seq(0L, 1L, 9L).map(id => (id, GenLongDocs.docText(id, 1000, 2000)))
    val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val got = graft.ops.TextOps.termCounts(df).collect()
      .map(r => (r.getLong(0), r.getString(2)) -> (r.getLong(1), r.getLong(3))).toMap
    docs.foreach { case (id, text) =>
      val w = text.split(" ", -1)
      val exp = w.groupBy(identity).view.mapValues(_.length.toLong).toMap
      assert(got.keys.count(_._1 == id) == exp.size, s"doc $id distinct terms")
      exp.foreach { case (t, n) =>
        assert(got((id, t)) == ((w.length.toLong, n)), s"tf($id, $t)") }
    }
    // regression guard: the quadratic kernel counted via a per-distinct-
    // token size(filter(w, x -> x = t)) — nothing else in these plans
    // legitimately composes size over filter, so its return is red here
    // (round-12 verdict: without this, a revert passes every gate)
    for (q <- Seq(graft.ops.TextOps.q56Tfidf(spark, sf),
        graft.ops.TextOps.q95Bm25(spark, sf))) {
      val p = q.queryExecution.analyzed.toString
      assert(!p.contains("size(filter("),
        "per-distinct-token tf counting reappeared in the analyzed plan")
      assert(p.contains("array_sort"), "sorted-run tf kernel missing")
    }
  }

  test("q104: trigram KN matches a plain-Scala recompute; backoff composes the ROUNDED bigram p_kn; mass identity exact") {
    val rows = graft.ops.TextOps.q104KneserNey3(spark, sf).collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    val bigrams = texts.flatMap { t => val w = t.split(" "); w.dropRight(1).zip(w.drop(1)) }
    val cvw = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cv = bigrams.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val n1v = cvw.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val contw = cvw.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val b = cvw.size.toLong
    val trigrams = texts.flatMap { t =>
      val w = t.split(" "); if (w.length < 3) Nil else w.sliding(3).map(a => (a(0), a(1), a(2))).toSeq }
    val cuvw = trigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cuv = trigrams.groupBy(g => (g._1, g._2)).view.mapValues(_.length.toLong).toMap
    val n1uv = cuvw.keys.toSeq.groupBy(g => (g._1, g._2)).view.mapValues(_.size.toLong).toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { r =>
      val (u, v, w) = (r.getAs[String]("prev2"), r.getAs[String]("prev"), r.getAs[String]("tok"))
      assert(r.getAs[Long]("cuvw") == cuvw((u, v, w)), s"c($u,$v,$w)")
      assert(r.getAs[Long]("cuv") == cuv((u, v)) && r.getAs[Long]("n1uv") == n1uv((u, v)), s"ctx($u,$v)")
      val p2 = r6((cvw((v, w)).toDouble - 0.75) / cv(v).toDouble +
        (0.75 * n1v(v).toDouble / cv(v).toDouble) * (contw(w).toDouble / b.toDouble))
      assert(r.getAs[Double]("p_kn2") == p2, s"p_kn2($v,$w)")
      // composition feeds the ROUNDED backoff — the cross-engine contract
      val p3 = r6((cuvw((u, v, w)).toDouble - 0.75) / cuv((u, v)).toDouble +
        (0.75 * n1uv((u, v)).toDouble / cuv((u, v)).toDouble) * p2)
      assert(r.getAs[Double]("p_kn3") == p3, s"p_kn3($u,$v,$w)")
      assert(p3 > 0 && p3 < 1, r.toString)
    }
    // the released-discount-mass identity, one context level up, exact
    cuv.keys.foreach { case (u, v) =>
      val released = cuvw.collect {
        case ((a, bb, _), c) if a == u && bb == v => BigDecimal(c) - BigDecimal("0.75") }.sum
      assert(released == BigDecimal(cuv((u, v))) - BigDecimal("0.75") * BigDecimal(n1uv((u, v))),
        s"mass identity for ($u,$v)")
    }
  }

  test("q107: KN doc scores match a plain-Scala recompute of the whole model+score pipeline") {
    val rows = graft.ops.TextOps.q107KnDocScore(spark, sf).collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val bigrams = texts.flatMap { case (_, t) =>
      val w = t.split(" "); w.dropRight(1).zip(w.drop(1)) }
    val cvw = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cv = bigrams.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val n1v = cvw.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val contw = cvw.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val b = cvw.size.toLong
    def pkn(v: String, w: String): Double =
      BigDecimal((cvw((v, w)).toDouble - 0.75) / cv(v).toDouble +
        (0.75 * n1v(v).toDouble / cv(v).toDouble) * (contw(w).toDouble / b.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = texts.flatMap { case (id, t) =>
      val w = t.split(" ")
      if (w.length < 2) None else {
        val bs = w.dropRight(1).zip(w.drop(1))
        val mass = bs.map { case (v, tk) => math.floor(pkn(v, tk) * 1e6).toLong }.sum
        Some(id -> ((bs.length.toLong, mass)))
      }
    }.toMap
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (nb, mass) = expect(id)
      assert(r.getAs[Long]("n_bi") == nb && r.getAs[Long]("kn_mass") == mass, s"doc $id")
      val score = BigDecimal(mass.toDouble / nb.toDouble / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("score") == score, s"score($id)")
      assert(score > 0 && score < 1, r.toString)
    }
  }

  test("q110: filtered ANN is pre-filter — every neighbor matches, and k survives where a post-filter would lose rows") {
    graft.functions.VectorFunctions.register(spark)
    val lab = Tables.embeddings(spark, sf).select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.q110FilteredAnn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(lab(r.getAs[Long]("neighbor_id")) % 3 == 0,
        s"non-matching neighbor served: $r")
    }
    // the semantics the operator exists for: post-filtering q74's
    // UNFILTERED top-k keeps only ~k·selectivity rows; the pre-filtered
    // search must beat that for at least one query (in practice most)
    val post = Similarity.q74IvfPqTopk(spark, sf).collect()
      .filter(r => lab(r.getAs[Long]("neighbor_id")) % 3 == 0)
      .groupBy(_.getAs[Long]("query_id")).view.mapValues(_.length).toMap
    val pre = rows.groupBy(_.getAs[Long]("query_id")).view.mapValues(_.length).toMap
    assert(pre.exists { case (q, n) => n > post.getOrElse(q, 0) },
      s"pre-filter never beat post-filter: pre=$pre post=$post")
  }

  test("q109: per-dim TV drift matches a plain-Scala recompute; identical cohorts would score zero") {
    val rows = Similarity.q109EmbedDrift(spark, sf).collect()
    assert(rows.length == 64)
    val vecs = Tables.embeddings(spark, sf)
      .selectExpr("label", "CAST(embedding AS ARRAY<DOUBLE>) AS e").collect()
      .filter(!_.isNullAt(1))
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    def bin(x: Double): Long =
      math.min(9L, math.max(0L, math.floor(x * 1.25 + 5.0).toLong))
    val (a, b) = vecs.partition(_._1 < 5)
    val (na, nb) = (a.length.toLong, b.length.toLong)
    rows.foreach { r =>
      val i = r.getAs[Int]("i")
      val ca = a.map(v => bin(v._2(i))).groupBy(identity).view.mapValues(_.length.toLong)
      val cb = b.map(v => bin(v._2(i))).groupBy(identity).view.mapValues(_.length.toLong)
      val tvS = (0L to 9L).map(bi =>
        math.abs(ca.getOrElse(bi, 0L) * nb - cb.getOrElse(bi, 0L) * na)).sum
      assert(r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb, s"dim $i totals")
      assert(r.getAs[Long]("tv_scaled") == tvS, s"dim $i tv_scaled")
      val tv = BigDecimal(tvS.toDouble / (2.0 * na.toDouble * nb.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("tv") == tv, s"dim $i tv")
      assert(tv >= 0 && tv <= 1, r.toString)
    }
    // self-drift sanity: a cohort against itself has tv_scaled = 0 by the
    // cross-multiplied identity — the statistic's zero is exact, not ~0
    val self = a.take(50)
    (0 until 64).foreach { i =>
      val c = self.map(v => bin(v._2(i))).groupBy(identity).view.mapValues(_.length.toLong)
      val z = (0L to 9L).map(bi =>
        math.abs(c.getOrElse(bi, 0L) * 50L - c.getOrElse(bi, 0L) * 50L)).sum
      assert(z == 0L)
    }
  }

  test("q108: no near-dup pair straddles a split; all three splits populated; split is a pure function of the group") {
    val rows = graft.ops.Dedup.q108LeakSafeSplit(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    val split = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val grp = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("grp")).toMap
    // the property the operator exists for: every J >= 0.6 pair lands on
    // ONE side of every boundary (checked over the actual pair set, not
    // the construction)
    val pairs = graft.ops.Dedup.q24DedupNgram(spark, sf).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    assert(pairs.nonEmpty, "vacuous: no near-dup pairs at sf0.001")
    pairs.foreach { case (a, bId) =>
      assert(split(a) == split(bId), s"pair ($a,$bId) straddles ${split(a)}/${split(bId)}")
      assert(grp(a) == grp(bId), s"pair ($a,$bId) in different groups")
    }
    val dist = rows.groupBy(_.getAs[String]("split")).view.mapValues(_.length).toMap
    assert(dist.keySet == Set("train", "val", "test"), dist.toString)
    // 80/10/10 by group-hash: at 500 docs every band must be populated and
    // train must dominate
    assert(dist("train") > dist("val") && dist("train") > dist("test"), dist.toString)
  }

  test("q97 continuation counts match an independent plain-Scala recompute") {
    val raw = scala.collection.mutable.Map.empty[String, Long]
    val ctx = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[String]]
    Tables.documents(spark, sf).select("text").collect().foreach { r =>
      val w = r.getString(0).split(" ", -1)
      var i = 0
      while (i < w.length - 1) {
        raw(w(i + 1)) = raw.getOrElse(w(i + 1), 0L) + 1L
        ctx.getOrElseUpdate(w(i + 1), scala.collection.mutable.Set.empty) += w(i)
        i += 1
      }
    }
    val expect = raw.keys.toSeq
      .map(t => (t, raw(t), ctx(t).size.toLong))
      .sortBy { case (t, _, c) => (-c, t) }.take(20)
    val got = graft.ops.TextOps.q97Continuation(spark, sf).collect()
      .map(r => (r.getAs[String]("tok"), r.getAs[Long]("raw_n"),
        r.getAs[Long]("cont_n"))).toSeq
    assert(got.nonEmpty && got.head._3 >= 2, "vacuous: no token with 2+ contexts")
    // the KN point: raw-frequency rank and continuation rank must actually
    // differ somewhere in the corpus, else the statistic adds nothing
    assert(got.exists { case (_, r, c) => r != c },
      "vacuous: raw == continuation everywhere")
    assert(got == expect, s"continuation top-20 diverges:\n got=$got\n exp=$expect")
  }

  test("q99 pca power iteration matches an independent plain-Scala recompute") {
    val dDim = 64
    val xs = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val n = xs.length
    val mu = Array.tabulate(dDim) { i =>
      (xs.map(x => math.floor(x._2(i) * 1e6).toLong).sum.toDouble / n) / 1e6
    }
    val cx = xs.map { case (id, e) =>
      (id, Array.tabulate(dDim)(i => e(i) - mu(i)))
    }
    val cov = Array.ofDim[Long](dDim, dDim)
    cx.foreach { case (_, c) =>
      var i = 0
      while (i < dDim) {
        var j = 0
        while (j < dDim) { cov(i)(j) += math.floor(c(i) * c(j) * 1e6).toLong; j += 1 }
        i += 1
      }
    }
    val cm = Array.tabulate(dDim, dDim)((i, j) => (cov(i)(j).toDouble / n) / 1e6)
    var v = Array.tabulate(dDim)(i => if (i == 0) 1.0 else 0.0)
    for (_ <- 1 to 3) {
      val w = Array.tabulate(dDim)(i =>
        (0 until dDim).map(j => math.floor(cm(i)(j) * v(j) * 1e6).toLong).sum)
      val n2 = w.map(x => BigInt(x) * BigInt(x)).sum
      v = w.map(x => if (n2 == 0) 0.0 else
        java.math.BigDecimal.valueOf(x.toDouble / math.sqrt(n2.toDouble))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
    }
    val expect = cx.map { case (id, c) =>
      (id, (0 until dDim).map(i => math.floor(c(i) * v(i) * 1e6).toLong).sum)
    }.sortBy { case (id, p) => (-math.abs(p), id) }.take(10).toSeq
    val got = graft.ops.Similarity.q99PcaPower(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("proj"))).toSeq
    assert(got.nonEmpty && got.head._2 != 0, "vacuous: zero top projection")
    // the component must actually differ from the axis-0 start vector,
    // else the iteration did nothing
    assert(v.count(math.abs(_) > 1e-4) > 1, "power iteration did not move off e0")
    assert(got == expect, s"pca top-10 diverges:\n got=$got\n exp=$expect")
  }

  test("q100 correlated dim pairs match an independent plain-Scala recompute") {
    val dDim = 64
    val xs = Tables.embeddings(spark, sf)
      .selectExpr("CAST(embedding AS ARRAY<DOUBLE>) AS e").collect()
      .map(_.getSeq[Double](0).toArray)
    val n = xs.length
    val mu = Array.tabulate(dDim) { i =>
      (xs.map(x => math.floor(x(i) * 1e6).toLong).sum.toDouble / n) / 1e6
    }
    val cov = Array.ofDim[Long](dDim, dDim)
    xs.foreach { e =>
      val c = Array.tabulate(dDim)(i => e(i) - mu(i))
      for (i <- 0 until dDim; j <- 0 until dDim)
        cov(i)(j) += math.floor(c(i) * c(j) * 1e6).toLong
    }
    val cm = Array.tabulate(dDim, dDim)((i, j) => (cov(i)(j).toDouble / n) / 1e6)
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val expect = (for {
      i <- 0 until dDim; j <- i + 1 until dDim
      if cm(i)(i) > 0 && cm(j)(j) > 0
    } yield (i, j, r6(cm(i)(j) / math.sqrt(cm(i)(i) * cm(j)(j)))))
      .sortBy { case (i, j, c) => (-math.abs(c), i, j) }.take(10)
    val got = graft.ops.Similarity.q100CorrPairs(spark, sf).collect()
      .map(r => (r.getAs[Int]("i"), r.getAs[Int]("j"), r.getAs[Double]("corr"))).toSeq
    assert(got.size == 10 && got.forall { case (_, _, c) => math.abs(c) <= 1.0 })
    assert(got == expect, s"corr top-10 diverges:\n got=$got\n exp=$expect")
  }

  test("q98 source overlap matches an independent plain-Scala recompute") {
    val grams = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[String]]
    Tables.documents(spark, sf).select("source", "text").collect().foreach { r =>
      val w = r.getString(1).split(" ", -1)
      var i = 0
      while (i < w.length - 2) {
        grams.getOrElseUpdate(w(i) + " " + w(i + 1) + " " + w(i + 2),
          scala.collection.mutable.Set.empty) += r.getString(0)
        i += 1
      }
    }
    val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
    grams.values.filter(_.size >= 2).foreach { ss =>
      val sorted = ss.toSeq.sorted
      for (a <- sorted.indices; b <- a + 1 until sorted.size)
        pairCounts((sorted(a), sorted(b))) =
          pairCounts.getOrElse((sorted(a), sorted(b)), 0L) + 1L
    }
    val expect = pairCounts.toSeq
      .map { case ((a, b), n) => (a, b, n) }
      .sortBy { case (a, b, n) => (-n, a, b) }
    val got = graft.ops.TextOps.q98SourceOverlap(spark, sf).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b"),
        r.getAs[Long]("n_shared"))).toSeq
    assert(got.nonEmpty && got.head._3 >= 2, "vacuous: no cross-source overlap")
    assert(got == expect, s"overlap matrix diverges:\n got=${got.take(5)}…\n exp=${expect.take(5)}…")
  }

  test("q96 hll: registers match an independent plain-Scala md5 recompute") {
    // pin the Spark-side hex derivation (conv bucket + regexp rho) against
    // a from-scratch MessageDigest implementation of the same register
    // semantics — if either side's hash plumbing drifts, this diverges
    val md = java.security.MessageDigest.getInstance("MD5")
    val regs = scala.collection.mutable.Map.empty[(String, Int), Int]
    Tables.documents(spark, sf).select("source", "text").collect().foreach { r =>
      val hex = md.digest(r.getString(1).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val bucket = Integer.parseInt(hex.substring(0, 3), 16)
      val tail = hex.substring(3, 16) // 13 hex chars = 52 bits
      val z = tail.takeWhile(_ == '0').length
      val rho = math.min(
        if (z == 13) 50
        else z * 4 + Integer.numberOfLeadingZeros(
          Integer.parseInt(tail(z).toString, 16)) - 28 + 1,
        50)
      val k = (r.getString(0), bucket)
      regs(k) = math.max(regs.getOrElse(k, 0), rho)
    }
    def stats(m: Map[Int, Int]): (Long, Long) = {
      val v = 4096L - m.size
      val s = m.values.map(r => 1L << (50 - r)).sum + v * (1L << 50)
      (v, s)
    }
    val bySrc = regs.groupBy(_._1._1).map { case (src, g) =>
      src -> stats(g.map { case ((_, b), r) => b -> r }.toMap)
    }
    val merged = stats(regs.groupBy(_._1._2).map { case (b, g) =>
      b -> g.values.max
    })
    val got = graft.ops.TextOps.q96HllDistinct(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("v_empty"), r.getAs[Long]("s_scaled")))).toMap
    assert(got.size >= 2, "need at least one source row plus the merged row")
    bySrc.foreach { case (src, exp) =>
      assert(got(src) == exp, s"source $src registers diverge: got=${got(src)} exp=$exp")
    }
    assert(got("_all_") == merged, s"merged registers diverge: got=${got("_all_")} exp=$merged")
  }

  test("q96 hll: merged row equals a direct whole-corpus sketch (merge is lossless)") {
    graft.functions.HllAgg.register(spark)
    val all = graft.ops.TextOps.q96HllDistinct(spark, sf)
      .filter(col("source") === "_all_").collect().head
    // direct: one global sketch, never split by source
    val direct = Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .withColumn("fp", md5(col("text")))
      .withColumn("bucket", expr("CAST(conv(substring(fp, 1, 3), 16, 10) AS BIGINT)"))
      .withColumn("tl", substring(col("fp"), 4, 13))
      .withColumn("z", length(regexp_extract(col("tl"), "^0*", 0)).cast("long"))
      .withColumn("nz", substring(regexp_replace(col("tl"), "^0*", ""), 1, 1))
      .withColumn("rho",
        when(col("z") === 13, lit(50L)).otherwise(least(
          col("z") * 4 +
            when(col("nz") === "1", lit(3L))
              .when(col("nz").isin("2", "3"), lit(2L))
              .when(col("nz").isin("4", "5", "6", "7"), lit(1L))
              .otherwise(lit(0L)) + 1L,
          lit(50L))))
      .agg(expr("graft_hll_stats(graft_hll_agg(bucket, rho))").as("st"))
      .select(col("st.v_empty"), col("st.s_scaled")).collect().head
    assert(all.getAs[Long]("v_empty") == direct.getLong(0) &&
      all.getAs[Long]("s_scaled") == direct.getLong(1),
      s"sketch merge lost information: merged=$all direct=$direct")
  }

  test("q96 hll: raw estimate is within 5% in the estimator's valid range (n >> 2.5m)") {
    // the catalog emits the RAW harmonic-mean estimate (no ln-based
    // small-range correction — non-portable libm); its accuracy claim
    // holds for n ≳ 2.5·m = 10240; verify on 400k synthetic distincts
    // (200k happens to be a ~3σ high draw for this md5 stream: +5.17%)
    graft.functions.HllAgg.register(spark)
    val est = spark.range(0, 400000, 1, 8)
      .selectExpr("md5(CAST(id AS STRING)) AS fp")
      .selectExpr(
        "CAST(conv(substring(fp, 1, 3), 16, 10) AS BIGINT) AS bucket",
        "CAST(length(regexp_extract(substring(fp, 4, 13), '^0*', 0)) AS BIGINT) AS z",
        "substring(regexp_replace(substring(fp, 4, 13), '^0*', ''), 1, 1) AS nz")
      .selectExpr("bucket",
        """CASE WHEN z = 13 THEN CAST(50 AS BIGINT)
          |ELSE LEAST(z * 4 + CASE WHEN nz = '1' THEN 3
          |                        WHEN nz IN ('2','3') THEN 2
          |                        WHEN nz IN ('4','5','6','7') THEN 1
          |                        ELSE 0 END + 1, CAST(50 AS BIGINT)) END AS rho""".stripMargin)
      .agg(expr("graft_hll_stats(graft_hll_agg(bucket, rho))").as("st"))
      .selectExpr("0.7213D / (1.0D + 1.079D / 4096.0D) * 4096.0D * 4096.0D * " +
        "1125899906842624.0D / CAST(st.s_scaled AS DOUBLE) AS est")
      .collect().head.getDouble(0)
    assert(math.abs(est - 400000.0) / 400000.0 < 0.05,
      s"raw HLL estimate off by >5% at n=400k: $est")
  }

  test("q96 hll: a stream that repeats every key yields the identical sketch") {
    // register max is idempotent: duplicates never move the sketch
    graft.functions.HllAgg.register(spark)
    def sketch(rows: Long): org.apache.spark.sql.Row = spark.range(0, rows, 1, 8)
      .selectExpr("md5(CAST(id % 20000 AS STRING)) AS fp")
      .selectExpr("CAST(conv(substring(fp, 1, 3), 16, 10) AS BIGINT) AS bucket",
        "CAST(length(regexp_extract(substring(fp, 4, 13), '^0*', 0)) AS BIGINT) + 1 AS rho")
      .agg(expr("graft_hll_stats(graft_hll_agg(bucket, rho))").as("st"))
      .select("st.v_empty", "st.s_scaled").collect().head
    assert(sketch(20000) == sketch(60000))
  }

  test("q111 rrf: fused list recomputes from the two public arms") {
    import graft.ops.{Retrieval, Similarity, TextOps}
    // the two arms, independently (the oracle certifies their values;
    // this differential certifies the FUSION: candidate union, per-arm
    // reciprocal contributions, absent-arm zero, rank/tie discipline)
    val p = TextOps.bm25Parts(spark, sf)
    val lex = TextOps.bm25RankedFrom(p.tf, p.df, p.stats, p.qt).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) -> r.getAs[Long]("rnk")).toMap
    val sem = Similarity.cosRanked(spark, sf, TextOps.Bm25NQueries, Retrieval.SemK).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Long]("rn")).toMap
    def contrib(r: Option[Long]): Long =
      r.map(rk => math.floor(1000000000.0 / (60.0 + rk)).toLong).getOrElse(0L)
    val expected = (lex.keySet ++ sem.keySet).toSeq
      .map { case k @ (q, doc) => (q, doc, contrib(lex.get(k)) + contrib(sem.get(k))) }
      .groupBy(_._1)
      .flatMap { case (q, cands) =>
        cands.sortBy { case (_, doc, rrf) => (-rrf, doc) }.take(10)
          .zipWithIndex.map { case ((_, doc, rrf), i) => (q, i + 1L, doc, rrf) }
      }.toSet
    val got = graft.ops.Retrieval.q111HybridRrf(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("rrf"))).toSet
    assert(got == expected, s"fusion diverges from arm recompute: " +
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("rrfScores: the one-partition union aggregate equals the full-outer fusion on crafted arms") {
    import graft.ops.Retrieval
    val s = spark
    import s.implicits._
    // q1: docs 1-3 lex only or both, doc 4 sem only; q2 lex only; q3 sem
    // only; q4: an RRF tie (both arms rank their doc first)
    val lex = Seq((1L, 1L, 1L), (1L, 2L, 2L), (1L, 3L, 3L), (2L, 5L, 1L), (4L, 10L, 1L))
      .toDF("query_id", "doc_id", "lex_rnk")
    val sem = Seq((1L, 2L, 1L), (1L, 4L, 2L), (1L, 1L, 3L), (3L, 7L, 1L), (4L, 11L, 1L))
      .toDF("query_id", "doc_id", "sem_rnk")
    def fullOuter(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) = {
      def arm(c: String) = coalesce(floor(lit(1000000000.0) / (lit(60) + col(c))).cast("long"), lit(0L))
      l.join(r, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf", arm("lex_rnk") + arm("sem_rnk"))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "doc_id", "lex_rnk", "sem_rnk", "rrf").collect().map(_.toSeq).toSet
    for ((l, r) <- Seq(lex -> sem, lex -> sem.limit(0), lex.limit(0) -> sem)) {
      val got = rows(Retrieval.rrfScores(l, r))
      assert(got.nonEmpty && got == rows(fullOuter(l, r)),
        s"union fusion diverges: ${got.toSeq.sortBy(_.toString)}")
    }
    val tie = rows(Retrieval.rrfScores(lex, sem)).filter(_.head == 4L)
    assert(tie.map(_.last).size == 1 && tie.size == 2, s"the crafted tie is not a tie: $tie")
    // the tie breaks on doc_id through the shared collapse tail, as before
    val ranked = Retrieval.collapseRankFrom(
      Retrieval.rrfScores(lex, sem).select(col("query_id"), col("doc_id"), col("rrf").as("score")),
      Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id"))
      .filter(col("query_id") === 4L).select("doc_id").as[Long].collect().toSeq
    assert(ranked == Seq(10L, 11L), s"tie order $ranked")
  }

  test("q112 conjunctive: every hit contains ALL of its query's terms; no qualifying doc is ranked out below a non-qualifier") {
    import graft.ops.Retrieval
    val rows = Retrieval.q112Conjunctive(spark, sf).collect()
    assert(rows.nonEmpty, "conjunctive retrieval returned no rows on the spec corpus")
    // recompute the ground truth directly from the raw text
    val docs = graft.Tables.documents(spark, sf)
      .selectExpr("doc_id", "split(text, ' ') AS w").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1)).toMap
    val qTerms = docs.filter(_._1 < graft.ops.TextOps.Bm25NQueries)
      .map { case (q, w) => q -> w.slice(0, 4).distinct.toSet }
    rows.foreach { r =>
      val (q, doc) = (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"))
      val missing = qTerms(q) -- docs(doc).toSet
      assert(missing.isEmpty, s"q$q ranked doc $doc missing terms $missing")
      assert(r.getAs[Long]("tot_tf") ==
        docs(doc).count(qTerms(q)), s"tot_tf drift on ($q,$doc)")
    }
  }

  test("q114 mmr: distributed selection rounds reproduce the literal greedy recursion") {
    import graft.ops.{Retrieval, Similarity, TextOps}
    // ground truth: run Carbonell-Goldstein greedy MMR directly on the
    // collected candidate lists (rel) and pairwise sims — the sequential
    // algorithm the chained rounds claim to distribute
    val cand = Similarity.cosRanked(spark, sf, TextOps.Bm25NQueries, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim")))
    val emb = graft.Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id")
        .isin(cand.map(_._2).distinct: _*)).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      val res = dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      BigDecimal(res).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = cand.groupBy(_._1).toSeq.flatMap { case (q, cs) =>
      val rel = cs.map(c => c._2 -> c._3).toMap
      var selected = Vector.empty[(Long, Long)] // (doc, mmr)
      for (_ <- 1 to 5) {
        val pool = rel.keySet -- selected.map(_._1)
        // round 1 ranks the RAW rel (the oracle's s1 order), later rounds
        // the floored score
        selected :+= (if (selected.isEmpty) {
          val doc = pool.minBy(doc => (-rel(doc), doc))
          doc -> math.floor(rel(doc) * 500000.0).toLong
        } else pool.toSeq.map { doc =>
          val maxsim = selected.map(s => cos(emb(doc), emb(s._1))).max
          doc -> math.floor((rel(doc) - maxsim) * 500000.0).toLong
        }.minBy { case (doc, sc) => (-sc, doc) })
      }
      selected.zipWithIndex.map { case ((doc, sc), i) => (q, i + 1L, doc, sc) }
    }.toSet
    val got = Retrieval.q114MmrDiversified(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("sel_rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("mmr"))).toSet
    assert(got == expected, s"greedy recursion diverges: " +
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("mmr round 1 picks the higher raw rel when two rels floor to one score") {
    import graft.ops.Retrieval
    val session = spark
    import session.implicits._
    graft.functions.VectorFunctions.register(spark)
    // both rels floor to 250000 at the 500000 scale; the lower rel has the
    // lower doc_id, so a floored-score argmax with a doc_id tiebreak picks
    // doc 1 while the oracle's s1 (raw rel DESC, doc_id) picks doc 2
    val cand = Seq((0L, 1L, 0.5000001), (0L, 2L, 0.5000015)).toDF("query_id", "doc_id", "rel")
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("vec_id", "e")
      .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
    val got = Retrieval.mmrSelect(cand, vecs).orderBy("sel_rnk").collect()
      .map(r => (r.getAs[Long]("sel_rnk"), r.getAs[Long]("doc_id"), r.getAs[Long]("mmr"))).toSeq
    // round 2: the orthogonal doc 1 scores floor((0.5000001 − 0)·500000)
    assert(got == Seq((1L, 2L, 250000L), (2L, 1L, 250000L)), got.toString)
  }

  test("q115 append algebra: segment-folded index frames are bit-identical to a single-pass rebuild") {
    import graft.ops.{Retrieval, TextOps}
    val dir = java.nio.file.Files.createTempDirectory("graft_lexappend_spec").toString
    // one null-text doc past the cut (it lands in seg1): both builders
    // must apply the same null policy, or tf, df and tot_dl drift apart
    val docs = TextOps.tokenizedDocs(spark, sf).unionByName(spark.range(900001L, 900002L)
      .select(col("id").as("doc_id"), lit(null).cast("array<string>").as("w")))
    val cut = graft.Tables.documents(spark, sf)
      .agg(org.apache.spark.sql.functions.max("doc_id")).head().getLong(0) * 4 / 5
    Retrieval.lexIndexSegment(docs.filter(s"doc_id <= $cut"), dir, "seg0")
    Retrieval.lexIndexAppend(spark, dir, docs.filter(s"doc_id > $cut"), "seg1")
    val (tf, df, stats) = Retrieval.lexIndexServe(spark, dir)
    val (rtf, rdf, rstats) = TextOps.lexIndexOf(docs)
    assert(tf.collect().toSet == rtf.collect().toSet, "postings union drifts from rebuild")
    assert(df.collect().toSet == rdf.collect().toSet, "additive df fold drifts from rebuild")
    val Array(sn, sd) = stats.select("n_docs", "avgdl").head().toSeq.toArray
    val r = rstats.select("n_docs", "avgdl").head()
    assert(sn == r.getLong(0) &&
      java.lang.Double.doubleToLongBits(sd.asInstanceOf[Double]) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
      s"merged stats ($sn, $sd) != rebuild (${r.getLong(0)}, ${r.getDouble(1)}) — avgdl must be BIT-identical")
  }

  test("lexIndexCompact: 6-segment artifact compacts to ONE segment with bit-identical served ranking") {
    import graft.ops.{Retrieval, TextOps}
    val dir = java.nio.file.Files.createTempDirectory("graft_lexcompact_src").toString
    val out = java.nio.file.Files.createTempDirectory("graft_lexcompact_out").toString + "/c"
    val docs = TextOps.tokenizedDocs(spark, sf)
    // a many-segment history (the daily-append steady state compaction
    // exists for): 6 disjoint doc slices, one segment each
    (0 until 6).foreach { m =>
      Retrieval.lexIndexSegment(docs.filter(col("doc_id") % 6 === m), dir, s"seg$m")
    }
    val qt = TextOps.queryTerms(spark, sf)
    def ranked(path: String) = {
      val (tf, df, st) = Retrieval.lexIndexServe(spark, path)
      TextOps.bm25RankedFrom(tf, df, st, qt).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    }
    val before = ranked(dir)
    Retrieval.lexIndexCompact(spark, dir, out)
    assert(Artifacts.segmentCount(spark, out) == 1,
      "compaction must produce exactly one segment")
    val after = ranked(out)
    assert(before.nonEmpty && after == before,
      s"compacted serve drifted: ${after.size} vs ${before.size} rows")
    // and the additive identity closes the triangle: compacted ≡ rebuild
    val (rtf, rdf, rst) = TextOps.lexIndexOf(docs)
    val rebuilt = TextOps.bm25RankedFrom(rtf, rdf, rst, qt).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(after == rebuilt, "compacted serve drifted from a single-pass rebuild")
  }

  test("positional postings: sorted-run arrays equal the exploded token stream exactly") {
    import graft.ops.TextOps
    val docs = TextOps.tokenizedDocs(spark, sf)
    val fromRuns = TextOps.positionalPostings(docs)
      .select(col("doc_id"), col("term"), explode(col("positions")).as("pos"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val fromStream = docs.select(col("doc_id"), posexplode(col("w")).as(Seq("i", "term")))
      .collect().map(r => (r.getLong(0), r.getString(2), r.getInt(1) + 1)).toSet
    assert(fromRuns.nonEmpty && fromRuns == fromStream,
      s"positional postings drift: ${fromRuns.size} vs ${fromStream.size} occurrences")
  }

  test("positional segments: compaction carries pp through; a mixed artifact fails loud") {
    import graft.ops.{Retrieval, TextOps}
    val dir = java.nio.file.Files.createTempDirectory("graft_lexpos_src").toString
    val out = java.nio.file.Files.createTempDirectory("graft_lexpos_out").toString + "/c"
    val docs = TextOps.tokenizedDocs(spark, sf)
    (0 until 3).foreach { m =>
      Retrieval.lexIndexSegmentPos(docs.filter(col("doc_id") % 3 === m), dir, s"seg$m")
    }
    def pos(path: String) = Retrieval.lexIndexServePos(spark, path)
      .select(col("doc_id"), col("term"), explode(col("positions")).as("p"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val before = pos(dir)
    Retrieval.lexIndexCompact(spark, dir, out)
    assert(Artifacts.segmentCount(spark, out) == 1)
    assert(before.nonEmpty && pos(out) == before,
      "compaction dropped or mangled positional postings")
    // mixed artifact (a position-less segment appended): serve-pos and
    // compact must both refuse rather than silently lose phrase recall
    Retrieval.lexIndexSegment(docs.filter(col("doc_id") % 3 === 0), dir, "seg_nopos")
    intercept[IllegalArgumentException] { Retrieval.lexIndexServePos(spark, dir) }
    intercept[IllegalArgumentException] {
      Retrieval.lexIndexCompact(spark, dir,
        java.nio.file.Files.createTempDirectory("graft_lexpos_out2").toString + "/c2")
    }
  }

  test("positional root: opening two pp segments (the q120 shape) runs 0 jobs") {
    import graft.ops.{Retrieval, TextOps}
    val dir = java.nio.file.Files.createTempDirectory("graft_lexpos_open").toString
    val docs = TextOps.tokenizedDocs(spark, sf)
    Retrieval.lexIndexSegmentPos(docs.filter(col("doc_id") % 2 === 0), dir, "seg0")
    Retrieval.lexIndexSegmentPos(docs.filter(col("doc_id") % 2 === 1), dir, "seg1")
    val (pp, opened) = Trace(spark.sparkContext)(Retrieval.lexIndexServePos(spark, dir))
    assert(opened.jobs == 0,
      s"opening the positional root ran ${opened.jobs} Spark jobs — pp lost its declared schema")
    assert(pp.count() == TextOps.positionalPostings(docs).count())
  }

  test("opening an IVF version or a graph fold's inputs plans without a job: flat and residual serves, graphAppend's frames") {
    import Similarity.{GraphCells, GraphEdges, IvfCents}
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_open").toString
    val queries = Similarity.embWithNorm(spark, sf)
      .filter(col("vec_id") < Similarity.AdcQueries).select("vec_id", "e")
    val dead = queries.select((col("vec_id") + 10L).as("vec_id"))
    val (fc, fb, fcodes) = flatTrio
    Similarity.writeIvfArtifacts(s"$dir/flat", fc, fb, fcodes, "t0" -> dead)
    val (rc, rb, rcodes) = residualTrio
    Similarity.writeIvfArtifacts(s"$dir/resid", rc, rb, rcodes, "t0" -> dead)
    Artifacts.markResidual(spark, s"$dir/resid")
    for (root <- Seq(s"$dir/flat", s"$dir/resid")) {
      val codec = Similarity.IvfCodec.of(spark, root)
      val (served, planned) = Trace(spark.sparkContext)(
        codec.searchRoot(spark, root, queries, Similarity.IvfNProbe, Similarity.AdcK))
      assert(planned.jobs == 0, s"planning a $codec serve ran ${planned.jobs} jobs")
      assert(served.count() > 0, s"$codec serve returned no rows")
    }
    val g = s"$dir/graph"
    Similarity.knnGraphArtifact(spark, sf, g)
    val base = Similarity.embWithNorm(spark, sf).filter(col("nrm") > 0)
      .select("vec_id", "e", "nrm")
    val fresh = base.limit(3).select((col("vec_id") + 1000000L).as("vec_id"), col("e"))
    val (_, folded) = Trace(spark.sparkContext)(Similarity.knnGraphAppendFrom(spark, base,
      GraphCells.read(spark, g), GraphEdges.read(spark, g), IvfCents.read(spark, g), fresh))
    assert(folded.jobs == 0, s"planning a graph fold ran ${folded.jobs} jobs")
  }

  test("q119 query likelihood: scores match a plain-Scala Dirichlet recompute (sum-form identity)") {
    import graft.ops.Retrieval
    val toks = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val total = toks.values.map(_.size.toLong).sum
    val cf = toks.values.flatten.groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    val mu = 2000L
    val expected = (for {
      q <- 0L until 5L
      terms = toks(q).take(4).distinct
      sumCfQ = terms.map(t => cf.getOrElse(t, 0L)).sum
      (d, w) <- toks.toSeq if d != q
      sumTf = w.count(terms.contains).toLong if sumTf > 0
      score = math.floor((sumTf * total + mu * sumCfQ).toDouble /
        ((w.size + mu) * total).toDouble * 1e9).toLong
    } yield (q, d, score))
      .groupBy(_._1).flatMap { case (q, rows) =>
        rows.sortBy { case (_, d, sc) => (-sc, d) }.take(10).zipWithIndex
          .map { case ((_, d, sc), i) => (q, i + 1L, d, sc) }
      }.toSet
    val got = Retrieval.q119QueryLikelihood(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.nonEmpty && got == expected,
      s"QL drift: got ${got.size}, expected ${expected.size}")
  }

  test("q117 phrase search: full output reproduces a plain-Scala sliding-window recompute") {
    import graft.ops.{Retrieval, TextOps}
    val toks = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val phrases = (0L until 5L).map(q => q -> toks(q).take(3)).toMap
    val expected = (for {
      (q, ph) <- phrases.toSeq if ph.size == 3
      (d, w) <- toks.toSeq if d != q
      n = w.sliding(3).count(_ == ph) if n > 0
    } yield (q, d, n.toLong))
      .groupBy(_._1).flatMap { case (q, hits) =>
        hits.sortBy { case (_, d, n) => (-n, d) }.take(10).zipWithIndex
          .map { case ((_, d, n), i) => (q, i + 1L, d, n) }
      }.toSet
    val got = Retrieval.q117PhraseSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected, s"phrase output drift: got ${got.size}, expected ${expected.size}")
  }

  /** Plain-Scala BM25 over tokenized docs — the independent recompute the
    * PRF/snippet/collapse differentials share (same fixed-point part chain
    * as TextOps.bm25PartExpr: per-term floor(·10⁶) then Σ). */
  private def scalaBm25(toks: Map[Long, Seq[String]],
      qt: Map[Long, Seq[String]]): Map[(Long, Long), Long] = {
    val n = toks.size.toLong
    val dfm = toks.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, o) => t -> o.size.toLong }
    val avgdl = toks.values.map(_.size.toLong).sum.toDouble / n
    (for {
      (q, terms) <- qt.toSeq
      (d, w) <- toks.toSeq if d != q
      tfm = w.groupBy(identity).map { case (t, o) => t -> o.size.toLong }
      parts = terms.flatMap { t =>
        tfm.get(t).map { tf =>
          math.floor(((n - dfm(t)).toDouble + 0.5) / (dfm(t).toDouble + 0.5) *
            (tf.toDouble * 2.2 / (tf.toDouble + 1.2 *
              (0.25 + 0.75 * w.size.toDouble / avgdl))) * 1e6).toLong
        }
      }
      if parts.nonEmpty
    } yield (q, d) -> parts.sum).toMap
  }

  private def docToks: Map[Long, Seq[String]] =
    Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap

  private def topK[A](rows: Seq[(Long, Long, A)], k: Int)(
      key: ((Long, Long, A)) => (Long, Long)): Seq[(Long, Long, Long, A)] =
    rows.groupBy(_._1).toSeq.flatMap { case (q, hits) =>
      hits.sortBy(key).take(k).zipWithIndex
        .map { case ((_, d, v), i) => (q, i + 1L, d, v) }
    }

  test("q121 proximity: pair counts reproduce a plain-Scala within-slop recompute") {
    import graft.ops.Retrieval
    val toks = docToks
    val expected = (for {
      q <- 0L until 5L
      w = toks(q) if w.size >= 2 && w(0) != w(1)
      (t1, t2) = (w(0), w(1))
      (d, wd) <- toks.toSeq if d != q
      p1 = wd.zipWithIndex.collect { case (t, i) if t == t1 => i + 1 }
      p2 = wd.zipWithIndex.collect { case (t, i) if t == t2 => i + 1 }
      np = (for (a <- p1; b <- p2 if math.abs(a - b) <= 5) yield 1).size.toLong
      if np > 0
    } yield (q, d, np)).toSeq
    val exp = topK(expected, 10) { case (_, d, np) => (-np, d) }.toSet
    val got = Retrieval.q121Proximity(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.nonEmpty && got == exp,
      s"proximity drift: got ${got.size}, expected ${exp.size}")
  }

  test("q122 PRF: expansion terms and re-ranked output reproduce a plain-Scala recompute") {
    import graft.ops.Retrieval
    val toks = docToks
    val qt = (0L until 5L).map(q => q -> toks(q).take(4).distinct).toMap
    val base = scalaBm25(toks, qt)
    val fb = base.toSeq.map { case ((q, d), sc) => (q, d, sc) }
      .groupBy(_._1).map { case (q, hits) =>
        q -> hits.sortBy { case (_, d, sc) => (-sc, d) }.take(3).map(_._2)
      }
    val exq = fb.map { case (q, docs) =>
      val wfb = docs.flatMap(d => toks(d)).groupBy(identity)
        .map { case (t, o) => t -> o.size.toLong }
        .filterNot { case (t, _) => qt(q).contains(t) }
      q -> wfb.toSeq.sortBy { case (t, w) => (-w, t) }.take(5).map(_._1)
    }
    val qt2 = qt.map { case (q, ts) => q -> (ts ++ exq.getOrElse(q, Nil)) }
    val fin = scalaBm25(toks, qt2).toSeq.map { case ((q, d), sc) => (q, d, sc) }
    val exp = topK(fin, 10) { case (_, d, sc) => (-sc, d) }.toSet
    val got = Retrieval.q122PrfExpansion(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.nonEmpty && got == exp,
      s"PRF drift: got ${got.size}, expected ${exp.size}")
  }

  test("q123 snippet: best-window start/coverage reproduce a plain-Scala scan") {
    import graft.ops.Retrieval
    val toks = docToks
    val qt = (0L until 5L).map(q => q -> toks(q).take(4).distinct).toMap
    val base = scalaBm25(toks, qt)
    val cand = base.toSeq.map { case ((q, d), sc) => (q, d, sc) }
      .groupBy(_._1).toSeq.flatMap { case (q, hits) =>
        hits.sortBy { case (_, d, sc) => (-sc, d) }.take(3).map(t => (q, t._2))
      }
    val exp = (for {
      (q, d) <- cand
      w = toks(d)
      matched = w.zipWithIndex.collect {
        case (t, i) if qt(q).contains(t) => (t, i + 1)
      }
      if matched.nonEmpty
      starts = matched.map(_._2).distinct.sorted
      scored = starts.map { p =>
        (matched.collect { case (t, pp) if pp >= p && pp < p + 8 => t }
          .distinct.size.toLong, p)
      }
      (bn, bp) = scored.maxBy { case (nn, p) => (nn, -p) }
    } yield (q, d, bn, bp.toLong)).toSet
    val got = Retrieval.q123Snippet(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.nonEmpty && got == exp,
      s"snippet drift: got ${got.size}, expected ${exp.size}")
  }

  test("q124 cluster collapse: one doc per near-dup cluster, best score survives, using q53's own labels") {
    import graft.ops.{Dedup => DD, Retrieval}
    val toks = docToks
    val qt = (0L until 5L).map(q => q -> toks(q).take(4).distinct).toMap
    val scores = scalaBm25(toks, qt)
    val cl = DD.q53DedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val collapsed = scores.toSeq
      .map { case ((q, d), sc) => (q, cl.getOrElse(d, d), d, sc) }
      .groupBy { case (q, ck, _, _) => (q, ck) }
      .map { case (_, rows) => rows.minBy { case (_, _, d, sc) => (-sc, d) } }
      .toSeq.map { case (q, ck, d, sc) => (q, d, (sc, ck)) }
    val exp = topK(collapsed, 10) { case (_, d, (sc, _)) => (-sc, d) }
      .map { case (q, r, d, (sc, ck)) => (q, r, d, sc, ck) }.toSet
    val got = Retrieval.q124ClusterCollapsed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got.nonEmpty && got == exp,
      s"collapse drift: got ${got.size}, expected ${exp.size}")
    // and the output never hands the generator two docs of one cluster
    got.groupBy(t => (t._1, t._5)).foreach { case (k, rows) =>
      assert(rows.size == 1, s"cluster $k appears ${rows.size} times")
    }
  }

  test("q125 fuzzy: SymSpell deletion-join output reproduces a brute-force levenshtein recompute") {
    import graft.ops.Retrieval
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val toks = docToks
    val vocab = toks.values.flatten.toSet.filter(_.nonEmpty)
    val qt = (0L until 5L).map(q => q -> toks(q).take(4).distinct.filter(_.nonEmpty)).toMap
    val expected = (for {
      (q, terms) <- qt.toSeq
      fuzzy = (for (t <- terms; v <- vocab if lev(t, v) <= 1) yield (t, v))
      (d, w) <- toks.toSeq if d != q
      ws = w.toSet
      nf = fuzzy.collect { case (t, v) if ws.contains(v) => t }.distinct.size.toLong
      if nf > 0
    } yield (q, d, nf)).toSeq
    val exp = topK(expected, 10) { case (_, d, nf) => (-nf, d) }.toSet
    val got = Retrieval.q125FuzzySearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.nonEmpty && got == exp,
      s"fuzzy drift: got ${got.size}, expected ${exp.size}")
  }

  test("q129 cluster append: label-edge fold ≡ full recluster bit-for-bit; fresh docs actually mix into base clusters") {
    import graft.ops.{Dedup => DD}
    val full = DD.q53DedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = DD.q129ClusterAppend(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc.nonEmpty && inc == full,
      s"incremental fold drifted from the full recluster: " +
        s"missing=${(full -- inc).take(3)} extra=${(inc -- full).take(3)}")
    // non-vacuity: the fold only exercises the merge path if some cluster
    // spans the base/fresh cut
    val cut = graft.Tables.documents(spark, sf)
      .agg(org.apache.spark.sql.functions.max("doc_id")).head().getLong(0) * 4 / 5
    val byCluster = full.groupBy(_._2)
    assert(byCluster.exists { case (_, m) =>
      m.exists(_._1 <= cut) && m.exists(_._1 > cut)
    }, "no cluster spans the base/fresh cut — the fold was never exercised")
  }

  test("q127 ANN tombstones: pre-filter serve ≡ post-filtering the FULL unfiltered candidate list; no deleted id served; delete non-vacuous") {
    import graft.ops.Similarity
    val spark0 = spark
    val (emb, _, _) = Similarity.pqParts(spark0, sf)
    val (cents, books, codeTable) = flatTrio
    val queries = emb.filter(col("vec_id") < 10).select("vec_id", "e")
    // the unfiltered candidate universe (k = all): what a post-filter
    // consumer would start from
    val full = Similarity.ivfPqSearchFrom(cents, books, codeTable, queries,
        k = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val deleted = (id: Long) => id % 7 == 3 && id >= 10
    val expected = full.groupBy(_._1).toSeq.flatMap { case (q, rows) =>
      rows.filterNot { case (_, n, _) => deleted(n) }
        .sortBy { case (_, n, adc) => (adc, n) }.take(Similarity.AdcK).zipWithIndex
        .map { case ((_, n, adc), i) => (q, n, adc, i + 1L) }
    }.toSet
    val got = Similarity.q127AnnTombstoneServed(spark0, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getAs[Long]("rn"))).toSet
    assert(got.nonEmpty && got == expected,
      s"pre-filter serve drifted from post-filtered-all-candidates: got ${got.size}, expected ${expected.size}")
    got.foreach { case (_, n, _, _) => assert(!deleted(n), s"deleted id $n served") }
    // the contract is only exercised if some deleted id was a candidate
    assert(full.exists { case (_, n, _) => deleted(n) },
      "no deleted id ever appeared as a candidate — delete set vacuous at this SF")
  }

  test("ANN tombstone compaction: multi-batch tombstones fold; compacted plain serve ≡ tombstoned serve; no resurrection") {
    import graft.ops.Similarity
    // q127's entry builds the artifact + first tombstone (t0)
    Similarity.q127AnnTombstoneServed(spark, sf).collect()
    val root = s"${Artifacts.datasetScratch(sf)}/ivftomb"
    val (emb, _, _) = Similarity.pqParts(spark, sf)
    // a second delete batch lands through the streaming surface
    graft.streaming.VecStream.tombstoneBatch(
      emb.filter(col("vec_id") % 7 === 5 && col("vec_id") >= 10).select("vec_id"),
      root, "t1")
    val cents = spark.read.parquet(s"$root/cents")
    val books = spark.read.parquet(s"$root/books")
    val codes = spark.read.parquet(s"$root/codes")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/tombstones"))
      .filter(_.isDirectory).map(_.getPath.toString).sorted.toSeq
    assert(tombs.size == 2, s"expected 2 tombstone files, got $tombs")
    val del = spark.read.parquet(tombs: _*).select("vec_id").distinct()
    val queries = emb.filter(col("vec_id") < 10).select("vec_id", "e")
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getAs[Long]("rn"))).toSet
    val tombstoned = key(Similarity.ivfPqSearchFrom(cents, books,
      codes.join(del, Seq("vec_id"), "left_anti"), queries).collect())
    val out = java.nio.file.Files.createTempDirectory("graft_ivfcompact").toString + "/c"
    Similarity.ivfCodesCompact(spark, root, out)
    assert(!new java.io.File(s"$out/tombstones").exists,
      "compacted root must not carry tombstones — they were applied")
    val compacted = key(Similarity.ivfPqSearchFrom(
      spark.read.parquet(s"$out/cents"), spark.read.parquet(s"$out/books"),
      spark.read.parquet(s"$out/codes"), queries).collect())
    assert(tombstoned.nonEmpty && compacted == tombstoned,
      "compacted artifact resurrected or lost deleted vectors")
    val nDel = codes.join(del, Seq("vec_id"), "left_semi").count()
    assert(nDel > 0 && spark.read.parquet(s"$out/codes").count() == codes.count() - nDel,
      "compacted code table row count drifted from codes minus deleted")
    // hygiene: drop the extra batch so a later q127 run in this JVM sees
    // only the delete set its oracle states (the artifact root is shared
    // per-dataset within the JVM)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/tombstones/t1"), true)
  }

  test("tombstone deletes: served-with-deletes ≡ rebuild-minus-deleted; compaction applies them physically (no resurrection)") {
    import graft.ops.{Retrieval, TextOps}
    val dir = java.nio.file.Files.createTempDirectory("graft_lextomb_spec").toString
    val out = java.nio.file.Files.createTempDirectory("graft_lextomb_out").toString + "/c"
    val docs = TextOps.tokenizedDocs(spark, sf)
    // two segments (the delete contract must compose with the append one)
    Retrieval.lexIndexSegment(docs.filter(col("doc_id") % 2 === 0), dir, "seg0")
    Retrieval.lexIndexSegment(docs.filter(col("doc_id") % 2 === 1), dir, "seg1")
    val delPred = col("doc_id") % 7 === 3 && col("doc_id") >= 5
    // tombstone includes DUPLICATE and NONEXISTENT ids — both must be inert
    Retrieval.lexTombstone(
      docs.filter(delPred).select("doc_id")
        .unionByName(docs.filter(delPred).select("doc_id"))
        .unionByName(docs.sparkSession.range(900000, 900003).selectExpr("id AS doc_id")),
      dir, "t0")
    val qt = TextOps.queryTerms(spark, sf)
    def rank(tf: org.apache.spark.sql.DataFrame, df: org.apache.spark.sql.DataFrame,
        st: org.apache.spark.sql.DataFrame) =
      TextOps.bm25RankedFrom(tf, df, st, qt).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val (stf, sdf, sst) = Retrieval.lexIndexServeDel(spark, dir)
    val served = rank(stf, sdf, sst)
    val (rtf, rdf, rst) = TextOps.lexIndexOf(docs.filter(!delPred))
    val rebuilt = rank(rtf, rdf, rst)
    assert(served.nonEmpty && served == rebuilt,
      "tombstoned serve drifted from the rebuild over the remaining corpus")
    // the deleted docs actually mattered (the delete isn't vacuous) — the
    // undeleted ranking comes from a full rebuild, because the plain serve
    // entry now REFUSES to ignore a tombstones dir (the round-15 ADVICE
    // hardening: it delegates to the corrected serve instead of silently
    // resurrecting deleted docs)
    val (ftf, fdf, fst) = TextOps.lexIndexOf(docs)
    assert(rank(ftf, fdf, fst) != served,
      "delete set did not change the ranking — test corpus too small to exercise the contract")
    val (dtf, ddf, dst) = Retrieval.lexIndexServe(spark, dir)
    assert(rank(dtf, ddf, dst) == served,
      "plain serve of a tombstoned root must delegate to the corrected serve — resurrection is the one inconsistency the delete contract cannot survive")
    // compaction applies tombstones physically: one segment, no
    // tombstones dir, plain serve (no delete logic) reproduces the ranking
    Retrieval.lexIndexCompact(spark, dir, out)
    assert(Artifacts.segmentCount(spark, out) == 1)
    assert(!new java.io.File(s"$out/tombstones").exists,
      "compacted root must not carry tombstones — they were applied")
    val (ctf, cdf, cst) = Retrieval.lexIndexServe(spark, out)
    assert(rank(ctf, cdf, cst) == served,
      "compacted artifact resurrected or lost deleted docs")
  }

  test("tombstoned lexical serve: 3 segments + 2 tombstone batches ≡ rebuild, zero jobs to open, declared schemas match the written files") {
    import graft.ops.{Retrieval, TextOps}
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lexdel_spec").toString
    val out = java.nio.file.Files.createTempDirectory("graft_lexdel_out").toString + "/c"
    // "solo" occurs only in doc 4, so deleting doc 4 drops its df to 0
    val docs = Seq(1L -> "alpha beta gamma", 2L -> "beta beta delta", 3L -> "gamma alpha",
        4L -> "solo alpha beta", 5L -> "delta delta delta", 6L -> "alpha",
        7L -> "beta gamma delta alpha", 8L -> "gamma gamma", 9L -> "epsilon beta")
      .toDF("doc_id", "text").select(col("doc_id"), split(col("text"), " ").as("w"))
    (0 until 3).foreach { m =>
      Retrieval.lexIndexSegment(docs.filter(col("doc_id") % 3 === m), dir, s"seg$m")
    }
    // doc 4 is deleted by BOTH batches; 999 is not in the index
    Retrieval.lexTombstone(Seq(4L, 7L).toDF("doc_id"), dir, "t0")
    Retrieval.lexTombstone(Seq(4L, 2L, 999L).toDF("doc_id"), dir, "t1")
    val ((tf, df, st), opened) =
      Trace(spark.sparkContext)(Retrieval.lexIndexServeDel(spark, dir))
    assert(opened.jobs == 0,
      s"building the serve frames ran ${opened.jobs} Spark jobs — a segment or tombstone read lost its declared schema")
    val (rtf, rdf, rst) = TextOps.lexIndexOf(docs.filter(!col("doc_id").isin(2L, 4L, 7L)))
    assert(tf.collect().toSet == rtf.collect().toSet, "postings drift from the rebuild")
    val served = df.collect().toSet
    assert(served == rdf.collect().toSet, "df correction drifts from the rebuild")
    assert(!served.exists(_.getString(0) == "solo"), "a term whose df reached 0 must be dropped")
    val Seq(s1) = st.collect().toSeq
    val Seq(r1) = rst.collect().toSeq
    assert(s1.getLong(0) == r1.getLong(0) && s1.getLong(1) == r1.getLong(1) &&
      java.lang.Double.doubleToLongBits(s1.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r1.getDouble(2)),
      s"stats $s1 != rebuild $r1 — avgdl must be BIT-identical")
    // every declared schema equals the schema each of its writers wrote,
    // read back from the parquet footers (never under the declared schema)
    def written(set: Artifacts.FileSet, roots: String*): Unit = roots.foreach { r =>
      assert(spark.read.parquet(set.path(r)).schema == set.schema, s"${set.path(r)} drifted")
    }
    // the lexical segment build and compactor, both tombstone writers
    Retrieval.lexIndexCompact(spark, dir, out)
    Seq(Retrieval.LexTf, Retrieval.LexDf, Retrieval.LexStats)
      .foreach(written(_, s"$dir/seg0", s"$out/seg0"))
    graft.streaming.DocStream.tombstoneBatch(spark, dir, Seq(5).toDF("doc_id"), "d0")
    Seq("t0", "d0").foreach(t => assert(
      spark.read.parquet(s"$dir/tombstones/$t").schema == Artifacts.DocTombstones.schema, t))
    val ivf = java.nio.file.Files.createTempDirectory("graft_ivftomb_schema").toString
    graft.streaming.VecStream.tombstoneBatch(Seq(3).toDF("vec_id"), ivf, "d0")
    assert(spark.read.parquet(s"$ivf/tombstones/d0").schema == Artifacts.VecTombstones.schema)
    val pos = java.nio.file.Files.createTempDirectory("graft_lexpos_schema").toString
    Retrieval.lexIndexSegmentPos(docs, pos, "seg0")
    Retrieval.lexIndexCompact(spark, pos, s"$pos/c")
    written(Retrieval.LexPp, s"$pos/seg0", s"$pos/c/seg0")
    // the containment build (its compaction: the containment compaction case)
    val cont = java.nio.file.Files.createTempDirectory("graft_contain_schema").toString
    val twoDocs = Seq(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma epsilon")
      .toDF("doc_id", "text")
    Dedup.containmentArtifactBuild(spark, cont, twoDocs)
    written(Dedup.ContainmentSeg, s"$cont/seg0")
    written(Dedup.ContainmentRank, cont)
    // the IVF sets: flat and residual builds, compaction, flat and
    // residual split and merge, the streaming append
    import Similarity.{IvfBooks, IvfCents, IvfCodes}
    val ivfw = java.nio.file.Files.createTempDirectory("graft_ivf_schema").toString
    val emb = Similarity.embWithNorm(spark, sf).select("vec_id", "e")
    Seq(IvfCents, IvfBooks, IvfCodes).foreach(written(_, flatTrioDir, residualTrioDir))
    Similarity.ivfCodesCompact(spark, flatTrioDir, s"$ivfw/compact")
    Similarity.ivfCellSplitArtifact(spark, flatTrioDir, s"$ivfw/split", emb)
    Similarity.ivfCellMergeArtifact(spark, flatTrioDir, s"$ivfw/merge", emb)
    val (rc, rb, rcodes) = residualTrio
    Similarity.writeIvfArtifacts(s"$ivfw/r", rc, rb, rcodes)
    Artifacts.markResidual(spark, s"$ivfw/r")
    Similarity.ivfCellSplitResidual(spark, s"$ivfw/r", s"$ivfw/rsplit", emb)
    Similarity.ivfCellMergeResidual(spark, s"$ivfw/r", s"$ivfw/rmerge", emb)
    val (fc, fb, fcodes) = flatTrio
    Similarity.writeIvfArtifacts(s"$ivfw/app", fc, fb, fcodes.filter(col("vec_id") % 5 =!= 0))
    graft.streaming.VecStream.indexAppendBatch(Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 0).select("vec_id", "embedding"), s"$ivfw/app")
    written(IvfCodes, Seq("compact", "split", "merge", "rsplit", "rmerge", "app")
      .map(r => s"$ivfw/$r"): _*)
    written(IvfCents, Seq("split", "merge", "rsplit", "rmerge").map(r => s"$ivfw/$r"): _*)
    // the kNN graph build and its streaming fold
    Similarity.knnGraphArtifact(spark, sf, s"$ivfw/g0")
    graft.streaming.VecStream.graphAppend(spark,
      Similarity.embWithNorm(spark, sf).filter(col("nrm") > 0).select("vec_id", "e", "nrm"),
      s"$ivfw/g0", Tables.embeddings(spark, sf).limit(3)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")), s"$ivfw/g1")
    Seq(IvfCents, Similarity.GraphEdges, Similarity.GraphCells)
      .foreach(written(_, s"$ivfw/g0", s"$ivfw/g1"))
    // the cluster fold's sets, seeded and folded
    import graft.streaming.DocStream.{ClusterLabels, ClusterRanked}
    val (ranked, btable) = Dedup.corpusArtifact(twoDocs)
    ClusterRanked.write(ranked, s"$ivfw/c0")
    ClusterLabels.write(Dedup.clusterPairs(Seq((1L, 2L)).toDF("a_id", "b_id")), s"$ivfw/c0")
    graft.streaming.DocStream.clusterAppendBatch(spark, s"$ivfw/c0", btable,
      Seq(3L -> "alpha beta gamma delta zeta").toDF("doc_id", "text"), 0.6, s"$ivfw/c1")
    Seq(ClusterRanked, ClusterLabels).foreach(written(_, s"$ivfw/c0", s"$ivfw/c1"))
    // the rag labels and vectors, q153's cells, a published vocabulary
    Retrieval.writeClusters(spark, sf, s"$ivfw/rag")
    Retrieval.writeVecs(spark, sf, s"$ivfw/rag")
    written(Retrieval.RagClusters, s"$ivfw/rag")
    written(Retrieval.RagVecs, s"$ivfw/rag")
    Similarity.q153MiningServed(spark, sf)
    written(Similarity.MineCells, Artifacts.datasetScratch(sf))
    TextOps.publishVocab(spark, s"$ivfw/vocab", Seq("ab", "cd"))
    written(TextOps.Vocab, graft.ops.RootPointer.resolve(spark, s"$ivfw/vocab"))
    // deleting EVERY doc leaves an empty index: avgdl is null, not a
    // division by zero, and the compactor still merges it
    Retrieval.lexTombstone(docs.select("doc_id"), dir, "t2")
    val Seq(empty) = Retrieval.lexIndexServe(spark, dir)._3.collect().toSeq
    assert(empty.getLong(0) == 0L && empty.getLong(1) == 0L && empty.isNullAt(2), empty.toString)
    Retrieval.lexIndexCompact(spark, dir, out + "_empty")
    assert(spark.read.parquet(s"${out}_empty/seg0/tf").count() == 0L)
  }

  test("q130: yield accounting reconciles with the q108 group labels and raw corpus totals") {
    val rows = Dedup.q130DedupYield(spark, sf).collect()
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("text").split(" ", -1).length.toLong))
    val bySrc = docs.groupBy(_._2)
    assert(rows.map(_.getAs[String]("source")).toSet == bySrc.keySet)
    // group labels from the q108 gate (same cluster definition by construction)
    val grp = Dedup.q108LeakSafeSplit(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("grp")).toMap
    rows.foreach { r =>
      val d = bySrc(r.getAs[String]("source"))
      val kept = d.filter { case (id, _, _) => grp(id) == id }
      assert(r.getAs[Long]("docs_total") == d.length)
      assert(r.getAs[Long]("tokens_total") == d.map(_._3).sum)
      assert(r.getAs[Long]("docs_kept") == kept.length)
      assert(r.getAs[Long]("tokens_kept") == kept.map(_._3).sum)
      assert(r.getAs[Long]("tokens_dropped") == d.map(_._3).sum - kept.map(_._3).sum)
      val pct = r.getAs[Double]("yield_pct")
      assert(pct > 0.0 && pct <= 100.0, s"yield_pct out of range: $pct")
    }
    assert(rows.map(_.getAs[Long]("tokens_dropped")).sum > 0,
      "vacuous: dedup dropped nothing at sf0.001")
  }

  test("q131: triangles match a plain-Scala recompute over the mutual q82 graph; mutual degree ≤ k") {
    val edges = Similarity.q82KnnGraph(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val und = edges.filter { case (a, b) => a < b && edges.contains((b, a)) }
    assert(und.nonEmpty, "vacuous: no mutual edges at sf0.001")
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    und.foreach { case (a, b) => adj(a) = adj(a) + b; adj(b) = adj(b) + a }
    val got = Similarity.q131TriangleCount(spark, sf).collect()
    assert(got.map(_.getAs[Long]("vec_id")).toSet == adj.keySet,
      "node set is not exactly the mutual-edge endpoints")
    got.foreach { r =>
      val v = r.getAs[Long]("vec_id")
      val nb = adj(v)
      assert(r.getAs[Long]("deg") == nb.size, s"deg mismatch at $v")
      // the scale claim the scaladoc makes: mutual degree is bounded by k
      assert(nb.size <= Similarity.AdcK, s"mutual degree ${nb.size} > k at $v")
      val tris = nb.toSeq.sorted.combinations(2)
        .count { case Seq(x, y) => adj(x).contains(y) }
      assert(r.getAs[Long]("n_tri") == tris.toLong, s"triangle count mismatch at $v")
      val cc = r.getAs[Double]("clust_coef")
      assert(cc >= 0.0 && cc <= 1.0, s"clust_coef out of range at $v: $cc")
      if (nb.size < 2) assert(cc == 0.0, s"deg<2 node must report 0 coefficient: $v")
    }
    assert(got.exists(_.getAs[Long]("n_tri") > 0),
      "vacuous: no triangles anywhere at sf0.001")
  }

  test("q132: cell balance covers every trained cell exactly once and reconciles with corpus totals") {
    val rows = Similarity.q132IvfBalance(spark, sf).collect()
    // one row per seed centroid — cells are exactly the seed vec_ids, and
    // empty cells must be REPORTED, not dropped
    assert(rows.map(_.getAs[Long]("cell")).sorted.toSeq ==
      (0L until Similarity.IvfNList.toLong))
    val n = Tables.embeddings(spark, sf).count()
    val counts = rows.map(_.getAs[Long]("n_vecs"))
    assert(counts.sum == n, s"cell counts sum ${counts.sum} != corpus $n")
    rows.foreach { r =>
      assert(r.getAs[Long]("share_ppm") == r.getAs[Long]("n_vecs") * 1000000L / n)
    }
    // size_rank is a permutation of 1..nlist consistent with (n_vecs desc, cell)
    val byRank = rows.sortBy(_.getAs[Long]("size_rank"))
    assert(byRank.map(_.getAs[Long]("size_rank")).toSeq ==
      (1L to Similarity.IvfNList.toLong))
    byRank.sliding(2).foreach {
      case Array(a, b) =>
        val (na, nb) = (a.getAs[Long]("n_vecs"), b.getAs[Long]("n_vecs"))
        assert(na > nb || (na == nb && a.getAs[Long]("cell") < b.getAs[Long]("cell")))
      case _ =>
    }
    // the audit is non-degenerate on the testdata: the index is imbalanced
    assert(counts.max > counts.min, "vacuous: perfectly uniform cells at sf0.001")
  }

  test("q140: subword packing equals the shard-window formula recomputed from q137 counts") {
    val s = spark
    import graft.ops.{Corpus, TextOps}
    val got = TextOps.q140PackSubword(s, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("shard"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("tok_start"),
        r.getAs[Long]("pack_first"), r.getAs[Long]("pack_last"),
        r.getAs[Long]("n_packs")))).toMap
    val counts = TextOps.q137SubwordTokens(s, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_subwords")))
    assert(got.size == counts.length && counts.nonEmpty)
    // driver-side recompute: per-shard running offsets in doc_id order —
    // the q62 straddle algebra, subword units
    counts.groupBy(_._1 % Corpus.PackShards).foreach { case (shard, ds) =>
      var off = 0L
      ds.sortBy(_._1).foreach { case (id, n) =>
        val (gs, gn, gstart, gpf, gpl, gnp) = got(id)
        assert(gs == shard && gn == n && gstart == off, s"doc $id")
        val pf = off / Corpus.PackBudget
        val pl = (off + math.max(n, 1L) - 1) / Corpus.PackBudget
        assert(gpf == pf && gpl == pl && gnp == pl - pf + 1, s"doc $id")
        off += n
      }
    }
  }

  test("q141: splitting the hot cells reduces their load and leaves every other cell untouched") {
    val s = spark
    graft.functions.VectorFunctions.register(s)
    // planted skew: 8 seed vectors on a line, then 292 more with ~80%
    // jittered around seed 0 — cell 0 is the over-full list by construction
    val dir = java.nio.file.Files.createTempDirectory("cellsplit_syn").toString
    s.range(300).selectExpr("id AS vec_id",
      """CASE WHEN id < 8 THEN array(CAST(id * 10 AS FLOAT), CAST(id * 10 AS FLOAT))
              WHEN id % 5 < 4 THEN array(CAST((id % 97) / 100.0 AS FLOAT), CAST((id % 89) / 100.0 AS FLOAT))
              ELSE array(CAST((id % 8) * 10 + (id % 7) / 100.0 AS FLOAT), CAST((id % 8) * 10 AS FLOAT)) END AS embedding""",
      "CAST(id % 3 AS INT) AS label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pre = Similarity.q132IvfBalance(s, dir).collect()
      .map(r => r.getAs[Long]("cell") -> r.getAs[Long]("n_vecs")).toMap
    val post = Similarity.q141CellSplit(s, dir).collect()
    val postMap = post.map(r => r.getAs[Long]("cell") ->
      ((r.getAs[Long]("parent"), r.getAs[Long]("n_vecs")))).toMap
    // universe: the 8 trained cells + one new sub-cell per split
    assert(post.length == Similarity.IvfNList + 2)
    val newCells = post.filter(_.getAs[Long]("cell") >= Similarity.IvfNList)
    val hotParents = newCells.map(_.getAs[Long]("parent")).toSet
    // hot parents are exactly the 2 largest pre-split cells (desc, id tiebreak)
    val expectedHot = pre.toSeq.sortBy { case (c, n) => (-n, c) }.take(2).map(_._1).toSet
    assert(hotParents == expectedHot, s"split $hotParents, expected $expectedHot")
    // mass conservation: overall, and parent + child = the pre-split count
    assert(post.map(_.getAs[Long]("n_vecs")).sum == 300L)
    newCells.foreach { r =>
      val parent = r.getAs[Long]("parent")
      assert(postMap(parent)._2 + r.getAs[Long]("n_vecs") == pre(parent), s"cell $parent")
      // the split is real on the planted skew: both halves non-empty
      assert(r.getAs[Long]("n_vecs") > 0 && postMap(parent)._2 > 0, s"degenerate split of $parent")
    }
    // the FAISS-style invariant: untouched cells keep their counts exactly
    pre.keys.filterNot(expectedHot.contains).foreach { c =>
      assert(postMap(c)._2 == pre(c), s"untouched cell $c moved")
      assert(postMap(c)._1 == c, "untouched cells are their own parent")
    }
    // the headline: no post-split list is as hot as the pre-split max
    assert(post.map(_.getAs[Long]("n_vecs")).max < pre.values.max)
  }

  test("q136: pre-filtering ≡ post-filtering the full unfiltered candidate list under both predicates") {
    val s = spark
    // the composition identity q136 rests on: because both predicates are
    // row subsets of the SAME candidate space, filtering the code table
    // BEFORE candidate generation equals filtering the complete unfiltered
    // candidate list after — verified here against an independent
    // driver-side re-rank of the full list
    val (emb, _, _) = Similarity.pqParts(s, sf)
    val (cents, books, codeTable) = flatTrio
    val queries = emb.filter(col("vec_id") < 10).select("vec_id", "e")
    val full = Similarity.ivfPqSearchFrom(cents, books, codeTable, queries,
        k = Int.MaxValue)
      .select("query_id", "neighbor_id", "adc_fixed").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val keep = Tables.spread(s, Tables.embeddings(s, sf), "vec_id")
      .filter(col("label") % 3 === 0).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val expected = full
      .filter { case (_, nid, _) => keep(nid) && !(nid % 7 == 3 && nid >= 10) }
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        val sorted = rows.sortBy(r => (r._3, r._2))
        sorted.take(5).zipWithIndex.map { case ((_, nid, adc), i) =>
          (q, nid, adc, sorted.length.toLong, (i + 1).toLong)
        }
      }.toSet
    val got = Similarity.q136FilteredTombstoneAnn(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(expected.nonEmpty && got == expected,
      s"pre-filter diverged from post-filter: ${got.size} vs ${expected.size} rows")
  }

  test("q137 greedy tokenizer: longest-match algebra on planted words, budget bounds on the corpus") {
    val s = spark
    import s.implicits._
    import graft.ops.TextOps
    // greedy longest-match against the committed vocab: 'cust'+'omer',
    // 'ta'+'ble', whole-word 'key', multi-fallback 'zzz', empty word 0
    val unit = Seq("table", "customer", "key", "windower", "zzz", "")
      .toDF("wd")
      .withColumn("cnt", expr(TextOps.subwordCountExpr("wd")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(unit == Map("table" -> 2L, "customer" -> 2L, "key" -> 1L,
      "windower" -> 3L, "zzz" -> 3L, "" -> 0L), unit.toString)
    // corpus bounds: each nonempty word costs between 1 token and its
    // char count, so Σ is bracketed per doc
    val rows = TextOps.q137SubwordTokens(s, sf)
      .join(Tables.spread(s, Tables.documents(s, sf), "doc_id")
        .select(col("doc_id"),
          expr("size(filter(split(text, ' '), x -> length(x) > 0))")
            .cast("long").as("n_nonempty"),
          expr("aggregate(split(text, ' '), 0L, (a, x) -> a + length(x))")
            .as("n_chars")), Seq("doc_id"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (sub, ne, ch) = (r.getAs[Long]("n_subwords"),
        r.getAs[Long]("n_nonempty"), r.getAs[Long]("n_chars"))
      assert(sub >= ne && sub <= ch, s"doc ${r.getAs[Long]("doc_id")}: $r")
    }
  }

  test("q55-variant: the subword-budget mixture reselects deterministically and honors the integer boundary") {
    val s = spark
    import graft.ops.TextOps
    val sel1 = TextOps.sourceMixSubword(s, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val sel2 = TextOps.sourceMixSubword(s, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(sel1.nonEmpty && sel1.toSeq == sel2.toSeq,
      "mixture selection must be reproducible (auditability, the q91 rule)")
    // independent BigInt re-derivation of the q55 boundary from the
    // subword counts: membership is exactly the cross-multiplied integer
    // inequality — no doc may flip on a float ulp
    val docs = TextOps.q137SubwordTokens(s, sf)
      .join(Tables.spread(s, Tables.documents(s, sf), "doc_id")
        .select("doc_id", "source"), Seq("doc_id"))
      .select("doc_id", "source", "n_subwords").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val per = docs.groupBy(_._2).map { case (src, rs) =>
      src -> (BigInt(math.floor(math.sqrt(rs.map(_._3).sum.toDouble) * 1e6).toLong),
        BigInt(rs.length))
    }
    val denom = per.values.map(_._1).sum
    val totalDocs = per.values.map(_._2).sum
    val budget = (totalDocs * 400) / 1000
    val expected = docs.filter { case (id, src, _) =>
      val (ws, ds) = per(src)
      val bucket = BigInt(new java.math.BigInteger(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString)
          .substring(16, 24), 16).longValue()) % 10000
      bucket * denom * ds < BigInt(10000) * budget * ws
    }.map(_._1).toSet
    assert(sel1.map(_._1).toSet == expected,
      s"boundary mismatch: ${sel1.length} selected vs ${expected.size} expected")
  }

  test("q145 greedy identity on planted words: longest match wins, 3 beats 2, single-char fallback, empty-word safe") {
    val s = spark
    import s.implicits._
    import graft.ops.TextOps
    // vocab: every aa–zz pair + every 3-char combo over a–h. Hand-walked:
    //   banana → ba|na|na (no 'ban': n ∉ a–h)            = 3
    //   abc    → abc (3-char beats ab+c)                 = 1
    //   abcz   → abc|z                                   = 2
    //   zzz    → zz|z (no 3-char over z)                 = 2
    //   q      → single-char fallback                    = 1
    val docs = Seq((0L, "banana abc abcz zzz q"), (1L, "")).toDF("doc_id", "text")
    val out = TextOps.subwordVocabCounts(docs, TextOps.genVocab(s))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0L) == ((5L, 9L)), s"doc0: ${out(0L)} != (5 words, 3+1+2+2+1 subwords)")
    // split("") = [""]: one empty word, zero subwords — the fold must not
    // loop or go negative on a zero-length word
    assert(out(1L) == ((1L, 0L)), s"doc1: ${out(1L)}")
    // vocab-size independence of SEMANTICS where entries exist in both:
    // under the full a–z 3-char vocab, banana re-tokenizes as ban|ana (2)
    val big = TextOps.subwordVocabCounts(Seq((0L, "banana")).toDF("doc_id", "text"),
      TextOps.genVocab(s, 26)).collect()
    assert(big.head.getLong(2) == 2L, s"banana under the 26^3 vocab: ${big.head}")
  }

  test("native subword kernel equals the relational formulation word-for-word, non-ASCII and learned-vocab included") {
    // two independent formulations of the greedy longest-match algebra:
    // graft_subword_count (per-executor hash-set walk, the serve default
    // since round 19) vs the relational candidate-explode kernel (the
    // round-18 shape, kept as the cross-check) — they must agree on every
    // (n_words, n_subwords, n_fallback) row, including supplementary-plane
    // text (code-point positions) and a trained vocabulary
    val s = spark
    import s.implicits._
    import graft.ops.TextOps
    def both(docs: org.apache.spark.sql.DataFrame,
        vocab: org.apache.spark.sql.DataFrame, lens: Seq[Int]): Unit = {
      val native = TextOps.subwordVocabCounts(docs, vocab, lens)
        .collect().map(_.toString).sorted.toSeq
      val rel = TextOps.subwordVocabCountsRelational(docs, vocab, lens)
        .collect().map(_.toString).sorted.toSeq
      assert(native == rel && native.nonEmpty,
        s"kernels diverged: ${native.size} vs ${rel.size} rows")
    }
    val corpus = Tables.documents(s, sf).select("doc_id", "text")
    both(corpus, TextOps.genVocab(s), Seq(2, 3))
    // learned vocab on its own corpus (the q152 composition)
    val learned = graft.ops.TextOps.bpeTrainLocal(
      graft.ops.TextOps.bpeWordFreqs(s, sf), 6).map(_._4).distinct
    if (learned.nonEmpty)
      both(corpus, learned.toDF("v"),
        learned.map(t => t.codePointCount(0, t.length)).distinct.sorted)
    // astral-plane text: positions count code points on both paths
    val astral = Seq((0L, "𝄞a𝄞a café 🎵漢字 q"), (1L, "")).toDF("doc_id", "text")
    val avocab = Seq("𝄞a", "ca", "fé", "🎵漢", "a𝄞a").toDF("v")
    both(astral, avocab, Seq(2, 3))
  }

  /** Run an action and return the budget-gate refusal message — the gate
    * is IN-PLAN (round-18: zero eager probe jobs), so the raise surfaces
    * at ACTION time wrapped in Spark's job-failure exceptions; the q27
    * analytic guard still refuses eagerly with an
    * IllegalArgumentException. One catch handles both. */
  private def interceptBudget(body: => Unit): String = {
    val e = intercept[Throwable] { body }
    Dedup.budgetRefusal(e).getOrElse(
      fail(s"expected a budget refusal, got: $e"))
  }

  test("budgeted All-Pairs: under budget identical to the unguarded run; over budget refuses loudly with the measured mass") {
    val s = spark
    val sh = Dedup.shingleDocs(Tables.spread(s, Tables.documents(s, sf), "doc_id"))
    // under budget: semantics identical row-for-row
    val free = Dedup.jaccardPairsBudgeted(sh, 0.6, maxCandidatePairs = Long.MaxValue)
      .collect().map(_.toString).toSeq
    val plain = Dedup.jaccardPairs(sh, 0.6).collect().map(_.toString).toSeq
    assert(free == plain && plain.nonEmpty,
      "budgeted run must be the unguarded run when under budget")
    // over budget: the refusal carries the measured candidate mass and the
    // prescriptions — it fires at action time, BEFORE any pair shuffle
    // could spill (the gate blocks the candidate join's input stage)
    val msg = interceptBudget {
      Dedup.jaccardPairsBudgeted(sh, 0.6, maxCandidatePairs = 1).collect()
    }
    assert(msg.contains("candidate mass") && msg.contains("incrementally"),
      s"refusal must report mass + prescriptions: $msg")
    // the reported mass is an upper bound on the true candidate join:
    // parse it back and compare against the materialized candidate count
    val mass = "candidate mass (\\d+)".r.findFirstMatchIn(msg).get.group(1).toLong
    assert(mass >= plain.size,
      s"probe mass $mass cannot be below the verified pair count ${plain.size}")
  }

  test("maybePhashLayout: adversarial flip geometry holds 4x16, realistic geometry takes the 2x32 lever; choice recorded") {
    // the mechanized form of the round-18 real-codec phash adjudication:
    // scattered flips (gradient re-renders) leave no WIDE band untouched
    // while still sharing a narrow band → the sampled recall probe sees
    // the wide layout lose the pairs and holds the guaranteed floor;
    // concentrated flips (realistic geometry) survive both layouts → the
    // cheaper wide layout clears the floor and wins
    import graft.multimodal.MultimodalOps
    val s = spark
    import s.implicits._
    def corpus(scattered: Boolean): org.apache.spark.sql.DataFrame = {
      val rows = (0L until 80L).flatMap { i =>
        val rnd = new java.util.SplittableRandom(i)
        val base = Seq.fill(4)(rnd.nextLong() & 0xFFFFL)
        val partner =
          if (scattered)
            // bits 20/40/56: narrow word0 untouched (the 4x16 match),
            // both wide words touched (the 2x32 loss); hamming 3
            Seq(base(0), base(1) ^ (1L << 4), base(2) ^ (1L << 8),
              base(3) ^ (1L << 8))
          else
            // three flips inside narrow word0: words 1-3 and wide word1
            // untouched; both layouts keep the pair
            Seq(base(0) ^ 0x223L, base(1), base(2), base(3))
        Seq((i, base), (i + 1000L, partner))
      }
      rows.toDF("doc_id", "fp")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_playout").toString
    val adv = MultimodalOps.maybePhashLayout(s, corpus(scattered = true),
      s"$dir/adv", affordableMass = 1L, sampleMod = 1)
    assert(adv == 4, s"adversarial geometry must hold the 4x16 recall floor, got $adv")
    val real = MultimodalOps.maybePhashLayout(s, corpus(scattered = false),
      s"$dir/real", affordableMass = 1L, sampleMod = 1)
    assert(real == 2, s"realistic geometry must take the 2x32 lever, got $real")
    // the decision and its evidence are in the artifact
    val m = Artifacts.readLines(s, s"$dir/adv/phash_layout")
    assert(m.exists(_ == "layout=4x16") && m.exists(_.startsWith("mass_4x16=")), m.toString)
    val m2 = Artifacts.readLines(s, s"$dir/real/phash_layout")
    assert(m2.exists(_ == "layout=2x32") &&
      m2.exists(l => l.startsWith("sampled_wide_recall_ppm=") &&
        l.split("=")(1).toLong >= 900000L), m2.toString)
  }

  test("budgeted banding: under budget identical to bandPairs; over budget refuses with the measured band mass") {
    import graft.multimodal.MultimodalOps
    val fps = Tables.spread(spark, Tables.documents(spark, sf), "doc_id")
      .filter(length(col("text")) > 0)
      .withColumn("fp", expr(MultimodalOps.phashFpExprFor(4)))
      .select(col("doc_id"), col("fp"))
    val free = MultimodalOps.bandPairsBudgeted(fps, Long.MaxValue)
      .collect().map(_.toString).toSeq
    val plain = graft.multimodal.MultimodalOps.phashPairs(
      Tables.spread(spark, Tables.documents(spark, sf), "doc_id"))
      .collect().map(_.toString).toSeq
    assert(free == plain, "budgeted banding must be the unguarded run when under budget")
    val msg = interceptBudget { MultimodalOps.bandPairsBudgeted(fps, 1).collect() }
    assert(msg.contains("banded candidate mass") && msg.contains("q143"),
      s"refusal must report mass + the lever: $msg")
    val mass = "banded candidate mass (\\d+)".r
      .findFirstMatchIn(msg).get.group(1).toLong
    assert(mass >= plain.size,
      s"probe mass $mass cannot be below the survivor count ${plain.size}")
  }

  test("default-path budget: jaccardPairs and phashPairs refuse through the DEFAULT entry under a tightened budget") {
    // the round-16 weak mark: the guard existed but only opt-in callers got
    // it — the DEFAULT one-shot entries (q24/q42/q53/... via jaccardPairs,
    // q134/q143/q146 via phashPairs) must now refuse too. The sysprop is the
    // in-JVM face of SPARK_GRAFT_PAIR_BUDGET (sysprop wins by design so this
    // spec can exercise the default path without forking).
    assert(Dedup.defaultPairBudget == 256000000L,
      "generous default tier: clears the 62M adversarial-100k mass, refuses the 3.43B 1M death mode")
    sys.props("graft.pair.budget") = "1"
    try {
      val sh = Dedup.shingleDocs(Tables.spread(spark, Tables.documents(spark, sf), "doc_id"))
      val m1 = interceptBudget { Dedup.jaccardPairs(sh, 0.6).collect() }
      assert(m1.contains("candidate mass"),
        s"default jaccardPairs path must refuse past the default budget: $m1")
      val m2 = interceptBudget {
        graft.multimodal.MultimodalOps.phashPairs(
          Tables.spread(spark, Tables.documents(spark, sf), "doc_id")).collect()
      }
      assert(m2.contains("banded candidate mass"),
        s"default phashPairs path must refuse past the default budget: $m2")
      // every OTHER banded family refuses through its default path too —
      // the discipline is uniform, not a dedup-family special case
      val m3 = interceptBudget { Dedup.q25DedupMinhash(spark, sf).collect() }
      assert(m3.contains("MinHash LSH candidate mass"), m3)
      val m4 = interceptBudget { Dedup.q26DedupSimhash(spark, sf).collect() }
      assert(m4.contains("SimHash banding candidate mass"), m4)
      val m5 = interceptBudget { Dedup.q27DedupEmbed(spark, sf).collect() }
      assert(m5.contains("SRP-LSH candidate mass"), m5)
    } finally sys.props -= "graft.pair.budget"
  }

  test("q152 degenerate corpus: zero learnable merges short-circuits to fallback-only counting, matching the oracle's degradation") {
    val s = spark
    import s.implicits._
    // only single-char words: every token list has length 1, no pair CTE row
    // exists, training learns NOTHING — the engine must degrade to
    // n_subwords = word length (every greedy step a single-char fallback),
    // exactly what the SQL oracle's COALESCE(...,1) walk yields over an
    // empty vocab, instead of tripping subwordVocabCounts' candLens require
    val dir = java.nio.file.Files.createTempDirectory("q152degen").toString
    Seq((0L, "a b a"), (1L, "c c")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.ops.TextOps.q152LearnedSubwords(s, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, 3L, 3L), (1L, 2L, 2L)),
      s"fallback-only counting must yield n_subwords = word length: $out")
  }

  test("BPE separator contract: a corpus word containing U+001E fails loudly on the engine side, not as an oracle diff") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q150sep").toString
    Seq((0L, "ab\u001Ecd ab\u001Ecd normal words here"), (1L, "more normal words"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ex = intercept[IllegalArgumentException] { graft.ops.TextOps.q150BpeTrain(s, dir).collect() }
    assert(ex.getMessage.contains("U+001E") && ex.getMessage.contains("chr(30)"),
      s"separator violation must name the contract: ${ex.getMessage}")
  }

  test("residual artifacts: parquet round-trip serves bit-identically; append equals rebuild; split/merge refuse the marked root") {
    val s = spark
    val (cents, books, codeTable) = residualTrio
    val dir = java.nio.file.Files.createTempDirectory("graft_resid_idx").toString
    Similarity.writeIvfArtifacts(dir, cents, books, codeTable)
    Artifacts.markResidual(s, dir)
    val emb = Similarity.embWithNorm(s, sf).select("vec_id", "e")
    val queries = emb.filter(col("vec_id") < 10)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("query_id"), r.getAs[Long]("rn"))
    // serving from PERSISTED artifacts must be bit-identical to the
    // self-contained catalog query — doubles survive parquet exactly and
    // the downstream ranking is integer (the q74 artifact argument)
    val served = Similarity.IvfCodec.ResidualPq.searchFrom(
        s.read.parquet(s"$dir/cents"), Some(s.read.parquet(s"$dir/books")),
        s.read.parquet(s"$dir/codes"), queries).collect()
      .map(r => key(r) -> (r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("adc_fixed"), r.getAs[Long]("n_cand"))).toMap
    val direct = Similarity.q75IvfPqResidual(s, sf).collect()
      .map(r => key(r) -> (r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("adc_fixed"), r.getAs[Long]("n_cand"))).toMap
    assert(served == direct && served.nonEmpty,
      "persisted residual artifacts diverged from the self-contained query")
    // append ≡ rebuild: residual-encoding a fresh batch under the frozen
    // artifacts must equal the full build's rows for the same ids —
    // exactness holds for the residual variant because appends never move
    // a centroid (the property split/merge precisely lack)
    def codeRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cell"), r.getAs[Seq[Long]]("codes").mkString(","))).toMap
    val fresh = emb.filter(col("vec_id") % 5 === 0)
    val appended = codeRows(Similarity.IvfCodec.ResidualPq.encode(
      s.read.parquet(s"$dir/cents"), Some(s.read.parquet(s"$dir/books")), fresh))
    val rebuilt = codeRows(codeTable.filter(col("vec_id") % 5 === 0))
    assert(appended == rebuilt && appended.nonEmpty,
      "residual append diverged from the full rebuild")
    // the streaming ingest reads the root's codec: a batch appended to the
    // MARKED root through VecStream encodes residuals too, so the root
    // keeps its invariant and the appended rows equal the rebuild's
    val app = s"$dir/app"
    Similarity.writeIvfArtifacts(app, cents, books, codeTable.filter(col("vec_id") % 5 =!= 0))
    Artifacts.markResidual(s, app)
    graft.streaming.VecStream.indexAppendBatch(
      Tables.embeddings(s, sf).filter(col("vec_id") % 5 === 0)
        .select("vec_id", "embedding"), app)
    assert(Similarity.residualAuditMismatches(s, app, emb) == 0L,
      "a streamed append must keep the residual invariant on a marked root")
    assert(codeRows(s.read.parquet(s"$app/codes").filter(col("vec_id") % 5 === 0)) == rebuilt,
      "streamed residual append diverged from the full rebuild")
    // the geometry-changing policies must refuse the marked root LOUDLY:
    // rerouting a member without re-encoding corrupts x - c(cell) codes
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfCellSplitArtifact(s, dir, s"$dir/split", emb)
    }
    assert(ex.getMessage.contains("re-encoding") || ex.getMessage.contains("re-encode"),
      s"split refusal must explain the residual invalidation: ${ex.getMessage}")
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.ivfCellMergeArtifact(s, dir, s"$dir/merge", emb)
    }
    assert(ex2.getMessage.contains("residual"),
      s"merge refusal must name the variant: ${ex2.getMessage}")
  }

  test("residual rebalance: re-encoding split/merge audit clean; the PLAIN split on the same content audits corrupt") {
    val s = spark
    val (cents, books, codeTable) = residualTrio
    val emb = Similarity.embWithNorm(s, sf).select("vec_id", "e")
    val dir = java.nio.file.Files.createTempDirectory("graft_resid_reb").toString
    def write(sub: String, mark: Boolean): String = {
      val r = s"$dir/$sub"
      Similarity.writeIvfArtifacts(r, cents, books, codeTable)
      if (mark) Artifacts.markResidual(s, r)
      r
    }
    def nlist(r: String) = s.read.parquet(s"$r/cents").count()
    def mass(r: String) = s.read.parquet(s"$r/codes").count()
    val root = write("a", mark = true)
    assert(Similarity.residualAuditMismatches(s, root, emb) == 0L,
      "fresh residual build must satisfy the artifact invariant")
    // re-encoding split: invariant holds on every row afterwards, nlist
    // grows, mass conserved, untouched cells byte-identical
    Similarity.ivfCellSplitResidual(s, root, s"$dir/split", emb)
    assert(Similarity.residualAuditMismatches(s, s"$dir/split", emb) == 0L,
      "re-encoding split must leave codes = encode(x - c(routed cell))")
    assert(nlist(s"$dir/split") > nlist(root) && mass(s"$dir/split") == mass(root))
    val hot = s.read.parquet(s"$root/codes").groupBy("cell").count()
      .orderBy(col("count").desc, col("cell")).limit(2)
      .collect().map(_.getLong(0)).toSet
    val beforeCold = s.read.parquet(s"$root/codes")
      .filter(!col("cell").isin(hot.toSeq: _*))
      .collect().map(_.toString).sorted.toSeq
    val afterCold = s.read.parquet(s"$dir/split/codes")
      .filter(!col("cell").isin(hot.toSeq: _*) &&
        col("cell") <= s.read.parquet(s"$root/cents")
          .agg(max(col("cent_id"))).head().getLong(0))
      .collect().map(_.toString).sorted.toSeq
    assert(afterCold == beforeCold, "untouched cells must stay byte-identical")
    // the PLAIN split applied to the SAME content (marker absent) breaks
    // the invariant — the corruption the refusal rail exists to prevent,
    // made visible: routed-without-re-encode rows audit as mismatches
    val plainRoot = write("p", mark = false)
    Similarity.ivfCellSplitArtifact(s, plainRoot, s"$dir/psplit", emb)
    assert(Similarity.residualAuditMismatches(s, s"$dir/psplit", emb) > 0L,
      "the plain split must corrupt residual codes — otherwise the rail is theater")
    // re-encoding merge on the split output: nlist shrinks, mass
    // conserved, invariant still clean, and the serve path still works
    val merged = Similarity.ivfCellMergeResidual(s, s"$dir/split", s"$dir/merge", emb)
    assert(merged.nonEmpty && nlist(s"$dir/merge") < nlist(s"$dir/split"))
    assert(mass(s"$dir/merge") == mass(root))
    assert(Similarity.residualAuditMismatches(s, s"$dir/merge", emb) == 0L,
      "re-encoding merge must leave the invariant intact")
    val served = Similarity.IvfCodec.ResidualPq.searchFrom(
      s.read.parquet(s"$dir/merge/cents"), Some(s.read.parquet(s"$dir/merge/books")),
      s.read.parquet(s"$dir/merge/codes"), emb.filter(col("vec_id") < 10))
    assert(served.count() > 0, "post-rebalance residual serve must return rows")
  }

  test("q158 mid-swap reader isolation: a pre-maintenance resolve serves identical rows through publish + retirement") {
    import graft.ops.RootPointer
    val s = spark
    val (emb, _, _) = Similarity.pqParts(s, sf)
    val (cents, books, codeTable) = flatTrio
    val base = java.nio.file.Files.createTempDirectory("graft_ivfver").toString
    val v1 = RootPointer.nextVersion(s, base)
    Similarity.writeIvfArtifacts(s"$base/$v1", cents, books, codeTable)
    val dels = emb.filter(col("vec_id") % 7 === 3 && col("vec_id") >= Similarity.AdcQueries)
      .select("vec_id")
    dels.filter(col("vec_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$base/$v1/tombstones/t0")
    dels.filter(col("vec_id") % 2 =!= 0)
      .write.mode("overwrite").parquet(s"$base/$v1/tombstones/t1")
    RootPointer.publish(s, base, v1)
    // reader A resolves BEFORE the maintenance window and keeps serving
    // from that root (tombstone-aware: the pre-compaction serve shape)
    val rootA = RootPointer.resolve(s, base)
    assert(rootA.endsWith(v1))
    def serveTomb(root: String) = {
      val live = s.read.parquet(s"$root/codes").join(
        Similarity.tombstoneUnion(s, root).get, Seq("vec_id"), "left_anti")
      Similarity.ivfPqSearchFrom(s.read.parquet(s"$root/cents"),
        s.read.parquet(s"$root/books"), live,
        emb.filter(col("vec_id") < Similarity.AdcQueries).select("vec_id", "e"))
    }
    val before = serveTomb(rootA).collect().map(_.toString).sorted.toSeq
    // the maintenance window: stage the compaction as an unpublished
    // version -> publish -> retire old roots outside the grace window
    val acted = Similarity.maybeMaintainIvfVersioned(s, base,
      emb.select("vec_id", "e"), maxTombstones = 1, maxSharePpm = 1000000L)
    assert(acted._1, "compaction must act on the planted tombstones")
    RootPointer.retireOld(s, base, keep = 2)
    // reader A's root is untouched: published roots are immutable and the
    // grace window (keep = 2) retains it through one maintenance cycle
    val after = serveTomb(rootA).collect().map(_.toString).sorted.toSeq
    assert(after == before, "pre-maintenance reader must be isolated from the swap")
    // reader B resolves the NEW root; the compacted plain serve (no delete
    // logic) equals reader A's tombstoned serve — the compaction invariant
    val rootB = RootPointer.resolve(s, base)
    assert(rootB != rootA, "maintenance must have published a new version")
    // the compacted version applied every tombstone physically and
    // carries none forward
    assert(Similarity.tombstoneUnion(s, rootB).isEmpty,
      "compaction must retire the applied tombstones from the new root")
    val served = Similarity.ivfPqSearchFrom(s.read.parquet(s"$rootB/cents"),
        s.read.parquet(s"$rootB/books"), s.read.parquet(s"$rootB/codes"),
        emb.filter(col("vec_id") < Similarity.AdcQueries).select("vec_id", "e"))
      .collect().map(_.toString).sorted.toSeq
    assert(served == before, "compacted plain serve must equal the tombstoned serve")
  }

  test("q163 residual policy route: maybe* rebalance ACTS on a residual root, audits clean, mid-swap reader isolated") {
    import graft.ops.RootPointer
    val s = spark
    val (cents, books, codes) = residualTrio
    val emb = Similarity.embWithNorm(s, sf).select("vec_id", "e")
    // (a) the policy routes: a residual-marked root SPLITS and MERGES
    // through the versioned window (the round-17 refusal is replaced by
    // the re-encoding route), and each published root satisfies the
    // residual invariant
    val dir = java.nio.file.Files.createTempDirectory("graft_respol").toString
    Similarity.writeIvfArtifacts(s"$dir/v00001", cents, books, codes)
    Artifacts.markResidual(s, s"$dir/v00001")
    RootPointer.publish(s, dir, "v00001")
    assert(Similarity.maybeMaintainIvfVersioned(s, dir, emb,
      maxTombstones = 1, maxSharePpm = 1L)._2,
      "the split policy must ACT on a residual root (re-encoding route)")
    assert(Similarity.residualAuditMismatches(s, RootPointer.resolve(s, dir), emb) == 0L,
      "post-split residual artifact must satisfy the invariant")
    assert(Similarity.maybeMaintainIvfVersioned(s, dir, emb,
      maxTombstones = 1, maxSharePpm = 1000000L, minSharePpm = 1000000L)._3,
      "the merge policy must ACT on a residual root (re-encoding route)")
    assert(Similarity.residualAuditMismatches(s, RootPointer.resolve(s, dir), emb) == 0L,
      "post-merge residual artifact must satisfy the invariant")
    // (b) the VERSIONED window (q163's shape): reader isolation across the
    // publish, marker carried into the staged version, invariant on the
    // new root
    val base = java.nio.file.Files.createTempDirectory("graft_resver").toString
    val v1 = RootPointer.nextVersion(s, base)
    Similarity.writeIvfArtifacts(s"$base/$v1", cents, books, codes)
    Artifacts.markResidual(s, s"$base/$v1")
    RootPointer.publish(s, base, v1)
    val rootA = RootPointer.resolve(s, base)
    def serve(root: String) = Similarity.IvfCodec.ResidualPq.searchFrom(
        s.read.parquet(s"$root/cents"), Some(s.read.parquet(s"$root/books")),
        s.read.parquet(s"$root/codes"),
        emb.filter(col("vec_id") < Similarity.AdcQueries))
      .collect().map(_.toString).sorted.toSeq
    val before = serve(rootA)
    val acted = Similarity.maybeMaintainIvfVersioned(s, base, emb,
      maxTombstones = 1, maxSharePpm = 1000000L, minSharePpm = 1000000L)
    assert(acted._3, "the armed merge tier must act through the versioned window")
    RootPointer.retireOld(s, base, keep = 2)
    assert(serve(rootA) == before,
      "pre-maintenance reader must be isolated from the residual rebalance")
    val rootB = RootPointer.resolve(s, base)
    assert(rootB != rootA, "maintenance must have published a new version")
    assert(Similarity.IvfCodec.of(s, rootB) == Similarity.IvfCodec.ResidualPq,
      "the staged version must carry the _VARIANT_RESIDUAL marker")
    assert(Similarity.residualAuditMismatches(s, rootB, emb) == 0L,
      "the published rebalanced root must satisfy the residual invariant")
    assert(serve(rootB).nonEmpty, "rebalanced serve must return rows")
  }

  test("q165 residual split: versioned-policy serve equals the direct core row-for-row; mid-swap reader isolated") {
    import graft.ops.RootPointer
    val s = spark
    val (cents, books, codes) = residualTrio
    val emb = Similarity.embWithNorm(s, sf).select("vec_id", "e")
    val queries = emb.filter(col("vec_id") < Similarity.AdcQueries)
    def serve(root: String) = Similarity.IvfCodec.ResidualPq.searchFrom(
        s.read.parquet(s"$root/cents"), Some(s.read.parquet(s"$root/books")),
        s.read.parquet(s"$root/codes"), queries)
      .collect().map(_.toString).sorted.toSeq
    // (a) direct core: the same trio in a plain root, split by the kernel
    // (at 1 ppm every cell is over the tier, so the policy picks the same
    // two hottest cells the kernel does)
    val dir = java.nio.file.Files.createTempDirectory("graft_ressplit_d").toString
    Similarity.writeIvfArtifacts(dir, cents, books, codes)
    Artifacts.markResidual(s, dir)
    Similarity.ivfCellSplitResidual(s, dir, s"$dir/split", emb)
    val direct = serve(s"$dir/split")
    // (b) the versioned window (q165's shape): publish, arm the split
    // tier, pre-publish audit inside, publish the staged version, reader
    // isolation
    val base = java.nio.file.Files.createTempDirectory("graft_ressplit_v").toString
    val v1 = RootPointer.nextVersion(s, base)
    Similarity.writeIvfArtifacts(s"$base/$v1", cents, books, codes)
    Artifacts.markResidual(s, s"$base/$v1")
    RootPointer.publish(s, base, v1)
    val rootA = RootPointer.resolve(s, base)
    val before = serve(rootA)
    val acted = Similarity.maybeMaintainIvfVersioned(s, base, emb,
      maxTombstones = 1, maxSharePpm = 1L, minSharePpm = 0L)
    assert(acted._2, "the armed split tier must act through the versioned window")
    RootPointer.retireOld(s, base, keep = 2)
    assert(serve(rootA) == before,
      "pre-maintenance reader must be isolated from the residual split")
    val rootB = RootPointer.resolve(s, base)
    assert(rootB != rootA, "maintenance must have published a new version")
    assert(Similarity.IvfCodec.of(s, rootB) == Similarity.IvfCodec.ResidualPq,
      "the staged version must carry the _VARIANT_RESIDUAL marker")
    assert(Similarity.residualAuditMismatches(s, rootB, emb) == 0L,
      "the published split root must satisfy the residual invariant")
    // the differential the catalog's geometry-blind oracle can't pin:
    // policy-routed serve ≡ direct-core serve at PRODUCTION nprobe
    val served = serve(rootB)
    assert(served == direct && served != before,
      s"versioned split serve must equal the direct core (and differ from " +
        s"the unsplit serve): served=${served.size} direct=${direct.size}")
  }

  test("q161 containment: a planted excerpt is caught DIRECTED with tiny Jaccard; the containing doc is not flagged") {
    val s = spark
    import s.implicits._
    // doc 1 = a verbatim excerpt of doc 0 (first 8 of 40 words): its
    // trigram set is a subset of doc 0's (containment 1.0 one way) while
    // Jaccard is ~6/38 — the asymmetric case the Jaccard family misses
    val big = (0 until 40).map(i => s"w${i}x").mkString(" ")
    val excerpt = (0 until 8).map(i => s"w${i}x").mkString(" ")
    val other = (100 until 130).map(i => s"w${i}x").mkString(" ")
    val docs = Seq((0L, big), (1L, excerpt), (2L, other)).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(Dedup.shingleDocs(docs), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 0L, 1.0)),
      s"expected exactly the directed excerpt pair (1 contained in 0): ${pairs.toSeq}")
    // the same corpus under the Jaccard entry finds NOTHING at 0.6 —
    // containment is new signal, not a rescaled Jaccard
    val jac = Dedup.jaccardPairs(Dedup.shingleDocs(docs), 0.6).collect()
    assert(jac.isEmpty, s"Jaccard must miss the excerpt pair: ${jac.toSeq}")
  }

  test("incremental containment equals the full run filtered to fresh probes") {
    val s = spark
    val all = Tables.documents(s, sf).select("doc_id", "text")
    val freshIds = all.select("doc_id").filter(col("doc_id") % 5 === 0)
    val inc = Dedup.incrementalContainment(Dedup.shingleDocs(all), freshIds, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.containmentPairs(Dedup.shingleDocs(all), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(_._1 % 5 == 0).toSet
    assert(inc == full && inc.nonEmpty,
      s"incremental containment diverged: ${inc.size} vs ${full.size}")
  }

  test("q164 containment artifact: segment-served fresh probe equals the self-contained incremental run through a parquet round trip") {
    val s = spark
    val all = Tables.documents(s, sf).select("doc_id", "text")
    val fresh = all.filter(col("doc_id") % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_contain").toString
    Dedup.containmentArtifactBuild(s, s"$dir/c", all.filter(col("doc_id") % 5 =!= 0))
    Dedup.containmentAppend(s, s"$dir/c", fresh, "seg1")
    val (_, opened) = Trace(s.sparkContext)(
      (Dedup.ContainmentRank.read(s, s"$dir/c"), Dedup.containmentSegmentDocs(s, s"$dir/c")))
    assert(opened.jobs == 0, s"opening the two-segment artifact and its rank table ran " +
      s"${opened.jobs} Spark jobs — a segment or rank read lost its declared schema")
    val (_, ranked) = Trace(s.sparkContext)(Dedup.containmentRankTable(s, s"$dir/c"))
    assert(ranked.jobs == 1, s"loading the rank table ran ${ranked.jobs} jobs (1: its collect)")
    val served = Dedup.containmentServeFresh(s, s"$dir/c", fresh, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the self-contained incremental path ranks with a DIFFERENT df table
    // (estimated over existing ∪ fresh vs the artifact's existing-only) —
    // set equality is exactly the "any consistent order" claim
    val inc = Dedup.incrementalContainment(Dedup.shingleDocs(all),
        all.select("doc_id").filter(col("doc_id") % 5 === 0), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served == inc && served.nonEmpty,
      s"artifact-served containment diverged: ${served.size} vs ${inc.size}")
  }

  test("containment compaction: serve identical across the size-tiered swap; crash windows recover") {
    import graft.ops.RootPointer
    val s = spark
    val all = Tables.documents(s, sf).select("doc_id", "text")
    val fresh = all.filter(col("doc_id") % 5 === 0)
    val base = java.nio.file.Files.createTempDirectory("graft_contcomp").toString + "/c"
    val v1 = s"$base/v00001"
    Dedup.containmentArtifactBuild(s, v1, all.filter(col("doc_id") % 5 =!= 0))
    // three daily-append-style batches → 4 segments
    Seq(1, 2, 3).foreach(i =>
      Dedup.containmentAppend(s, v1,
        fresh.filter(col("doc_id") % 3 === (i - 1)), s"seg$i"))
    RootPointer.publish(s, base, "v00001")
    assert(Artifacts.segmentCount(s, v1) == 4)
    def serve(root: String) = Dedup.containmentServeFresh(s, root, fresh, 0.8)
      .collect().map(_.toString).sorted.toSeq
    val before = serve(RootPointer.resolve(s, base))
    assert(before.nonEmpty, "vacuous: no served pairs before compaction")
    // under the tier: metadata-only no-op, nothing staged
    assert(!Dedup.maybeCompactContainmentVersioned(s, base, maxSegments = 4))
    assert(RootPointer.resolve(s, base) == v1 && RootPointer.cleanStaging(s, base).isEmpty)
    // crash window: a version staged by a window that died before its
    // publish (a complete merged segment, no marker) is never resolved —
    // readers keep the published 4-segment root
    val hfs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    s.read.parquet((0 to 3).map(i => s"$v1/seg$i"): _*)
      .write.parquet(s"$base/v00002/seg0")
    assert(RootPointer.resolve(s, base) == v1, "an unpublished staging must never resolve")
    assert(serve(RootPointer.resolve(s, base)) == before)
    // over the tier: the next window cleans the remnant, stages the merged
    // segment beside the rank table, and publishes; rows are
    // byte-identical, so serve is too
    assert(Dedup.maybeCompactContainmentVersioned(s, base, maxSegments = 1))
    val cur = RootPointer.resolve(s, base)
    assert(cur != v1 && Artifacts.segmentCount(s, cur) == 1,
      "compaction must publish one merged segment")
    assert(s.read.parquet(s"$cur/seg0").schema == Dedup.ContainmentSeg.schema,
      "the merged segment must keep the declared schema")
    assert(hfs.exists(new org.apache.hadoop.fs.Path(s"$cur/rank")),
      "the rank table must carry into the compacted version")
    assert(serve(cur) == before, "serve must be identical across the publish")
    assert(Artifacts.segmentCount(s, v1) == 4 && serve(v1) == before,
      "the published old root must stay immutable")
    assert(RootPointer.cleanStaging(s, base).isEmpty, "no staging may remain")
  }

  test("containment compaction file-copies the frozen rank table: byte-equal files, one Spark job") {
    import graft.ops.RootPointer
    val s = spark
    val all = Tables.documents(s, sf).select("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft_contrank").toString + "/c"
    val v1 = s"$base/v00001"
    Dedup.containmentArtifactBuild(s, v1, all.filter(col("doc_id") % 5 =!= 0))
    Dedup.containmentAppend(s, v1, all.filter(col("doc_id") % 5 === 0), "seg1")
    RootPointer.publish(s, base, "v00001")
    val (published, work) = Trace(s.sparkContext)(
      Dedup.maybeCompactContainmentVersioned(s, base, maxSegments = 1))
    assert(published)
    // the merged segment's write is the window's only job: the rank table
    // is neither re-read with schema inference nor rewritten
    assert(work.jobs == 1, s"the compaction ran ${work.jobs} Spark jobs")
    def files(root: String): Map[String, Seq[Byte]] = {
      import scala.jdk.CollectionConverters._
      val dir = java.nio.file.Paths.get(new java.net.URI(s"$root/rank").getPath)
      java.nio.file.Files.list(dir).iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.getFileName.toString -> java.nio.file.Files.readAllBytes(f).toSeq).toMap
    }
    val before = files(v1)
    assert(before.keys.exists(_.endsWith(".parquet")), s"vacuous: ${before.keys}")
    assert(files(RootPointer.resolve(s, base)) == before,
      "the published rank files must be byte-equal to the previous version's")
  }

  test("reliable-checkpoint mode: funnel and cluster kernels produce identical results to local mode") {
    // the cluster-safe materialization switch (round-18 verdict gap (e)):
    // spark.graft.checkpointDir flips every funnel stage barrier and
    // cluster-kernel round from localCheckpoint (blocks die with their
    // executor) to reliable checkpoint() — results must be identical,
    // only the failure mode changes
    val s = spark
    import graft.ops.Corpus
    val defFunnel = Corpus.q154CurationFunnel(s, sf)
      .collect().map(_.toString).toSeq
    val defClusters = Dedup.q53DedupClusters(s, sf)
      .collect().map(_.toString).sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    s.conf.set("spark.graft.checkpointDir", dir)
    try {
      assert(Corpus.q154CurationFunnel(s, sf)
        .collect().map(_.toString).toSeq == defFunnel,
        "funnel results must be identical under reliable checkpointing")
      assert(Dedup.q53DedupClusters(s, sf)
        .collect().map(_.toString).sorted.toSeq == defClusters,
        "cluster labels must be identical under reliable checkpointing")
      // the barrier really went reliable: the configured dir holds rdd-*
      // checkpoint data now
      def hasRdd(f: java.io.File): Boolean =
        f.isDirectory && (f.getName.startsWith("rdd-") ||
          Option(f.listFiles).exists(_.exists(hasRdd)))
      assert(hasRdd(new java.io.File(dir)),
        s"no reliable checkpoint data written under $dir")
    } finally s.conf.unset("spark.graft.checkpointDir")
  }

  test("q157 scaled BPE trainer: merge table identical to the distributed loop on the shared corpus") {
    val s = spark
    val local = graft.ops.TextOps.bpeTrainLocal(graft.ops.TextOps.bpeWordFreqs(s, sf), 6)
    val dist = graft.ops.TextOps.bpeTrainMerges(s, sf)
    assert(local == dist && dist.nonEmpty,
      s"driver-local trainer must learn the distributed loop's exact table:\n$local\nvs\n$dist")
  }

  test("scaled BPE trainer: non-ASCII differential — supplementary-plane text trains identically local and distributed") {
    // round-17 advice: the local trainer split words with toCharArray
    // (UTF-16 code units), while the distributed split(word, '') and the
    // DuckDB oracle split by CODE POINT — a supplementary-plane char (🎵,
    // 𝄞: two code units, one code point) would hand the local trainer
    // surrogate halves as base tokens and the learned tables could
    // diverge. Pin the fix with a corpus whose best merges CROSS non-BMP
    // chars: accented + CJK + astral-plane music/emoji glyphs.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nonascii").toString
    val texts = Seq(
      "𝄞a𝄞a 𝄞a𝄞a café café café",
      "🎵漢字 🎵漢字 🎵漢字 𝄞a",
      "naïve naïve 漢字漢 café 🎵漢字")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the split itself: local code-point tokens == the distributed
    // split(word, '') tokens, surrogate pairs never halved
    val distToks = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .select(col("word"), array_remove(split(col("word"), ""), "").as("toks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    distToks.foreach { case (w, toks) =>
      val local = graft.ops.TextOps.splitCodePoints(w).toList
      assert(local == toks, s"split diverged on '$w': $local vs $toks")
      assert(toks.forall(t => !Character.isSurrogate(t.charAt(0)) || t.length == 2),
        s"surrogate half leaked into tokens of '$w': $toks")
    }
    // the trainers: full merge-table identity on the non-ASCII corpus
    val local = graft.ops.TextOps.bpeTrainLocal(
      graft.ops.TextOps.bpeWordFreqs(s, dir), 6)
    val dist = graft.ops.TextOps.bpeTrainMerges(s, dir).take(6)
    assert(local == dist && dist.nonEmpty,
      s"non-ASCII merge tables diverged:\n$local\nvs\n$dist")
    assert(dist.exists(m => m._4.codePointCount(0, m._4.length) < m._4.length),
      s"test corpus failed to learn any supplementary-plane merge: $dist")
  }

  test("BPE learnable-length cap: both trainers skip an over-cap merge identically and keep training") {
    // a corpus whose DOMINANT pair chain would fuse one 18-code-point
    // word (aaaa…) past BpeMaxTokenLen = 16, while a weaker b-chain stays
    // legal: both trainers must take the a-chain up to 16, then refuse
    // 16+2 (and every longer recombination) and fall through to the
    // b-pairs instead of learning a memorized-string token
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bpecap").toString
    val texts = Seq.tabulate(8)(i => (i.toLong, ("a" * 18) + " " + ("b" * 4)))
    texts.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val local = graft.ops.TextOps.bpeTrainLocal(
      graft.ops.TextOps.bpeWordFreqs(s, dir), 6)
    val dist = graft.ops.TextOps.bpeTrainMerges(s, dir)
    assert(local == dist.take(local.size) && local.nonEmpty,
      s"capped merge tables diverged:\n$local\nvs\n$dist")
    val maxLearned = local.map(m => m._4.codePointCount(0, m._4.length)).max
    assert(maxLearned <= graft.ops.TextOps.BpeMaxTokenLen,
      s"an over-cap token was learned: $local")
    assert(local.exists(_._4.startsWith("b")),
      s"training stopped at the cap instead of falling through to legal pairs: $local")
  }

  test("scaled BPE trainer: 200-merge differential against a naive recount-every-round reference") {
    // the incremental bookkeeping (pair->count map, occurrence index,
    // lazy-deletion heap, per-word delta updates) is exactly what this
    // exercises: the naive reference recounts the full pair multiset and
    // rescans every word each round, sharing ONLY the fold + tie-break
    def naive(words0: Array[(Array[String], Long)], n: Int): Seq[(Long, String, String, String, Long)] = {
      var toks = words0.map(_._1)
      val freqs = words0.map(_._2)
      val out = Seq.newBuilder[(Long, String, String, String, Long)]
      var k = 1
      var done = false
      while (k <= n && !done) {
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        for (i <- toks.indices; j <- 0 until toks(i).length - 1)
          counts((toks(i)(j), toks(i)(j + 1))) =
            counts.getOrElse((toks(i)(j), toks(i)(j + 1)), 0L) + freqs(i)
        if (counts.isEmpty) done = true
        else {
          val (l, r) = counts.keys.minBy { case (a, b) =>
            (-counts((a, b)), a, b)
          } // ASCII corpus: String order == UTF-8 byte order
          val m = l + r
          out += ((k.toLong, l, r, m, counts((l, r))))
          toks = toks.map { old =>
            val nw = scala.collection.mutable.ArrayBuffer(old(0))
            for (x <- 1 until old.length)
              if (nw.last == l && old(x) == r) nw(nw.length - 1) = m
              else nw += old(x)
            nw.toArray
          }
          k += 1
        }
      }
      out.result()
    }
    // deterministic varied corpus: 3000 words over a 6-letter alphabet with
    // Zipf-ish frequencies — enough pair structure for hundreds of merges
    val words = (0 until 3000).map { i =>
      val h = i * 2654435761L & 0x7FFFFFFFL
      val len = 4 + (h % 9).toInt
      val cs = Array.tabulate(len)(j =>
        ('a' + ((h >> (j * 3)) % 6).toInt).toChar.toString)
      (cs, (i % 17) + 1L)
    }.toArray
    val inc = graft.ops.TextOps.bpeTrainLocal(words.map(w => (w._1.clone(), w._2)), 200)
    val ref = naive(words.map(w => (w._1.clone(), w._2)), 200)
    assert(inc.size == ref.size && inc == ref,
      s"incremental trainer diverged from the naive reference at merge " +
        s"${inc.zip(ref).indexWhere(p => p._1 != p._2)} of ${ref.size}")
  }

  test("maybeRetrainVocab: planted drift triggers exactly one retrain; published vocab equals a from-scratch train; grace retirement") {
    import graft.ops.{RootPointer, TextOps}
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_vocab").toString
    // v1: the committed vocab — no z/q/x coverage, so the drifted batch
    // below falls back on every character (ppm = 1e6)
    val v1 = TextOps.publishVocab(s, base, TextOps.SubwordVocab)
    val drifted = Seq((0L, "zzqq zzqq zxzx"), (1L, "zxzx zzqq zzqq zzqq"))
      .toDF("doc_id", "text")
    // 1st call: past the tier -> retrain + publish
    assert(TextOps.maybeRetrainVocab(s, base, drifted, maxOovPpm = 100000L, nMerges = 10),
      "planted drift must trigger a retrain")
    // the published vocab IS a from-scratch train on the same frame
    val (root2, vocab2) = TextOps.resolveVocab(s, base)
    val scratch = TextOps.bpeTrainLocal(TextOps.wordFreqsOf(drifted), 10)
      .map(_._4).distinct.sorted
    assert(vocab2 == scratch, s"published $vocab2 != from-scratch $scratch")
    assert(!root2.endsWith(v1))
    // counts under the resolved vocab == counts under the from-scratch
    // vocab, and the batch is now covered (2nd call stays quiet -> EXACTLY
    // one retrain happened)
    assert(!TextOps.maybeRetrainVocab(s, base, drifted, maxOovPpm = 100000L, nMerges = 10),
      "the retrained vocab must cover the drifted batch")
    assert(TextOps.resolveVocab(s, base)._1 == root2, "no second publish")
    // grace: v1 survives the first cycle (keep = 2) and retires after the
    // next drift publishes a third version
    assert(new java.io.File(s"$base/$v1").exists, "pre-drift root retained through grace")
    val drifted2 = Seq((0L, "vvbb vvbb vbvb"), (1L, "vbvb vvbb")).toDF("doc_id", "text")
    assert(TextOps.maybeRetrainVocab(s, base, drifted2, maxOovPpm = 100000L, nMerges = 10))
    assert(!new java.io.File(s"$base/$v1").exists, "oldest root must retire past grace")
    assert(new java.io.File(root2).exists, "previous root stays inside the grace window")
  }

  test("q134 planted near-dups: a one-char mutation and an exact copy are recovered; hamming-0 for the copy") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val near = base.replace('q', 'x')
    val far = "AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"
    val docs = Seq((0L, base), (1L, near), (2L, far), (3L, base))
      .toDF("doc_id", "text")
    val pairs = graft.multimodal.MultimodalOps.phashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((0L, 3L)) && pairs((0L, 3L)) == 0L,
      s"exact copy must fingerprint identically: $pairs")
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) <= 8L,
      s"planted one-char near-dup missed: $pairs")
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((1L, 2L)),
      s"unrelated payload matched: $pairs")
  }

  test("phash observability: candidate/survivor counters ride the serving pass and reconcile with q134's output") {
    val m = graft.multimodal.MultimodalOps.observedPhashMetrics(spark, sf)
    val pairs = graft.multimodal.MultimodalOps.q134PhashNearDup(spark, sf).count()
    assert(m("band_candidates") >= m("survivor_pairs"),
      s"candidates must dominate survivors: $m")
    // the survivor counter rides the final served frame (post filter +
    // dedup), so it equals the gated entry's distinct pair count exactly
    assert(m("survivor_pairs") == pairs && pairs > 0,
      s"survivor counter ${m("survivor_pairs")} != the $pairs distinct pairs")
  }

  test("q143 wide bands: identical fingerprint bits; candidates and survivors a strict subset family of q134's; exact copies guaranteed") {
    val s = spark
    import s.implicits._
    import graft.multimodal.MultimodalOps
    // (1) BIT IDENTITY across layouts: the 64 thresholded cells are the
    // same — only the packing differs. Reassemble both packings into one
    // 64-bit word per doc and compare.
    val docs = Tables.spread(s, Tables.documents(s, sf), "doc_id")
    val both = docs.filter(length(col("text")) > 0)
      .withColumn("f4", expr(MultimodalOps.phashFpExprFor(4)))
      .withColumn("f2", expr(MultimodalOps.phashFpExprFor(2)))
      .withColumn("v4", expr("aggregate(sequence(0, 3), 0L, " +
        "(a, b) -> a + shiftleft(element_at(f4, b + 1), b * 16))"))
      .withColumn("v2", expr("aggregate(sequence(0, 1), 0L, " +
        "(a, b) -> a + shiftleft(element_at(f2, b + 1), b * 32))"))
    assert(both.filter(col("v4") =!= col("v2")).count() == 0,
      "the two band layouts must pack the SAME 64 fingerprint bits")
    // (2) SUBSET IDENTITY (the lever's correctness shape): a shared 32-bit
    // band implies both of its 16-bit halves are shared, so every q143
    // candidate — and therefore every survivor — is also a q134 one, with
    // the same hamming (the verify reads the same 64 bits).
    def pairsOf(n: Int) = MultimodalOps.phashPairs(docs, nBands = n).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val p4 = pairsOf(4)
    val p2 = pairsOf(2)
    assert(p2.keySet.subsetOf(p4.keySet),
      s"wide-band survivors must be a subset: extra = ${p2.keySet -- p4.keySet}")
    p2.foreach { case (k, h) => assert(p4(k) == h,
      s"hamming drifted between layouts on $k: ${p4(k)} vs $h") }
    // (3) GUARANTEED RECALL FLOOR: byte-identical duplicates fingerprint
    // identically, so EVERY band matches under any layout — hamming-0
    // pairs can never be lost by widening bands.
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val planted = Seq((0L, base), (1L, base.replace('q', 'x')),
      (2L, "AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"),
      (3L, base)).toDF("doc_id", "text")
    val wp = MultimodalOps.phashPairs(planted, nBands = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(wp.contains((0L, 3L)) && wp((0L, 3L)) == 0L,
      s"exact copy must survive the wide-band layout: $wp")
    assert(!wp.contains((0L, 2L)) && !wp.contains((1L, 2L)),
      s"unrelated payload matched under wide bands: $wp")
  }

  test("q143 recall trade is real: a pair with flips in both 32-bit bands but one clean 16-bit band is q134-only") {
    val s = spark
    import s.implicits._
    import graft.multimodal.MultimodalOps
    // Construct two 64-cell payloads directly in grid space (one char per
    // cell: length-64 strings sample every position) whose thresholded
    // fingerprints differ at exactly two cells, one in EACH 32-bit band,
    // both inside 16-bit bands 1 and 3: under 4×16 bands 0 and 2 stay
    // clean → candidate + hamming 2 → survivor; under 2×32 NEITHER band is
    // clean → never a candidate. This is the planted form of the measured
    // trade: wider bands buy candidate-mass collapse with recall loss for
    // scattered low-hamming pairs.
    val hi = 'z'; val lo = 'a' // far above / below the grid mean
    val cellsA = Array.fill(64)(lo)
    // a stable high-bit pattern in every 16-bit band, so fingerprints are
    // non-degenerate: cells 0–3 of each 16-bit band are high
    for (b <- 0 to 3; j <- 0 to 3) cellsA(b * 16 + j) = hi
    val cellsB = cellsA.clone()
    cellsB(16 + 8) = hi // extra bit inside 16-bit band 1 (32-bit band 0)
    cellsB(48 + 8) = hi // extra bit inside 16-bit band 3 (32-bit band 1)
    val frame = Seq((0L, new String(cellsA)), (1L, new String(cellsB)))
      .toDF("doc_id", "text")
    val narrow = MultimodalOps.phashPairs(frame, nBands = 4).collect()
    val wide = MultimodalOps.phashPairs(frame, nBands = 2).collect()
    assert(narrow.length == 1 && narrow.head.getLong(2) <= 8,
      s"4x16 must recover the planted pair: ${narrow.mkString(",")}")
    assert(wide.isEmpty,
      s"2x32 must MISS the straddling pair (the documented trade): ${wide.mkString(",")}")
  }

  test("q146 real-codec corpus recall: planted re-renders within budget; banding recovers band-sharers; inverted never") {
    import graft.multimodal.{Multimodal, MultimodalOps}
    val out = MultimodalOps.q146PhashReal(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    var recovered = 0
    for (k <- 0 until 10) {
      val a = 4L * k
      val f0 = Multimodal.aHash64(Multimodal.synthPng(a))
      val f1 = Multimodal.aHash64(Multimodal.synthPng(a + 1))
      val ham = Multimodal.hamming64(f0, f1).toLong
      // decode-quality claim: a real downscaled re-render stays within
      // the hamming budget through the REAL codec path
      assert(ham <= 8, s"group $k re-render drifted $ham bits")
      val shared = (0 to 3).count(b =>
        ((f0 >> (b * 16)) & 0xFFFFL) == ((f1 >> (b * 16)) & 0xFFFFL))
      if (shared >= 1) {
        assert(out.get((a, a + 1)).contains(ham),
          s"group $k shares $shared bands but the pair is missing/wrong: ${out.get((a, a + 1))}")
        recovered += 1
      } else
        // the LSH recall gap, MEASURED on real rasters: within-budget
        // flips scattered across every band never become a candidate —
        // the exact trade the q143 wide-band lever dials (group 0 in this
        // corpus: hamming 5, 0 shared 16-bit bands)
        assert(!out.contains((a, a + 1)),
          s"group $k shares no band yet was paired — banding broke")
      assert(!out.contains((a, a + 3)),
        s"group $k inverted pair must be far: ${out.get((a, a + 3))}")
    }
    assert(recovered >= 9, s"only $recovered/10 planted re-renders recovered")
  }

  test("real-image aHash: re-encode/resize lands within a few bits, unrelated content far") {
    // the content-level multimodal dedup primitive on REAL decoded rasters:
    // a structured gradient, its bilinear downscale, and its inversion
    def png(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach { x =>
        val v = f(x, y) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      })
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val grad = png(64, 48, (x, _) => x * 4)
    val gradSmall = png(32, 24, (x, _) => x * 8) // the same picture at half size
    val inverted = png(64, 48, (x, _) => 255 - x * 4)
    val h0 = Multimodal.aHash64(grad)
    assert(Multimodal.hamming64(h0, Multimodal.aHash64(gradSmall)) <= 10,
      "downscaled re-render of the same picture must stay within a few bits")
    assert(Multimodal.hamming64(h0, Multimodal.aHash64(inverted)) >= 16,
      "inverted content must land far in hamming space")
    // the threshold mass splits the gradient: the fingerprint is non-trivial
    val bits = java.lang.Long.bitCount(h0)
    assert(bits >= 8 && bits <= 56, s"degenerate fingerprint: $bits bits set")
  }

  test("compaction swap crash recovery: an interrupted retire-then-promote window is finished, a stale scratch is discarded") {
    // a compaction is a staged version plus a publish: a crash at any point
    // before the publish leaves the published root untouched and an
    // unmarked version dir that the next window deletes
    val s = spark
    import graft.ops.{Retrieval, RootPointer, TextOps}
    val docs = TextOps.tokenizedDocs(s, sf)
    val qt = TextOps.queryTerms(s, sf)
    def rank(path: String) = {
      val (tf, df, st) = Retrieval.lexIndexServe(s, path)
      TextOps.bm25RankedFrom(tf, df, st, qt).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    }
    def twoSegBase(name: String, mod: Int): String = {
      val base = java.nio.file.Files.createTempDirectory(name).toString + "/idx"
      Retrieval.lexIndexSegment(docs.filter(col("doc_id") % mod === 0), s"$base/v00001", "seg0")
      Retrieval.lexIndexSegment(docs.filter(col("doc_id") % mod === 1), s"$base/v00001", "seg1")
      RootPointer.publish(s, base, "v00001")
      base
    }
    // CASE 1 — crash AFTER the compaction was fully staged, BEFORE the
    // publish: readers keep serving the two-segment root, and the next
    // window discards the remnant and publishes a fresh compaction
    val art = twoSegBase("lex_crash", 2)
    val expected = rank(RootPointer.resolve(s, art))
    Retrieval.lexIndexCompact(s, s"$art/v00001", s"$art/v00002")
    assert(RootPointer.resolve(s, art) == s"$art/v00001" &&
      Retrieval.lexSegmentCount(s, s"$art/v00001") == 2,
      "a staged compaction must not be visible before its publish")
    assert(rank(RootPointer.resolve(s, art)) == expected)
    assert(Retrieval.maybeCompactLexVersioned(s, art, 1),
      "the next window must publish the compaction")
    val cur = RootPointer.resolve(s, art)
    assert(Retrieval.lexSegmentCount(s, cur) == 1 && rank(cur) == expected,
      "the published compaction must serve bit-for-bit")
    assert(RootPointer.cleanStaging(s, art).isEmpty, "no staging may remain")
    // CASE 1c — a segment appended to the published root after the crash
    // is part of the next window's input, so it survives into the publish
    val art1c = twoSegBase("lex_crash1c", 3)
    Retrieval.lexIndexCompact(s, s"$art1c/v00001", s"$art1c/v00002")
    Retrieval.lexIndexSegment(docs.filter(col("doc_id") % 3 === 2),
      RootPointer.resolve(s, art1c), "seg2")
    assert(Retrieval.maybeCompactLexVersioned(s, art1c, 1))
    val cur1c = RootPointer.resolve(s, art1c)
    assert(Retrieval.lexSegmentCount(s, cur1c) == 1,
      "the post-crash segment must be merged into the published compaction")
    assert(rank(cur1c) == expected, "all three thirds must serve after the publish")
    // CASE 2 — crash mid-staging (a partial seg0, no marker) below the
    // tier: the remnant is discarded, nothing publishes, the root is intact
    val art2 = twoSegBase("lex_crash2", 2)
    val fs2 = new org.apache.hadoop.fs.Path(art2)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs2.mkdirs(new org.apache.hadoop.fs.Path(s"$art2/v00002/seg0"))
    assert(!Retrieval.maybeCompactLexVersioned(s, art2, 4),
      "below tier with intact segments: remnant discarded, no compaction")
    assert(RootPointer.resolve(s, art2) == s"$art2/v00001" &&
      Retrieval.lexSegmentCount(s, s"$art2/v00001") == 2 &&
      !fs2.exists(new org.apache.hadoop.fs.Path(s"$art2/v00002")))
    assert(rank(RootPointer.resolve(s, art2)) == expected, "intact artifact untouched by the cleanup")
  }

  test("ivfCellSplitArtifact: full-probe serve bit-identical, mass conserved, untouched rows byte-equal") {
    val s = spark
    graft.functions.VectorFunctions.register(s)
    val base = java.nio.file.Files.createTempDirectory("ivf_split").toString
    val root = flatTrioDir; val out = s"$base/art2"
    val (emb, _, _) = Similarity.pqParts(s, sf)
    Similarity.ivfCellSplitArtifact(s, root, out, emb.select("vec_id", "e"))
    // a split changes only WHERE rows are routed, never what the index
    // contains: probing every cell on both sides must return identical rows
    val queries = emb.filter(col("vec_id") < 10).select("vec_id", "e")
    def serve(r: String, nprobe: Int): Seq[String] = Similarity.ivfPqSearchFrom(
      s.read.parquet(s"$r/cents"), s.read.parquet(s"$r/books"),
      s.read.parquet(s"$r/codes"), queries, nprobe = nprobe)
      .collect().map(_.toString).toSeq
    val nPre = s.read.parquet(s"$root/cents").count().toInt
    val nPost = s.read.parquet(s"$out/cents").count().toInt
    assert(nPost > nPre, "split must add sub-cells")
    val pre = serve(root, nPre)
    val post = serve(out, nPost)
    assert(pre.nonEmpty && pre == post,
      "full-probe serving must be bit-identical across the split")
    // row set preserved, codes payload byte-identical, untouched rows unmoved
    val cPre = s.read.parquet(s"$root/codes").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Any](2)))).toMap
    val cPost = s.read.parquet(s"$out/codes").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Any](2)))).toMap
    assert(cPre.keySet == cPost.keySet, "split must not add or drop rows")
    val occ = cPre.values.groupBy(_._1).map { case (c, g) => c -> g.size.toLong }
    val hot = occ.toSeq.sortBy { case (c, n) => (-n, c) }.take(2).map(_._1).toSet
    val maxPre = cPre.values.map(_._1).max
    cPre.foreach { case (id, (cell, payload)) =>
      val (cell2, payload2) = cPost(id)
      assert(payload2 == payload, s"codes payload changed for vec $id")
      if (hot(cell)) assert(cell2 == cell || cell2 > maxPre, s"hot row $id routed to $cell2")
      else assert(cell2 == cell, s"untouched row $id moved to $cell2")
    }
    val newIds = cPost.values.map(_._1).toSet -- cPre.values.map(_._1).toSet
    assert(newIds.nonEmpty && newIds.forall(_ > maxPre), s"new cell ids $newIds")
    // cents: untouched rows byte-equal; books byte-equal
    val cenPre = s.read.parquet(s"$root/cents").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val cenPost = s.read.parquet(s"$out/cents").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    (cenPre.keySet -- hot).foreach { c =>
      assert(cenPost(c) == cenPre(c), s"untouched centroid $c changed") }
    assert(s.read.parquet(s"$out/books").collect().map(_.toString).sorted.toSeq ==
      s.read.parquet(s"$root/books").collect().map(_.toString).sorted.toSeq)
  }

  test("maybeSplitIvf: share tier gates the swap; both crash windows recover to a consistent artifact") {
    // the split step of the versioned window: tier-gated, and a crash at
    // any point before the publish leaves readers on the consistent
    // unsplit root
    val s = spark
    graft.functions.VectorFunctions.register(s)
    import s.implicits._
    import graft.ops.RootPointer
    val dir = java.nio.file.Files.createTempDirectory("ivf_split_policy").toString
    // skewed synthetic: cell 0 holds 80 of 100 rows; raw vectors spread so
    // the local 2-means produces two real halves
    val emb = s.range(100).selectExpr("id AS vec_id",
      """CASE WHEN id < 80 THEN array(CAST(id % 13 AS DOUBLE) * 0.1, CAST(id % 7 AS DOUBLE) * 0.1)
              ELSE array(CAST((1 + id % 3) * 10 AS DOUBLE), CAST((1 + id % 3) * 10 AS DOUBLE)) END AS e""")
    def publishArt(base: String): Unit = {
      val root = s"$base/v00001"
      Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)), (2L, Seq(20.0, 20.0)),
        (3L, Seq(30.0, 30.0))).toDF("cent_id", "ce").write.parquet(s"$root/cents")
      Seq((0, 0L, Seq(0.0))).toDF("m", "cent_id", "ce").write.parquet(s"$root/books")
      s.range(100).selectExpr("id AS vec_id",
        "CAST(CASE WHEN id < 80 THEN 0 ELSE 1 + id % 3 END AS BIGINT) AS cell",
        "array(1, 2) AS codes").write.parquet(s"$root/codes")
      RootPointer.publish(s, base, "v00001")
    }
    def split(base: String, ppm: Long) =
      Similarity.maybeMaintainIvfVersioned(s, base, emb, maxTombstones = 1, maxSharePpm = ppm)._2
    def consistent(root: String, split: Boolean): Unit = {
      val occ = s.read.parquet(s"$root/codes").groupBy("cell").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(occ.values.sum == 100L, s"mass lost: $occ")
      assert(if (split) occ.values.max < 80L else occ.values.max == 80L,
        s"hot cell (split = $split): $occ")
      val centIds = s.read.parquet(s"$root/cents").select("cent_id").collect()
        .map(_.getLong(0)).toSet
      assert(occ.keySet.subsetOf(centIds),
        s"code rows route to missing centroids: ${occ.keySet -- centIds}")
    }
    // tier gate: 800000 ppm max share is under a 900000 tier → no-op
    val base1 = s"$dir/a1"; publishArt(base1)
    assert(!split(base1, 900000))
    assert(RootPointer.resolve(s, base1) == s"$base1/v00001", "no-op below tier")
    // past the tier: the split publishes a consistent, lighter version
    assert(split(base1, 500000))
    assert(RootPointer.resolve(s, base1) != s"$base1/v00001")
    consistent(RootPointer.resolve(s, base1), split = true)
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // crash window 1: the split was fully staged but never published —
    // readers resolve the unsplit root, which is consistent as it stands
    val base2 = s"$dir/a2"; publishArt(base2)
    Similarity.ivfCellSplitArtifact(s, s"$base2/v00001", s"$base2/v00002", emb)
    assert(RootPointer.resolve(s, base2) == s"$base2/v00001")
    consistent(RootPointer.resolve(s, base2), split = false)
    assert(split(base2, 500000), "the next window must split and publish")
    consistent(RootPointer.resolve(s, base2), split = true)
    // crash window 2: only the staged cents were written (codes pending)
    val base3 = s"$dir/a3"; publishArt(base3)
    s.read.parquet(s"$base3/v00001/cents").write.parquet(s"$base3/v00002/cents")
    assert(RootPointer.resolve(s, base3) == s"$base3/v00001")
    consistent(RootPointer.resolve(s, base3), split = false)
    assert(split(base3, 500000), "the next window must split and publish")
    assert(RootPointer.resolve(s, base3) == s"$base3/v00002" &&
      !hfs.exists(new org.apache.hadoop.fs.Path(s"$base3/v00003")),
      "the remnant must be cleaned before staging, not stacked beside it")
    consistent(RootPointer.resolve(s, base3), split = true)
  }

  test("split crash windows cannot lose an appended batch, wedge the compactor, or loop a degenerate split") {
    val s = spark
    graft.functions.VectorFunctions.register(s)
    import s.implicits._
    import graft.ops.RootPointer
    val dir = java.nio.file.Files.createTempDirectory("ivf_split_edges").toString
    val emb = s.range(100).selectExpr("id AS vec_id",
      """CASE WHEN id < 80 THEN array(CAST(id % 13 AS DOUBLE) * 0.1, CAST(id % 7 AS DOUBLE) * 0.1)
              ELSE array(CAST((1 + id % 3) * 10 AS DOUBLE), CAST((1 + id % 3) * 10 AS DOUBLE)) END AS e""")
    def writeArt(root: String): Unit = {
      Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)), (2L, Seq(20.0, 20.0)),
        (3L, Seq(30.0, 30.0))).toDF("cent_id", "ce").write.parquet(s"$root/cents")
      Seq((0, 0L, Seq(0.0))).toDF("m", "cent_id", "ce").write.parquet(s"$root/books")
      s.range(100).selectExpr("id AS vec_id",
        "CAST(CASE WHEN id < 80 THEN 0 ELSE 1 + id % 3 END AS BIGINT) AS cell",
        "array(1, 2) AS codes").write.parquet(s"$root/codes")
    }
    def publishArt(base: String): Unit = {
      writeArt(s"$base/v00001"); RootPointer.publish(s, base, "v00001")
    }
    def codesOf(base: String) = s.read.parquet(s"${RootPointer.resolve(s, base)}/codes")
    // (1) the append-after-crash window: a split staged but never
    // published, then the next ingest batch appends to the PUBLISHED root
    // — the next window splits from that root, so the batch is in the
    // published split. Real artifacts here because the append ENCODES
    // under books.
    val all = Tables.embeddings(s, sf)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e")
    val (subsA, seedsA) = Similarity.subSplit(all)
    val (rcents, rbooks, rcodes) = Similarity.ivfPqIndex(all, subsA, seedsA)
    val base1 = s"$dir/a1"
    Similarity.writeIvfArtifacts(s"$base1/v00001", rcents, rbooks, rcodes)
    RootPointer.publish(s, base1, "v00001")
    val allIds = all.select("vec_id").collect().map(_.getLong(0)).toSet
    Similarity.ivfCellSplitArtifact(s, s"$base1/v00001", s"$base1/v00002", all)
    val v0 = all.orderBy("vec_id").select("e").head().getSeq[Double](0)
    val freshBatch = Seq(900L, 901L).map(id =>
      (id, v0.map(x => (x * (1.0 + id * 1e-5)).toFloat)))
      .toDF("vec_id", "embedding")
    graft.streaming.VecStream.indexAppendBatch(freshBatch, RootPointer.resolve(s, base1))
    assert(Similarity.maybeMaintainIvfVersioned(s, base1,
      all.unionByName(freshBatch.selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e")),
      maxTombstones = 1, maxSharePpm = 1L)._2, "the next window must split")
    val ids1 = codesOf(base1).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(Set(900L, 901L).subsetOf(ids1), "the fresh batch was lost to the split")
    assert(allIds.subsetOf(ids1), "the split codes lost rows")
    // (2) a crashed split must not wedge the COMPACTOR: its remnant is
    // discarded and the compaction step reads the published root
    val base2 = s"$dir/a2"; publishArt(base2)
    Similarity.ivfCellSplitArtifact(s, s"$base2/v00001", s"$base2/v00002", emb)
    s.range(5).select(col("id").as("vec_id")).write.parquet(s"$base2/v00001/tombstones/t0")
    s.range(5, 9).select(col("id").as("vec_id")).write.parquet(s"$base2/v00001/tombstones/t1")
    assert(Similarity.maybeMaintainIvfVersioned(s, base2, emb,
      maxTombstones = 1, maxSharePpm = 1000000L)._1,
      "the compactor must run past the split remnant")
    assert(codesOf(base2).count() == 91L,
      "compaction must drop exactly the 9 tombstoned rows")
    // (3) the no-progress guard: a hot list of IDENTICAL vectors cannot be
    // reduced by a 2-means (both seeds coincide) — the policy must refuse
    // the publish instead of rewriting the codes table on every call
    val base3 = s"$dir/a3"; publishArt(base3)
    val embDup = s.range(100).selectExpr("id AS vec_id",
      """CASE WHEN id < 80 THEN array(0.5, 0.5)
              ELSE array(CAST((1 + id % 3) * 10 AS DOUBLE), CAST((1 + id % 3) * 10 AS DOUBLE)) END AS e""")
    def split3() = Similarity.maybeMaintainIvfVersioned(s, base3, embDup,
      maxTombstones = 1, maxSharePpm = 500000)._2
    assert(!split3(), "a degenerate split must not land")
    assert(RootPointer.resolve(s, base3) == s"$base3/v00001" &&
      RootPointer.cleanStaging(s, base3).isEmpty,
      "the refused split must publish nothing and leave no staging")
    // the refusal is MEMOIZED beside the pointer: while occupancy is
    // unchanged the next window skips the attempt entirely (a skewed
    // ingest of identical vectors must not pay a corpus rewrite per batch)
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(hfs.exists(new org.apache.hadoop.fs.Path(s"$base3/_SPLIT_REFUSED")),
      "refusal memo must be written")
    assert(!split3())
    // (3b) PARTIAL progress lands: hot set = one degenerate list (cell 0,
    // identical vectors) + one splittable list (cell 1, spread) — the
    // splittable one's progress must not be discarded because the global
    // max (degenerate cell 0) is unchanged
    val base3b = s"$dir/a3b"
    Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)), (2L, Seq(20.0, 20.0)),
      (3L, Seq(30.0, 30.0))).toDF("cent_id", "ce").write.parquet(s"$base3b/v00001/cents")
    Seq((0, 0L, Seq(0.0))).toDF("m", "cent_id", "ce").write.parquet(s"$base3b/v00001/books")
    // cell 0: 45 rows, cell 1: 40 rows, cells 2/3: ~7 each — both 0 and 1
    // are over a 300000 ppm tier
    s.range(100).selectExpr("id AS vec_id",
      "CAST(CASE WHEN id < 45 THEN 0 WHEN id < 85 THEN 1 ELSE 2 + id % 2 END AS BIGINT) AS cell",
      "array(1, 2) AS codes").write.parquet(s"$base3b/v00001/codes")
    RootPointer.publish(s, base3b, "v00001")
    val embMix = s.range(100).selectExpr("id AS vec_id",
      """CASE WHEN id < 45 THEN array(0.5, 0.5)
              WHEN id < 85 THEN array(10.0 + CAST(id % 13 AS DOUBLE) * 0.1, 10.0 + CAST(id % 7 AS DOUBLE) * 0.1)
              ELSE array(CAST((2 + id % 2) * 10 AS DOUBLE), CAST((2 + id % 2) * 10 AS DOUBLE)) END AS e""")
    assert(Similarity.maybeMaintainIvfVersioned(s, base3b, embMix,
      maxTombstones = 1, maxSharePpm = 300000)._2,
      "the splittable hot cell's progress must land despite the degenerate one")
    val occ3b = codesOf(base3b).groupBy("cell").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(occ3b.values.sum == 100L)
    assert(occ3b(0L) == 45L, "the degenerate cell keeps its rows")
    assert(occ3b(1L) < 40L, "the splittable cell got lighter")
    // (3c) over-tier-only selection: with ONE cell over the tier, only it
    // is a split candidate — the under-tier second-largest must not grow
    // the cell count as collateral
    val base3c = s"$dir/a3c"; publishArt(base3c) // cell 0 = 80, others ~7
    assert(Similarity.maybeMaintainIvfVersioned(s, base3c, emb,
      maxTombstones = 1, maxSharePpm = 500000)._2)
    val cents3c = s.read.parquet(s"${RootPointer.resolve(s, base3c)}/cents").count()
    assert(cents3c == 5L,
      s"only the over-tier cell may split (got $cents3c cells — an under-tier cell split too)")
    // (4) loud coverage: emb missing hot-cell members must throw, not
    // silently drop their rows from the rewritten artifact
    val root4 = s"$dir/a4"; writeArt(root4)
    val embPartial = emb.filter(col("vec_id") >= 40)
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfCellSplitArtifact(s, root4, s"$root4/out", embPartial)
    }
    assert(ex.getMessage.contains("cover every hot-cell vec_id"), ex.getMessage)
  }

  test("maybeMaintainIvf: compaction runs before the split, so occupancy counts live rows") {
    val s = spark
    graft.functions.VectorFunctions.register(s)
    import s.implicits._
    import graft.ops.RootPointer
    val base = java.nio.file.Files.createTempDirectory("ivf_maintain").toString + "/ivf"
    val root = s"$base/v00001"
    // cell 0 carries 60 physical rows but 40 are TOMBSTONED — live shares
    // are 20/20/20/20 (uniform). A split keyed on physical rows would split
    // the mostly-dead cell 0; the window must compact first and the split
    // step then reads the compacted version and finds no cell over the tier.
    Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)), (2L, Seq(20.0, 20.0)),
      (3L, Seq(30.0, 30.0))).toDF("cent_id", "ce").write.parquet(s"$root/cents")
    Seq((0, 0L, Seq(0.0))).toDF("m", "cent_id", "ce").write.parquet(s"$root/books")
    s.range(120).selectExpr("id AS vec_id",
      "CAST(CASE WHEN id < 60 THEN 0 ELSE 1 + id % 3 END AS BIGINT) AS cell",
      "array(1, 2) AS codes").write.parquet(s"$root/codes")
    s.range(20).select(col("id").as("vec_id")).write
      .parquet(s"$root/tombstones/t0")
    s.range(20, 40).select(col("id").as("vec_id")).write
      .parquet(s"$root/tombstones/t1")
    RootPointer.publish(s, base, "v00001")
    val emb = s.range(120).selectExpr("id AS vec_id", "array(0.0, 0.0) AS e")
    val (compacted, split, merged) = Similarity.maybeMaintainIvfVersioned(s, base, emb,
      maxTombstones = 1, maxSharePpm = 400000, minSharePpm = 100000)
    assert(compacted, "the tombstone tier must trigger compaction")
    assert(!split, "live shares are uniform at 250000 ppm — no split past a 400000 tier")
    assert(!merged, "live shares are uniform at 250000 ppm — no merge below a 100000 floor")
    val cur = RootPointer.resolve(s, base)
    assert(s.read.parquet(s"$cur/codes").count() == 80L, "deleted rows reclaimed")
    assert(s.read.parquet(s"$cur/cents").count() == 4L, "no cell split")
    assert(Artifacts.VecTombstones.count(s, cur) == 0)
  }

  test("ivfCellMergeArtifact: full-probe serve bit-identical, mass conserved, cold rows rerouted, merged centroids gone") {
    val s = spark
    graft.functions.VectorFunctions.register(s)
    val base = java.nio.file.Files.createTempDirectory("ivf_merge").toString
    val root = flatTrioDir; val out = s"$base/art2"
    val (emb, _, _) = Similarity.pqParts(s, sf)
    val cold = Similarity.ivfCellMergeArtifact(s, root, out, emb.select("vec_id", "e")).toSet
    // a merge changes only WHERE rows are routed, never what the index
    // contains: probing every cell on both sides must return identical rows
    val queries = emb.filter(col("vec_id") < 10).select("vec_id", "e")
    def serve(r: String, nprobe: Int): Seq[String] = Similarity.ivfPqSearchFrom(
      s.read.parquet(s"$r/cents"), s.read.parquet(s"$r/books"),
      s.read.parquet(s"$r/codes"), queries, nprobe = nprobe)
      .collect().map(_.toString).toSeq
    val nPre = s.read.parquet(s"$root/cents").count().toInt
    val nPost = s.read.parquet(s"$out/cents").count().toInt
    assert(cold.size == 2 && nPost == nPre - 2, "merge must shrink nlist by the cold count")
    assert(serve(root, nPre) == serve(out, nPost) && serve(out, nPost).nonEmpty,
      "full-probe serving must be bit-identical across the merge")
    // row set preserved, payload byte-identical; cold rows land in
    // SURVIVING cells, untouched rows unmoved
    val cPre = s.read.parquet(s"$root/codes").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Any](2)))).toMap
    val cPost = s.read.parquet(s"$out/codes").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Any](2)))).toMap
    assert(cPre.keySet == cPost.keySet, "merge must not add or drop rows")
    val cenPost = s.read.parquet(s"$out/cents").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(cold.forall(c => !cenPost.contains(c)), "merged centroids must leave cents")
    cPre.foreach { case (id, (cell, payload)) =>
      val (cell2, payload2) = cPost(id)
      assert(payload2 == payload, s"codes payload changed for vec $id")
      if (cold(cell)) assert(!cold(cell2) && cenPost.contains(cell2),
        s"cold row $id routed to $cell2 which is not a survivor")
      else assert(cell2 == cell, s"untouched row $id moved to $cell2")
    }
    // survivors byte-equal; books byte-equal
    val cenPre = s.read.parquet(s"$root/cents").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    cenPost.foreach { case (c, ce) =>
      assert(cenPre(c) == ce, s"surviving centroid $c changed") }
    assert(s.read.parquet(s"$out/books").collect().map(_.toString).sorted.toSeq ==
      s.read.parquet(s"$root/books").collect().map(_.toString).sorted.toSeq)
  }

  test("maybeMergeIvf: floor tier gates; empty cells reclaimed; all-cold refused; crash window recovers") {
    val s = spark
    graft.functions.VectorFunctions.register(s)
    import s.implicits._
    import graft.ops.RootPointer
    val dir = java.nio.file.Files.createTempDirectory("ivf_merge_policy").toString
    // cell 3 is EMPTY (a centroid with no code rows — the q132 dead-nlist
    // finding); cells 1/2 small but over the floor; cell 0 hot
    def publishArt(base: String, nCells: Int): Unit = {
      val root = s"$base/v00001"
      Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)), (2L, Seq(20.0, 20.0)),
        (3L, Seq(30.0, 30.0))).take(nCells).toDF("cent_id", "ce").write.parquet(s"$root/cents")
      Seq((0, 0L, Seq(0.0))).toDF("m", "cent_id", "ce").write.parquet(s"$root/books")
      val cell = if (nCells == 4) "CASE WHEN id < 80 THEN 0 WHEN id % 2 = 0 THEN 1 ELSE 2 END"
        else "id % 2"
      s.range(100).selectExpr("id AS vec_id", s"CAST($cell AS BIGINT) AS cell",
        "array(1, 2) AS codes").write.parquet(s"$root/codes")
      RootPointer.publish(s, base, "v00001")
    }
    val emb = s.range(100).selectExpr("id AS vec_id",
      "array(CAST(id % 13 AS DOUBLE) * 0.1, CAST(id % 7 AS DOUBLE) * 0.1) AS e")
    def merge(base: String, floor: Long) = Similarity.maybeMaintainIvfVersioned(s, base, emb,
      maxTombstones = 1, maxSharePpm = 1000000L, minSharePpm = floor)._3
    def cur(base: String, t: String) = s.read.parquet(s"${RootPointer.resolve(s, base)}/$t")
    // shares: 800000 / 100000 / 100000 / 0 ppm. Floor 50000: only the
    // empty cell is below → pure metadata reclamation, no row moves.
    val base1 = s"$dir/a1"; publishArt(base1, 4)
    assert(merge(base1, 50000))
    assert(cur(base1, "cents").count() == 3, "empty cell reclaimed")
    assert(cur(base1, "codes").count() == 100, "no row touched")
    // tier no-op now: everything surviving is over the floor
    assert(!merge(base1, 50000))
    // floor 150000: cells 1 and 2 fold into survivors; mass conserved and
    // every row routes to a surviving centroid
    assert(merge(base1, 150000))
    val occ = cur(base1, "codes").groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val centIds = cur(base1, "cents").select("cent_id").collect()
      .map(_.getLong(0)).toSet
    assert(occ.values.sum == 100L, s"mass lost: $occ")
    assert(occ.keySet.subsetOf(centIds) && centIds.size == 1,
      s"rows must route to the one survivor: $occ vs $centIds")
    // single-cell index: nothing below a saturating floor (share =
    // 1000000 is not < 1000000) — no-op, never a self-fold
    val one = RootPointer.resolve(s, base1)
    assert(!merge(base1, 1000000))
    assert(RootPointer.resolve(s, base1) == one && cur(base1, "cents").count() == 1,
      "no-op must not publish")
    // all-cold refusal: both cells of a two-cell index under the floor
    // would fold the whole index — refuse, nothing published
    val base2 = s"$dir/a2"; publishArt(base2, 2)
    assert(!merge(base2, 900000))
    assert(RootPointer.resolve(s, base2) == s"$base2/v00001", "refusal must not publish")
    // crash window: a merge staged but never published — readers keep the
    // unmerged root, and the next window discards the remnant and merges
    val base3 = s"$dir/a3"; publishArt(base3, 4)
    Similarity.ivfCellMergeArtifact(s, s"$base3/v00001", s"$base3/v00002", emb)
    assert(RootPointer.resolve(s, base3) == s"$base3/v00001" &&
      cur(base3, "cents").count() == 4L, "an unpublished merge must not be visible")
    assert(merge(base3, 50000), "the next window must merge and publish")
    assert(cur(base3, "codes").count() == 100L, "mass lost")
    assert(cur(base3, "cents").count() == 3L, "the window's own merge must land")
  }

  test("maintenance composition: planted skew splits and the dead tail merges in one maybeMaintainIvf pass") {
    val s = spark
    graft.functions.VectorFunctions.register(s)
    import s.implicits._
    import graft.ops.RootPointer
    val base = java.nio.file.Files.createTempDirectory("ivf_maintain2").toString + "/ivf"
    val root = s"$base/v00001"
    // cell 0: 80 rows (hot, separable halves); cells 1/2: 9 rows each;
    // cell 3: EMPTY — one window must split the hot cell AND reclaim the
    // dead one (the merge step reads the split step's version), leaving
    // mass conserved and every row reachable
    Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)), (2L, Seq(20.0, 20.0)),
      (3L, Seq(30.0, 30.0))).toDF("cent_id", "ce").write.parquet(s"$root/cents")
    Seq((0, 0L, Seq(0.0))).toDF("m", "cent_id", "ce").write.parquet(s"$root/books")
    s.range(98).selectExpr("id AS vec_id",
      "CAST(CASE WHEN id < 80 THEN 0 WHEN id % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS cell",
      "array(1, 2) AS codes").write.parquet(s"$root/codes")
    RootPointer.publish(s, base, "v00001")
    val emb = s.range(98).selectExpr("id AS vec_id",
      """CASE WHEN id < 80 THEN array(CAST(id % 13 AS DOUBLE) * 0.1, CAST(id % 7 AS DOUBLE) * 0.1)
              ELSE array(CAST((1 + id % 3) * 10 AS DOUBLE), CAST((1 + id % 3) * 10 AS DOUBLE)) END AS e""")
    val (compacted, split, merged) = Similarity.maybeMaintainIvfVersioned(s, base, emb,
      maxTombstones = 5, maxSharePpm = 500000, minSharePpm = 50000)
    assert(!compacted && split && merged, s"($compacted, $split, $merged)")
    val cur = RootPointer.resolve(s, base)
    val occ = s.read.parquet(s"$cur/codes").groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val centIds = s.read.parquet(s"$cur/cents").select("cent_id").collect()
      .map(_.getLong(0)).toSet
    assert(occ.values.sum == 98L, s"mass lost: $occ")
    assert(occ.values.max < 80L, s"hot cell not lighter: $occ")
    assert(!centIds.contains(3L), "the dead cell must be reclaimed")
    assert(occ.keySet.subsetOf(centIds),
      s"rows route to missing centroids: ${occ.keySet -- centIds}")
    // one publish for the whole window: the split's intermediate version
    // was never published and is gone
    assert(RootPointer.completeVersions(s, base) == Seq("v00001", cur.split('/').last) &&
      RootPointer.cleanStaging(s, base).isEmpty)
  }

  test("versioned-root pointer: readers always resolve a complete immutable root; the lex policy publishes through it") {
    val s = spark
    import graft.ops.{Retrieval, RootPointer, TextOps}
    val base = java.nio.file.Files.createTempDirectory("rootptr").toString + "/lex"
    val docs = TextOps.tokenizedDocs(s, sf)
    val cut = Tables.documents(s, sf).agg(max(col("doc_id"))).head().getLong(0) / 2
    // stage v1 (two segments) and publish
    Retrieval.lexIndexSegment(docs.filter(col("doc_id") <= cut), s"$base/v00001", "seg0")
    Retrieval.lexIndexAppend(s, s"$base/v00001", docs.filter(col("doc_id") > cut), "seg1")
    RootPointer.publish(s, base, "v00001")
    assert(RootPointer.resolve(s, base) == s"$base/v00001")
    def ranked(root: String): Seq[String] = {
      val (tf, df, st) = Retrieval.lexIndexServe(s, root)
      TextOps.bm25RankedFrom(tf, df, st, TextOps.queryTerms(s, sf))
        .orderBy("query_id", "rnk").collect().map(_.toString).toSeq
    }
    val baseline = ranked(RootPointer.resolve(s, base))
    assert(baseline.nonEmpty)
    // an incomplete staging dir (a writer mid-publish, or a crash) can
    // NEVER resolve — the reader's mid-swap guarantee
    val hfs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    hfs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/v00002/seg0"))
    assert(RootPointer.resolve(s, base) == s"$base/v00001",
      "an unmarked version dir must never resolve")
    // versioned compaction: stages the compaction as the next version and
    // publishes it; the old root stays byte-immutable (a pre-flip reader's view)
    assert(Retrieval.maybeCompactLexVersioned(s, base, maxSegments = 1))
    val cur = RootPointer.resolve(s, base)
    assert(cur != s"$base/v00001" && cur.startsWith(s"$base/v0"), cur)
    assert(Retrieval.lexSegmentCount(s, s"$base/v00001") == 2,
      "the published old root must stay immutable")
    assert(Retrieval.lexSegmentCount(s, cur) == 1, "the new root is compacted")
    assert(ranked(s"$base/v00001") == baseline, "pre-flip reader view changed")
    assert(ranked(cur) == baseline, "compaction must not change served ranking")
    // no-op pass: nothing under the tier — no new version, staging cleaned
    assert(!Retrieval.maybeCompactLexVersioned(s, base, maxSegments = 10))
    assert(RootPointer.resolve(s, base) == cur)
    assert(RootPointer.cleanStaging(s, base).isEmpty, "no-op must leave no staging")
    // grace-window retirement: keep the newest, never the pointer target
    val retired = RootPointer.retireOld(s, base, keep = 1)
    assert(retired == Seq("v00001") &&
      !hfs.exists(new org.apache.hadoop.fs.Path(s"$base/v00001")))
    assert(RootPointer.resolve(s, base) == cur)
  }

  test("maybeMaintainIvfVersioned: split+merge land in a new published version; old root byte-immutable; crash staging cleaned") {
    val s = spark
    graft.functions.VectorFunctions.register(s)
    import s.implicits._
    import graft.ops.RootPointer
    val base = java.nio.file.Files.createTempDirectory("rootptr_ivf").toString + "/ivf"
    val v1 = s"$base/v00001"
    Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)), (2L, Seq(20.0, 20.0)),
      (3L, Seq(30.0, 30.0))).toDF("cent_id", "ce").write.parquet(s"$v1/cents")
    Seq((0, 0L, Seq(0.0))).toDF("m", "cent_id", "ce").write.parquet(s"$v1/books")
    s.range(98).selectExpr("id AS vec_id",
      "CAST(CASE WHEN id < 80 THEN 0 WHEN id % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS cell",
      "array(1, 2) AS codes").write.parquet(s"$v1/codes")
    RootPointer.publish(s, base, "v00001")
    val emb = s.range(98).selectExpr("id AS vec_id",
      """CASE WHEN id < 80 THEN array(CAST(id % 13 AS DOUBLE) * 0.1, CAST(id % 7 AS DOUBLE) * 0.1)
              ELSE array(CAST((1 + id % 3) * 10 AS DOUBLE), CAST((1 + id % 3) * 10 AS DOUBLE)) END AS e""")
    val (c, sp, m) = Similarity.maybeMaintainIvfVersioned(s, base, emb,
      maxTombstones = 5, maxSharePpm = 500000, minSharePpm = 50000)
    assert(!c && sp && m, s"($c, $sp, $m)")
    val cur = RootPointer.resolve(s, base)
    assert(cur != v1, "maintenance must publish a NEW version")
    // the old published root is byte-immutable: same cells, same rows
    assert(s.read.parquet(s"$v1/cents").count() == 4L &&
      s.read.parquet(s"$v1/codes").count() == 98L, "old root mutated")
    // the new root is consistent: mass conserved, dead cell gone, every
    // row routed to an existing centroid
    val occ = s.read.parquet(s"$cur/codes").groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val centIds = s.read.parquet(s"$cur/cents").select("cent_id").collect()
      .map(_.getLong(0)).toSet
    assert(occ.values.sum == 98L && !centIds.contains(3L) &&
      occ.keySet.subsetOf(centIds), s"$occ vs $centIds")
    // crash remnant: an unmarked staging dir is invisible to readers and
    // cleaned by the next maintenance call (which then no-ops quietly)
    val hfs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val ghost = RootPointer.nextVersion(s, base)
    hfs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/$ghost/codes"))
    assert(RootPointer.resolve(s, base) == cur)
    // loose tiers so nothing can fire: the pass must clean the ghost,
    // stage, act on nothing, and publish nothing
    val (c2, sp2, m2) = Similarity.maybeMaintainIvfVersioned(s, base, emb,
      maxTombstones = 5, maxSharePpm = 990000, minSharePpm = 1)
    assert(!c2 && !sp2 && !m2, s"loose tiers must no-op: ($c2, $sp2, $m2)")
    assert(RootPointer.resolve(s, base) == cur &&
      RootPointer.cleanStaging(s, base).isEmpty,
      "no-op pass must clean the ghost and leave no staging")
  }

  test("maintenance window: a tombstone written into the published root mid-window refuses the publish, keeps it serving, leaves no staging") {
    val s = spark
    import s.implicits._
    import graft.ops.{Retrieval, RootPointer, TextOps}
    val docs = TextOps.tokenizedDocs(s, sf)
    val qt = TextOps.queryTerms(s, sf)
    def rank(t: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)) =
      TextOps.bm25RankedFrom(t._1, t._2, t._3, qt).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val base = java.nio.file.Files.createTempDirectory("window_refuse").toString + "/lex"
    val v1 = s"$base/v00001"
    Retrieval.lexIndexSegment(docs.filter(col("doc_id") % 2 === 0), v1, "seg0")
    Retrieval.lexIndexSegment(docs.filter(col("doc_id") % 2 === 1), v1, "seg1")
    RootPointer.publish(s, base, "v00001")
    val victim = rank(Retrieval.lexIndexServe(s, v1)).map(_._3).min
    // a delete writer that lands after the compactor read the root and
    // before the publish: the staged version never saw it
    val ex = intercept[IllegalStateException] {
      RootPointer.maintain(s, base) { (cur, out) =>
        Retrieval.lexIndexCompact(s, cur, out)
        graft.streaming.DocStream.tombstoneBatch(s, cur, Seq(victim).toDF("doc_id"), "late")
        true
      }
    }
    assert(ex.getMessage.contains("changed during the maintenance window"), ex.getMessage)
    assert(RootPointer.resolve(s, base) == v1 && RootPointer.cleanStaging(s, base).isEmpty,
      "a refused publish must leave the root serving and no staging")
    // the root serves with the late delete applied — never resurrected
    val rebuilt = rank(TextOps.lexIndexOf(docs.filter(col("doc_id") =!= victim)))
    assert(rank(Retrieval.lexIndexServe(s, v1)) == rebuilt)
    // the next window compacts with the delete included
    assert(Retrieval.maybeCompactLexVersioned(s, base, 1))
    assert(rank(Retrieval.lexIndexServe(s, RootPointer.resolve(s, base))) == rebuilt)
  }

  test("maintenance window: a residual root keeps its marker through a compaction-only window; the next split re-encodes and audits clean") {
    val s = spark
    import graft.ops.RootPointer
    val (cents, books, codes) = residualTrio
    val emb = Similarity.embWithNorm(s, sf).select("vec_id", "e")
    val base = java.nio.file.Files.createTempDirectory("window_marker").toString + "/ivf"
    val v1 = s"$base/v00001"
    val dels = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
    Similarity.writeIvfArtifacts(v1, cents, books, codes,
      "t0" -> dels.filter(col("vec_id") % 2 === 0), "t1" -> dels.filter(col("vec_id") % 2 =!= 0))
    Artifacts.markResidual(s, v1)
    RootPointer.publish(s, base, "v00001")
    assert(Similarity.maybeMaintainIvfVersioned(s, base, emb,
      maxTombstones = 1, maxSharePpm = 1000000L) == ((true, false, false)))
    val compacted = RootPointer.resolve(s, base)
    assert(compacted != v1 && Artifacts.VecTombstones.count(s, compacted) == 0)
    assert(Similarity.IvfCodec.of(s, compacted) == Similarity.IvfCodec.ResidualPq,
      "the compacted version must carry the _VARIANT_RESIDUAL marker")
    // the split reads the marker from the compacted root: the re-encoding
    // route, audited clean (the plain route would corrupt the codes)
    assert(Similarity.maybeMaintainIvfVersioned(s, base, emb,
      maxTombstones = 1, maxSharePpm = 1L)._2)
    val cur = RootPointer.resolve(s, base)
    assert(cur != compacted && Similarity.IvfCodec.of(s, cur) == Similarity.IvfCodec.ResidualPq)
    assert(Similarity.residualAuditMismatches(s, cur, emb) == 0L,
      "a split after a compaction-only window must re-encode")
  }

  test("maintenance window: a crash after the first of two chained steps publishes nothing; the next window publishes the full composition") {
    val s = spark
    graft.functions.VectorFunctions.register(s)
    import s.implicits._
    import graft.ops.RootPointer
    val base = java.nio.file.Files.createTempDirectory("window_chain").toString + "/ivf"
    val v1 = s"$base/v00001"
    // cell 0: 80 rows; cells 1/2: 9 rows each; cell 3 empty. Ten cell-0
    // rows are tombstoned in two files, so compaction acts; at a 150000
    // ppm floor the merge then folds cells 3 and 1.
    Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)), (2L, Seq(20.0, 20.0)),
      (3L, Seq(30.0, 30.0))).toDF("cent_id", "ce").write.parquet(s"$v1/cents")
    Seq((0, 0L, Seq(0.0))).toDF("m", "cent_id", "ce").write.parquet(s"$v1/books")
    s.range(98).selectExpr("id AS vec_id",
      "CAST(CASE WHEN id < 80 THEN 0 WHEN id % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS cell",
      "array(1, 2) AS codes").write.parquet(s"$v1/codes")
    s.range(5).select(col("id").as("vec_id")).write.parquet(s"$v1/tombstones/t0")
    s.range(5, 10).select(col("id").as("vec_id")).write.parquet(s"$v1/tombstones/t1")
    RootPointer.publish(s, base, "v00001")
    val emb = s.range(98).selectExpr("id AS vec_id",
      "array(CAST(id % 13 AS DOUBLE), CAST(id % 7 AS DOUBLE)) AS e")
    def maintain(e: org.apache.spark.sql.DataFrame) = Similarity.maybeMaintainIvfVersioned(
      s, base, e, maxTombstones = 1, maxSharePpm = 1000000L, minSharePpm = 150000L)
    // the merge step dies after the compaction step staged its version
    // (the raw vectors of the cold cells' members are missing)
    intercept[IllegalArgumentException](maintain(emb.filter(col("vec_id") < 80)))
    assert(RootPointer.resolve(s, base) == v1 && RootPointer.cleanStaging(s, base).isEmpty,
      "a failed window must publish nothing and leave no staging")
    assert(Artifacts.VecTombstones.count(s, v1) == 2)
    // a hard kill at the same point leaves the compaction's version behind,
    // unpublished: readers never see it
    Similarity.ivfCodesCompact(s, v1, s"$base/v00002")
    assert(RootPointer.resolve(s, base) == v1)
    // the next window discards the remnant and publishes both steps
    assert(maintain(emb) == ((true, false, true)))
    val cur = RootPointer.resolve(s, base)
    assert(RootPointer.completeVersions(s, base) == Seq("v00001", cur.split('/').last) &&
      RootPointer.cleanStaging(s, base).isEmpty)
    val occ = s.read.parquet(s"$cur/codes").groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val centIds = s.read.parquet(s"$cur/cents").select("cent_id").collect()
      .map(_.getLong(0)).toSet
    assert(occ.values.sum == 88L && Artifacts.VecTombstones.count(s, cur) == 0,
      s"the compaction must be in the published version: $occ")
    assert(centIds == Set(0L, 2L) && occ.keySet.subsetOf(centIds),
      s"the merge must be in the published version: $occ vs $centIds")
  }

  test("maybeCompactIvf: tombstone tier triggers the swap; plain serve after ≡ tombstoned serve before") {
    val s = spark
    import s.implicits._
    import graft.ops.RootPointer
    val base = java.nio.file.Files.createTempDirectory("ivf_policy").toString + "/ivf"
    val v1 = s"$base/v00001"
    // minimal artifact: compaction rewrites codes and drops tombstones; it
    // must never interpret cents/books (frozen-quantizer contract)
    Seq((0L, Seq(0.0))).toDF("cent_id", "ce").write.parquet(s"$v1/cents")
    Seq((0, 0L, Seq(0.0))).toDF("m", "cent_id", "ce").write.parquet(s"$v1/books")
    (0L to 19L).map(i => (i, 0L, Seq(1, 2))).toDF("vec_id", "cell", "codes")
      .write.parquet(s"$v1/codes")
    RootPointer.publish(s, base, "v00001")
    import graft.streaming.VecStream
    val emb = s.range(20).selectExpr("id AS vec_id", "array(0.0) AS e")
    // delete batches land in the published root; the window runs between
    // batches
    // returns (compacted, Spark jobs the maintenance window launched)
    def deleteThenMaintain(id: Long, name: String): (Boolean, Int) = {
      VecStream.tombstoneBatch(Seq(id).toDF("vec_id"), RootPointer.resolve(s, base), name)
      val (acted, counts) = Trace(s.sparkContext)(
        Similarity.maybeMaintainIvfVersioned(s, base, emb,
          maxTombstones = 2, maxSharePpm = 1000000L))
      (acted._1, counts.jobs)
    }
    // below every tier the window is file-system work only: the 100% split
    // tier cannot fire, so not even the occupancy scan runs
    assert(deleteThenMaintain(1L, "t0") == ((false, 0)) &&
      deleteThenMaintain(3L, "t1") == ((false, 0)))
    assert(RootPointer.resolve(s, base) == v1 && Artifacts.VecTombstones.count(s, v1) == 2,
      "below tier: no compaction yet")
    // third batch crossed the tier: tombstones physically applied in a new
    // published version that carries none
    assert(deleteThenMaintain(5L, "t2")._1)
    val cur = RootPointer.resolve(s, base)
    assert(cur != v1 && Artifacts.VecTombstones.count(s, cur) == 0,
      "compaction must publish a version without tombstones")
    val live = s.read.parquet(s"$cur/codes").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(live == (0L to 19L).toSet -- Set(1L, 3L, 5L),
      s"plain serve after the publish must equal the tombstoned serve before: $live")
    // cents/books carried unchanged (frozen quantizer); the old root keeps
    // its tombstones (published roots are never rewritten)
    assert(s.read.parquet(s"$cur/cents").count() == 1 &&
      s.read.parquet(s"$cur/books").count() == 1)
    // ... byte for byte: the compaction copies the frozen files
    def parts(root: String, d: String): Map[String, Seq[Byte]] = {
      import scala.jdk.CollectionConverters._
      val stream = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/$d"))
      try stream.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .map(f => f.getFileName.toString -> java.nio.file.Files.readAllBytes(f).toSeq).toMap
      finally stream.close()
    }
    Seq("cents", "books").foreach { d =>
      assert(parts(cur, d).nonEmpty && parts(cur, d) == parts(v1, d),
        s"the compacted version's $d must be byte-equal to v1's")
    }
    assert(Artifacts.VecTombstones.count(s, v1) == 3)
  }

  test("q150 BPE trainer: planted fold algebra, and a plain-Scala reference reproduces the merge table") {
    val s = spark
    import s.implicits._
    import graft.ops.TextOps
    // the fold through the SAME generated expression the trainer rewrites
    // with: greedy left-to-right non-overlap, merged tokens never re-match
    val folds = Seq(
      (Seq("a", "a", "a", "a"), "a", "a", Seq("aa", "aa")),
      (Seq("a", "a", "a"), "a", "a", Seq("aa", "a")),
      (Seq("a", "b", "a", "b"), "a", "b", Seq("ab", "ab")),
      (Seq("x"), "a", "b", Seq("x")),
      (Seq("a", "a", "b", "a"), "a", "a", Seq("aa", "b", "a")),
      (Seq("x", "a", "a"), "a", "a", Seq("x", "aa")))
    folds.foreach { case (toks, l, r, want) =>
      val got = Seq(Tuple1(toks)).toDF("toks")
        .select(expr(TextOps.bpeMergeExpr("toks", l, r)).as("m"))
        .head().getSeq[String](0)
      assert(got == want, s"$toks merge($l,$r) -> $got, want $want")
    }
    // full plain-Scala BPE over the sf0.001 corpus word distribution
    def foldMerge(toks: Vector[String], l: String, r: String): Vector[String] =
      toks.tail.foldLeft(Vector(toks.head)) { (acc, x) =>
        if (acc.last == l && x == r) acc.init :+ (l + r) else acc :+ x
      }
    val wordFreq = Tables.spread(s, Tables.documents(s, sf), "doc_id")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    var state = wordFreq.map { case (w, f) => (f, w.map(_.toString).toVector) }
    val expect = (1 to 6).flatMap { k =>
      val counts = state.flatMap { case (f, toks) =>
        toks.zip(toks.tail).map(p => p -> f)
      }.groupBy(_._1).map { case (p, fs) => (p._1, p._2, fs.map(_._2).sum) }
      if (counts.isEmpty) Seq.empty
      else {
        val (l, r, c) = counts.minBy { case (l, r, c) => (-c, l, r) }
        state = state.map { case (f, toks) => (f, foldMerge(toks, l, r)) }
        Seq((k.toLong, l, r, l + r, c))
      }
    }
    val got = TextOps.q150BpeTrain(s, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(got.toSeq == expect,
      s"merge tables diverge:\n got    ${got.toSeq}\n expect $expect")
    assert(got.length == 6, "gate corpus must sustain all six merge rounds")
  }

  test("q155 dataset card: per-source rows recompute from the raw docs; rates bounded by doc counts") {
    val s = spark
    import graft.ops.Corpus
    val card = Corpus.q155DatasetCard(s, sf).collect()
    assert(card.nonEmpty)
    val docs = Tables.documents(s, sf)
      .select("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val bySrc = docs.groupBy(_._1)
    assert(card.map(_.getString(0)).toSet == bySrc.keySet)
    card.foreach { r =>
      val src = r.getString(0)
      val rows = bySrc(src)
      assert(r.getAs[Long]("n_docs") == rows.length)
      assert(r.getAs[Long]("n_chars") == rows.map(_._3.length.toLong).sum)
      assert(r.getAs[Long]("n_words") ==
        rows.map(_._3.split(" ", -1).length.toLong).sum)
      assert(r.getAs[Long]("n_distinct_texts") == rows.map(_._3).distinct.length)
      assert(r.getAs[Long]("min_doc_id") == rows.map(_._2).min &&
        r.getAs[Long]("max_doc_id") == rows.map(_._2).max)
      // rates are doc-bounded
      assert(r.getAs[Long]("n_quality_keep") <= rows.length &&
        r.getAs[Long]("n_lang_en") <= rows.length)
    }
  }

  test("q156 OOV audit: table-kernel counts equal q137's literal kernel on the committed vocab; fallback bounds hold") {
    val s = spark
    import s.implicits._
    import graft.ops.TextOps
    // kernel equivalence: the vocab-as-data fold and the literal-array
    // fold are two formulations of ONE greedy algebra — on the committed
    // vocab they must count every doc identically
    val tableCounts = TextOps.subwordVocabCounts(
        Tables.spread(s, Tables.documents(s, sf), "doc_id").select("doc_id", "text"),
        TextOps.SubwordVocab.toDF("v"),
        TextOps.SubwordVocab.map(_.length).distinct.sorted)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_subwords"), r.getAs[Long]("n_fallback")))).toMap
    val literal = TextOps.q137SubwordTokens(s, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_subwords")).toMap
    assert(tableCounts.keySet == literal.keySet)
    tableCounts.foreach { case (id, (sub, fb)) =>
      assert(sub == literal(id), s"doc $id: table kernel $sub vs literal ${literal(id)}")
      assert(fb >= 0 && fb <= sub, s"doc $id fallback bounds")
    }
    // the audit rows themselves: ppm arithmetic exact, sources complete
    val audit = graft.ops.TextOps.q156OovAudit(s, sf).collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      assert(r.getAs[Long]("oov_ppm") ==
        r.getAs[Long]("n_fallback") * 1000000L / r.getAs[Long]("n_subwords"))
      assert(r.getAs[Long]("n_fallback") <= r.getAs[Long]("n_subwords"))
    }
  }

  test("q153 mining served: the label-artifact round trip reproduces q149 row-for-row") {
    graft.functions.VectorFunctions.register(spark)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[String]("role"), r.getAs[Long]("rn"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSeq
    val self = rows(Similarity.q149HardNegatives(spark, sf))
    val served = rows(Similarity.q153MiningServed(spark, sf))
    assert(self.nonEmpty && served == self,
      s"served mining diverged from self-contained: ${served.size} vs ${self.size} rows")
  }

  test("q152 learned subwords: plain-Scala longest-match under the trained vocab reproduces every count") {
    val s = spark
    import graft.ops.TextOps
    // the learned vocabulary, from the gated trainer itself
    val vocab = TextOps.q150BpeTrain(s, sf).collect().map(_.getString(3)).toSet
    assert(vocab.nonEmpty && vocab.forall(_.length >= 2))
    def count(wd: String): Long = {
      var pos = 0; var n = 0L
      while (pos < wd.length) {
        val step = vocab.filter(v => wd.regionMatches(pos, v, 0, v.length))
          .map(_.length).maxOption.getOrElse(1)
        pos += step; n += 1
      }
      n
    }
    val docs = Tables.spread(s, Tables.documents(s, sf), "doc_id")
      .selectExpr("doc_id", "split(text, ' ') AS w").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[scala.collection.Seq[String]]("w"))
    val out = TextOps.q152LearnedSubwords(s, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_subwords")))).toMap
    assert(out.keySet == docs.map(_._1).toSet)
    var compressed = false
    docs.foreach { case (id, ws) =>
      val (gw, gs) = out(id)
      assert(gw == ws.length, s"doc $id word count")
      val exp = ws.map(count).sum
      assert(gs == exp, s"doc $id learned-subword count: got $gs want $exp")
      val chars = ws.map(_.length.toLong).sum
      assert(gs >= gw && gs <= chars, s"doc $id bounds")
      if (gs < chars) compressed = true
    }
    assert(compressed,
      "a trained vocab must compress at least one doc below its char count")
  }

  test("q154 curation funnel: every stage drops its planted doc; chaining exact on planted and real corpora") {
    val s = spark
    import s.implicits._
    import graft.ops.Corpus
    // planted corpus: one doc per drop reason, one clean survivor, one
    // eval doc (id 0 ≡ 0 mod 11) carrying the contaminating 8-gram
    val gram8 = "g1x g2x g3x g4x g5x g6x g7x g8x".replace("1x", "one")
      .replace("2x", "two").replace("3x", "three").replace("4x", "four")
      .replace("5x", "five").replace("6x", "six").replace("7x", "seven")
      .replace("8x", "eight")
    val baseWords = (1 to 24).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, s"eval doc $gram8 padding words here"), // eval slice (0 % 11 == 0)
      (1L, Seq.fill(6)("der die das und").mkString(" ")), // german -> lang_en
      (2L, s"the $baseWords"), // the clean survivor (25 words, has 'the')
      (3L, s"the $baseWords"), // exact copy of 2 -> exact_dup
      (4L, s"the ${(1 to 23).map(i => s"w$i").mkString(" ")} zz"), // near-dup of 2 -> near_dup
      (5L, s"the $gram8 ${(1 to 12).map(i => s"y$i").mkString(" ")}") // shares the 8-gram -> decontam
        ,
      (6L, "the tiny doc with only ten words in it total"), // < 20 words -> quality
      // stage-5 pair: 7 is a 21-word contiguous excerpt of the 61-word 8 —
      // passes quality, Jaccard 19/59 ≈ 0.32 (near-dup misses it),
      // containment 1.0 in a strictly larger survivor -> excerpt drop
      (7L, s"the ${(1 to 20).map(i => s"v$i").mkString(" ")}"),
      (8L, s"the ${(1 to 60).map(i => s"v$i").mkString(" ")}"))
    val dir = java.nio.file.Files.createTempDirectory("funnel_syn").toString
    docs.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = Corpus.q154CurationFunnel(s, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(planted.toSeq == Seq(
      (1L, "lang_en", 8L, 1L, 7L),
      (2L, "quality", 7L, 1L, 6L),
      (3L, "exact_dup", 6L, 1L, 5L),
      (4L, "near_dup", 5L, 1L, 4L),
      (5L, "excerpt", 4L, 1L, 3L),
      (6L, "decontam", 3L, 1L, 2L)), planted.mkString("\n"))
    // real corpus: exact chaining + a populated tail
    val real = Corpus.q154CurationFunnel(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    real.foreach { case (st, nIn, nDrop, nOut) =>
      assert(nIn - nDrop == nOut, s"stage $st arithmetic")
    }
    real.sliding(2).foreach { case Array((_, _, _, out), (st2, in2, _, _)) =>
      assert(out == in2, s"stage $st2 must chain from the previous survivors")
    case _ => }
    assert(real.last._4 > 0, "the funnel must keep a non-empty corpus")
  }

  test("q149 hard negatives: every sim recomputes exactly, roles partition per anchor, negatives full-rank") {
    graft.functions.VectorFunctions.register(spark)
    val out = Similarity.q149HardNegatives(spark, sf).collect()
    assert(out.nonEmpty, "mining gate must not be vacuous at sf0.001")
    val emb = Tables.spread(spark, Tables.embeddings(spark, sf), "vec_id")
      .selectExpr("vec_id", "cast(embedding as array<double>) as e").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[scala.collection.Seq[Double]]("e")).toMap
    def cos(a: scala.collection.Seq[Double], b: scala.collection.Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    out.foreach { r =>
      val (q, n) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(q != n, "self-pair leaked into the mining output")
      assert(math.abs(r.getAs[Double]("cos_sim") - cos(emb(q), emb(n))) <= 1e-9,
        s"cos recompute mismatch for ($q, $n)")
    }
    val byAnchor = out.groupBy(_.getAs[Long]("query_id"))
    assert(byAnchor.keySet == (0L until 8L).toSet, "one mining row set per anchor")
    byAnchor.foreach { case (q, rows) =>
      val negs = rows.filter(_.getAs[String]("role") == "neg")
      val poss = rows.filter(_.getAs[String]("role") == "pos")
      // the corpus dwarfs the cell count, so the negative pool is never
      // short; the positive can be absent only for a singleton cell
      assert(negs.map(_.getAs[Long]("rn")).sorted.toSeq == (1L to 5L), s"anchor $q negs")
      assert(poss.length <= 1 && poss.forall(_.getAs[Long]("rn") == 1L), s"anchor $q pos")
      // negatives are cosine-DESC by construction: hardest first
      val sims = negs.sortBy(_.getAs[Long]("rn")).map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, s"anchor $q order")
      val dupes = rows.map(_.getAs[Long]("neighbor_id"))
      assert(dupes.distinct.length == dupes.length, s"anchor $q duplicate neighbor")
    }
    assert(out.exists(_.getAs[String]("role") == "pos"),
      "at least one anchor must find a positive at sf0.001")
  }

  test("q151 semantic decon: plain-Scala recompute of the full flag set (witness, max_sim, n_over)") {
    graft.functions.VectorFunctions.register(spark)
    val out = Similarity.q151SemanticDecon(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("witness_eval_id"), r.getAs[Double]("max_sim"),
          r.getAs[Long]("n_over")))).toMap
    assert(out.nonEmpty, "decon gate must not be vacuous at sf0.001")
    val emb = Tables.spread(spark, Tables.embeddings(spark, sf), "vec_id")
      .selectExpr("vec_id", "cast(embedding as array<double>) as e").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[scala.collection.Seq[Double]]("e"))
      .filter { case (_, e) => math.sqrt(e.map(x => x * x).sum) > 0 }
    def cos(a: scala.collection.Seq[Double], b: scala.collection.Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      BigDecimal(dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val ev = emb.filter { case (id, _) => id % 100 == 7 }
    val tr = emb.filter { case (id, _) => id % 100 != 7 }
    val expect = tr.flatMap { case (tid, te) =>
      val hits = ev.map { case (eid, ee) => (eid, cos(te, ee)) }
        .filter(_._2 >= 0.35)
      if (hits.isEmpty) None
      else Some(tid -> ((hits.map(_._1).min, hits.map(_._2).max, hits.length.toLong)))
    }.toMap
    assert(out.keySet == expect.keySet,
      s"flag sets diverge: got ${out.keySet} want ${expect.keySet}")
    expect.foreach { case (tid, (wit, ms, n)) =>
      val (gw, gm, gn) = out(tid)
      assert(gw == wit && gn == n, s"witness/count mismatch for $tid")
      assert(math.abs(gm - ms) <= 1e-9, s"max_sim mismatch for $tid")
    }
    // the find→apply pairing: no flagged id may survive a q68-style
    // anti-join, and every unflagged train doc must
    assert(expect.keySet.intersect(ev.map(_._1).toSet).isEmpty,
      "eval docs can never be flagged as train contamination")
  }
}
