package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}
import graft.Tables

/** Similarity search over the embedding column (`Array[Float]`, dim 64).
  *
  * q28: brute-force cosine top-k — the correctness baseline. Dot products via
  * `zip_with` + `aggregate` (left-to-right double fold, matching DuckDB's
  * list_cosine_similarity accumulation), rounded to 6 digits for hash-stable
  * ordering.
  *
  * q29: SRP-LSH (sign-random-projection) bucketed top-k — the scale path.
  * Hyperplanes are derived from md5 so any engine reproduces them exactly.
  * At 100 TB the bucket join replaces the n² cross join: candidates are only
  * vectors sharing the query's bucket.
  */
object Similarity {

  /** NONZERO-NORM CONTRACT: every cosine-ranking consumer of `nrm` assumes
    * nrm > 0 (a zero-norm vector makes cos_sim NaN, and NaN placement then
    * depends on the ranking formulation — e.g. `array_sort` over a NEGATED
    * sim ranks NaN last where `row_number ... DESC` ranks it first).
    * The synthetic embeddings are unit-scale (never zero), and `ivfTopK`
    * — the one path that mixes both formulations — enforces the contract
    * with an explicit `nrm > 0` filter so the divergence is unobservable.
    * Euclidean consumers (PQ/ADC) are NaN-free by construction and accept
    * zero vectors, so the filter is NOT applied globally here. */
  private[graft] def embWithNorm(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    Tables.spread(s, Tables.embeddings(s, d), "vec_id")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
  }

  /** Brute-force cosine ranked list for the first `nq` vectors as queries:
    * (query_id, neighbor_id, cos_sim, rn) with rn ≤ k. The exact-retrieval
    * arm shared by q28 and the hybrid/diversified retrieval entries in
    * [[Retrieval]] (q111/q114). round(·,6) before ranking keeps the order
    * key portable (q28's discipline). */
  private[graft] def cosRanked(s: SparkSession, d: String, nq: Int, k: Int): DataFrame = {
    val emb = embWithNorm(s, d)
    val q = emb.select(col("vec_id").as("query_id"), col("e").as("eq"), col("nrm").as("nq"))
      .filter(col("query_id") < nq)
    val n = emb.select(col("vec_id").as("neighbor_id"), col("e").as("en"), col("nrm").as("nn"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    q.join(n, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(
        expr("graft_dot(eq, en)") / (col("nq") * col("nn")), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "cos_sim", "rn")
  }

  /** SQL mirror of [[cosRanked]] as a single CTE body (no WITH keyword):
    * callers splice it under any name. */
  private[graft] def cosRankedSqlBody(nq: Int, k: Int): String =
    s"""SELECT query_id, neighbor_id, cos_sim, rn FROM (
       |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |           round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                                        CAST(n.embedding AS DOUBLE[])), 6) AS cos_sim,
       |           CAST(ROW_NUMBER() OVER (
       |             PARTITION BY q.vec_id
       |             ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                                                   CAST(n.embedding AS DOUBLE[])), 6) DESC,
       |                      n.vec_id) AS BIGINT) AS rn
       |    FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
       |    WHERE q.vec_id < $nq)
       |  WHERE rn <= $k""".stripMargin

  // brute-force cosine top-k (k=5) for the first 10 vectors as queries.
  def q28AnnTopk(s: SparkSession, d: String): DataFrame =
    cosRanked(s, d, 10, 5).orderBy("query_id", "rn")

  val q28Sql: String =
    """SELECT query_id, neighbor_id, cos_sim, rn FROM (
      |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                      CAST(n.embedding AS DOUBLE[])), 6) AS cos_sim,
      |         CAST(ROW_NUMBER() OVER (
      |           PARTITION BY q.vec_id
      |           ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                                 CAST(n.embedding AS DOUBLE[])), 6) DESC,
      |                    n.vec_id) AS BIGINT) AS rn
      |  FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
      |  WHERE q.vec_id < 10)
      |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin

  // --- SRP-LSH ---
  private val NumPlanes = 6
  private val Dim = 64

  /** Deterministic ±1 hyperplanes: r(p, i) = +1 iff the first hex digit of
    * md5("p_i") is even. Reproducible in SQL: md5 is md5 everywhere. */
  private[graft] def srpPlanes(numPlanes: Int, dim: Int = Dim): Array[Array[Double]] = {
    val mdig = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(numPlanes, dim) { (p, i) =>
      val hex = mdig.digest(s"${p}_${i}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (Character.digit(hex.charAt(0), 16) % 2 == 0) 1.0 else -1.0
    }
  }

  private[ops] def planes: Array[Array[Double]] = srpPlanes(NumPlanes)

  /** df with an `e: array<double>` column → + `bucket` (SRP sign bits). */
  private def withBucket(df: DataFrame): DataFrame = {
    val ps = planes
    val bucket = (0 until NumPlanes).map { p =>
      val proj = expr(
        s"graft_dot(e, CAST(array(${ps(p).mkString(",")}) AS ARRAY<DOUBLE>))")
      when(proj > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)
    df.withColumn("bucket", bucket.cast("int"))
  }

  // LSH-bucketed cosine top-k (k=3): search only the query's bucket.
  def q29AnnLsh(s: SparkSession, d: String): DataFrame = {
    val emb = withBucket(embWithNorm(s, d))
    val q = emb.select(col("vec_id").as("query_id"), col("e").as("eq"),
      col("nrm").as("nq"), col("bucket").as("qb")).filter(col("query_id") < 10)
    val n = emb.select(col("vec_id").as("neighbor_id"), col("e").as("en"),
      col("nrm").as("nn"), col("bucket").as("nb"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    q.join(n, col("qb") === col("nb") && col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(
        expr("graft_dot(eq, en)") / (col("nq") * col("nn")), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("query_id", "neighbor_id", "cos_sim", "rn")
      .orderBy("query_id", "rn")
  }

  val q29Sql: String =
    """WITH planes AS (
      |  SELECT p, list_transform(range(0, 64), i ->
      |           CASE WHEN CAST('0x' || substring(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1)
      |                          AS INTEGER) % 2 = 0
      |                THEN 1.0 ELSE -1.0 END) AS r
      |  FROM (SELECT unnest(range(0, 6)) AS p)),
      |proj AS (
      |  SELECT e.vec_id, p.p,
      |         list_inner_product(CAST(e.embedding AS DOUBLE[]), p.r) AS pr
      |  FROM embeddings e CROSS JOIN planes p),
      |buckets AS (
      |  SELECT vec_id,
      |         CAST(SUM(CASE WHEN pr > 0 THEN (1 << CAST(p AS INTEGER)) ELSE 0 END) AS INTEGER) AS bucket
      |  FROM proj GROUP BY vec_id)
      |SELECT query_id, neighbor_id, cos_sim, rn FROM (
      |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                      CAST(n.embedding AS DOUBLE[])), 6) AS cos_sim,
      |         CAST(ROW_NUMBER() OVER (
      |           PARTITION BY q.vec_id
      |           ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                                 CAST(n.embedding AS DOUBLE[])), 6) DESC,
      |                    n.vec_id) AS BIGINT) AS rn
      |  FROM embeddings q
      |  JOIN buckets qb ON q.vec_id = qb.vec_id
      |  JOIN buckets nb ON qb.bucket = nb.bucket
      |  JOIN embeddings n ON n.vec_id = nb.vec_id AND q.vec_id <> n.vec_id
      |  WHERE q.vec_id < 10)
      |WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin

  /** IVF (inverted-file) ANN — the coarse-quantizer scale path. Centroids
    * are the first `nlist` vectors by id (deterministic, no iterative
    * k-means whose float accumulation order could differ between runs);
    * every vector is assigned to its nearest centroid, queries probe the
    * `nprobe` nearest cells. At 100 TB: the assignment is one broadcast of
    * nlist×dim floats + a map-side argmin; the search joins query cells to
    * an inverted index partitioned by cell id — shuffle scales with list
    * sizes, never n². Not oracle-gated (recall < 1 by design); invariants +
    * recall floor in `OperatorSpec`. */
  def ivfTopK(s: SparkSession, d: String, nlist: Int = 16, nprobe: Int = 4,
      k: Int = 5, nQueries: Int = 10, trainIters: Int = 0): DataFrame = {
    // nrm > 0 enforces the nonzero-norm contract (see embWithNorm): the
    // negated-sim array_sort below would rank a NaN differently than a
    // row_number-over-DESC formulation, so zero vectors must never enter
    val emb = embWithNorm(s, d).filter(col("nrm") > 0).cache()
    val cents = (if (trainIters > 0)
        trainCentroids(emb.select("vec_id", "e"), nlist, trainIters)
      else seedCents(emb, nlist))
      .withColumn("cn", sqrt(expr("graft_dot(ce, ce)")))
      .select(col("cent_id"), col("ce"), col("cn"))
    // nearest-topN centroids per vector: the centroid set collapses to ONE
    // broadcast row and the cosine ranking is an array sort-and-slice —
    // map-side for any topN; no per-vector window, so no Exchange ever
    // carries an embedding (same shape as `assignCells`)
    def assign(df: DataFrame, topN: Int, outCol: String): DataFrame = {
      val cs = cents.agg(collect_list(struct(col("cent_id"), col("ce"), col("cn"))).as("cs"))
      val inCols = df.columns
      df.crossJoin(broadcast(cs))
        .withColumn("_c", explode(expr(
          "slice(array_sort(transform(cs, c -> struct(" +
            "-(graft_dot(e, c.ce) / (nrm * c.cn)) AS negsim, c.cent_id AS cent_id)))" +
            s", 1, $topN)")))
        .select(inCols.map(col) :+ col("_c.cent_id").as(outCol): _*)
    }
    val index = assign(emb, 1, "cell")
    val queries = assign(emb.filter(col("vec_id") < nQueries), nprobe, "cell")
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nq"), col("cell"))
    val wk = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    queries.join(index.select(col("vec_id").as("neighbor_id"), col("e").as("en"),
        col("nrm").as("nn"), col("cell")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(expr("graft_dot(eq, en)") / (col("nq") * col("nn")), 6))
      .withColumn("rn", row_number().over(wk).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "cos_sim", "rn")
      .orderBy("query_id", "rn")
  }

  /** Lloyd's k-means training for the IVF coarse quantizer — the step that
    * turns `ivfTopK`'s "first nlist vectors" seed into data-shaped cells.
    * Squared-euclidean assignment via the expansion ‖x−c‖² = x·x − 2x·c + c·c
    * (one codegen'd `graft_dot` per pair against BROADCAST centroids —
    * map-side argmin, no shuffle), deterministic tie-break toward the lower
    * centroid id via a lexicographic `min(struct(dist, cent_id))`; the
    * update step recomputes each cell's element-wise mean by posexploding to
    * (cell, dim_index) — a partial+final avg whose shuffle is nlist×dim
    * rows, trivial at any corpus size. Empty cells keep their previous
    * centroid (joined back) rather than being dropped, so nlist is stable.
    *
    * Iteration happens driver-side over a FIXED small count (Lloyd rounds,
    * typically 3–10) — each round is one distributed pass; this is the
    * standard shape (same as q53's label propagation), not a driver-side
    * data loop. Mean accumulation order makes trained centroids
    * ulp-nondeterministic across cluster layouts, which is why `ivfTopK`'s
    * default seed stays non-iterative and this trainer is sbt-gated
    * (inertia monotonicity + recall) rather than oracle-gated. */
  private[graft] def assignCells(emb: DataFrame, cents: DataFrame): DataFrame = {
    // the whole centroid set as ONE row (nlist × dim doubles — KBs), so the
    // assignment is a broadcast of that row + a pure array expression: the
    // argmin runs inside the vector's own task and NO Exchange ever carries
    // an embedding. (The previous formulation grouped by (vec_id, e) after a
    // per-centroid cross join — a full corpus-embedding shuffle per Lloyd
    // round; PlanSpec "q69 cell assignment" now pins the map-side shape.)
    // Tie-break: array_min over struct(_d, cent_id) is the same
    // lexicographic (distance, id) minimum the old groupBy-min computed.
    emb.crossJoin(broadcast(ccRow(cents)))
      .withColumn("m", expr("element_at(graft_near_cells(e, cc, 1), 1)"))
      .select(col("vec_id"), col("e"), col("m._d").as("dist"), col("m.cent_id").as("cell"))
  }

  private[graft] def trainCentroids(emb: DataFrame, nlist: Int, iters: Int): DataFrame = {
    var cents = seedCents(emb, nlist)
    (1 to iters).foreach { _ =>
      val prev = cents
      val means = assignCells(emb, prev)
        .select(col("cell"), posexplode(col("e")).as(Seq("i", "v")))
        .groupBy("cell", "i").agg(avg("v").as("m"))
        .groupBy("cell")
        .agg(expr("transform(array_sort(collect_list(struct(i, m))), s -> s.m)").as("ce_new"))
      cents = prev.join(means, prev("cent_id") === means("cell"), "left")
        .select(prev("cent_id"), coalesce(col("ce_new"), prev("ce")).as("ce"))
      // materialize per round so no round is recomputed; the plan still
      // nests every earlier round (the cache does not truncate lineage)
      cents.cache().count()
      prev.unpersist(false)
    }
    cents
  }

  /** Σ min-distance over the corpus — Lloyd's objective. */
  private[graft] def inertia(emb: DataFrame, cents: DataFrame): Double =
    assignCells(emb, cents).agg(sum("dist")).head().getDouble(0)

  /** q69: TRAINED IVF top-k, oracle-gated end-to-end — the promotion of
    * `ivfTopK`+`trainCentroids` from sbt-only to the correctness gate. The
    * float Lloyd trainer can't be gated (mean accumulation order is
    * layout-dependent), so the training round here is the q64 fixed-point
    * trick applied to the UPDATE step: per (cell, dim) the members sum as
    * `floor(v·10⁶)` integers (order-independent, partial+final agg) and the
    * centroid component is `(Σ/n)/10⁶` — two correctly-rounded IEEE ops on
    * identical inputs, so the trained centroids are bit-identical on any
    * partition layout AND cross-engine. Everything downstream (argmin cell
    * assignment via the ‖x−c‖² expansion, nprobe-cell probing, bucket-local
    * cosine top-k) is the deterministic double arithmetic q28/q29 already
    * gate.
    *
    * Gated output = the ANN quality contract itself: per query,
    * `n_cand` (how many vectors the nprobe cells actually scanned — the
    * selectivity that replaces the n² cross join) and `recall` of the IVF
    * top-k against the exact brute-force top-k (an exact small-integer
    * ratio). The oracle recomputes BOTH sides — training round included —
    * in DuckDB, so a drift anywhere in the pipeline (seeding, update
    * arithmetic, assignment ties, probe order, ranking) breaks the hash.
    *
    * At 100 TB: train/assign are broadcast-centroid map-side passes — the
    * cell argmin is a pure array expression over ONE broadcast centroid row,
    * so no Exchange ever carries an embedding (PlanSpec "q69 cell
    * assignment"), and the update step's shuffle is nlist×dim fixed-point
    * rows, corpus-size-independent (the q64 shape). The index join is an
    * equi-join on cell, and the exact-top-k comparison side is a 10-query
    * probe subset, not the corpus. */
  /** nlist is an env-overridable SCALE LEVER (the default preserves the
    * oracle-gated catalog bit-for-bit): the corpus×corpus entries' candidate
    * volume is Σ_cell |cell|·|probes| ≈ n²·nprobe/nlist, so at large n the
    * operator raises nlist to hold per-cell blocks bounded — BASELINE.md
    * records the lever empirically (anchor runs set SPARK_GRAFT_NLIST).
    * Both the Spark plan and the DuckDB oracle SQL interpolate the same
    * value, so the correctness gate follows the lever automatically.
    * Since round 12 the corpus² family no longer RELIES on the manual
    * lever: with no env override it derives nlist ≈ ⌈√n⌉ from the corpus
    * count ([[corpusNList]]); the static [[IvfNList]] below only feeds the
    * per-query serving family, where nlist scales build cost linearly.
    * nprobe is the constant [[IvfNProbe]]; the oracle SQL interpolates it
    * too. */
  // the one read of SPARK_GRAFT_NLIST: the plans and the oracle SQL below
  // all take the override from here
  private[graft] val NListOverride: Option[Int] =
    sys.env.get("SPARK_GRAFT_NLIST").map(_.toInt)
  private[graft] val IvfNList: Int = NListOverride.getOrElse(8)
  private[graft] val IvfNProbe: Int = 2

  /** AUTO-SIZED nlist for the CORPUS×CORPUS family (q82/q83/q84/q94 — the
    * queries whose candidate volume is ≈ n²·nprobe/nlist): `max(8, ⌈√n⌉)`.
    * The per-query ANN serving family keeps the static [[IvfNList]] lever
    * (its query side is a fixed probe subset, so nlist only scales the
    * index-build cost linearly), but for corpus² work a FIXED nlist is a
    * measured quadratic cliff — BASELINE.md round-11: q83 at 100k vectors
    * took 437 s under nlist=8 vs 10.4 s at nlist=128 — and √n is the
    * standard IVF sizing rule (per-cell block ≈ √n, so candidate volume
    * ≈ n^1.5·nprobe, the honest kNN-graph cost with one data factor
    * absorbed by the index). */
  private[graft] def derivedNList(n: Long): Int =
    math.max(8, math.ceil(math.sqrt(math.max(n, 0L).toDouble)).toInt)

  /** The corpus² nlist: the `SPARK_GRAFT_NLIST` override if set (anchor
    * runs pin it), else [[derivedNList]] of a cheap embeddings row count
    * (parquet footer metadata — no column data is read). The DuckDB oracle
    * interpolates [[corpusNListSql]], which computes the SAME formula as a
    * scalar subquery, so the correctness gate follows the derivation
    * automatically at any corpus size. */
  private val nlistCache = new java.util.concurrent.ConcurrentHashMap[String, Int]()

  /** Freshness token for the nlist memo: a fold of the embeddings table's
    * file listing (name, length, mtime). One driver-side metadata listing —
    * orders of magnitude cheaper than the count job the memo avoids — and
    * it makes the cache safe against a corpus REGENERATED IN-PLACE within
    * one JVM (same dir, new files): the token changes, so the entry misses
    * and the nlist is re-derived instead of silently planning with a stale
    * √n. */
  private def embDirToken(s: SparkSession, d: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$d/embeddings.parquet")
    val fs = Artifacts.fs(s, p.toString)
    // statuses sorted by name (listing order is not contractually stable —
    // unsorted folding caused spurious cache misses) and the token is the
    // concatenated (name,len,mtime) strings, not a folded Int hashCode: a
    // 32-bit collision between two corpus states would silently serve a
    // stale nlist
    val sig =
      if (!fs.exists(p)) "absent"
      else fs.listStatus(p).sortBy(_.getPath.getName)
        .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .mkString("|")
    s"$d@$sig"
  }

  private[graft] def corpusNList(s: SparkSession, d: String): Int =
    NListOverride
      // memoized per (dataset dir, file-listing token): every corpus² entry
      // (q82/q83/q84/q94/q101/q103…) triggers this at PLAN time, so an
      // unmemoized count would launch the same footer-metadata job once per
      // query in a bench/verify pass. The token keys out in-place rewrites
      // (see [[embDirToken]]); distinct corpora already key by dir.
      .getOrElse(nlistCache.computeIfAbsent(embDirToken(s, d),
        _ => derivedNList(Tables.embeddings(s, d).count())))

  /** SQL mirror of [[corpusNList]]: the env literal when the override is
    * set, else the √n derivation as a scalar subquery over the same table. */
  private[graft] lazy val corpusNListSql: String =
    NListOverride.map(_.toString).getOrElse(
      "(SELECT GREATEST(8, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) FROM embeddings)")
  private val IvfK = 5
  private val IvfNQueries = 10

  /** One fixed-point Lloyd UPDATE (the q64 trick applied to the mean step):
    * per (cell, dim) the members sum as `floor(v·10⁶)` integers — an
    * order-independent partial+final agg, so the new centroids are
    * bit-identical on any partition layout AND cross-engine — and the
    * component is `(Σ/n)/10⁶`, two correctly-rounded IEEE ops on identical
    * inputs. Cells with no members keep their previous centroid (left
    * join + coalesce), so nlist is stable. Shared by q69 (one round) and
    * q71 (the multi-round trainer). */
  private[graft] def fixedPointUpdate(asg: DataFrame, cents: DataFrame): DataFrame = {
    val means = asg
      .select(col("cell"), posexplode(col("e")).as(Seq("i", "v")))
      .groupBy("cell", "i")
      .agg(sum(floor(col("v") * lit(CentFixedScale.toDouble)).cast("long")).as("fs"),
        count(lit(1)).as("fn"))
      .groupBy("cell")
      .agg(expr("transform(array_sort(collect_list(struct(i, fs, fn))), " +
        s"t -> (CAST(t.fs AS DOUBLE) / t.fn) / $CentFixedScale.0D)").as("ce_new"))
    // means is ≤ nlist rows by construction; the hint matters because the
    // lineage behind it can be arbitrarily deep (residual frames etc.) and
    // Catalyst's size estimate would otherwise fall back to a sort-merge
    cents.join(broadcast(means), cents("cent_id") === means("cell"), "left")
      .select(cents("cent_id"), coalesce(col("ce_new"), cents("ce")).as("ce"))
  }

  def q69IvfTrained(s: SparkSession, d: String): DataFrame = {
    val emb = embWithNorm(s, d).select("vec_id", "e", "nrm")
    // one fixed-point Lloyd round: assign to seeds, recompute exact means
    val cents = knnCents(emb, IvfNList)
    // final assignment → inverted index; queries probe the nprobe nearest cells
    val index = assignCells(emb.select("vec_id", "e"), cents)
      .select(col("vec_id").as("neighbor_id"), col("e").as("en"),
        sqrt(expr("graft_dot(e, e)")).as("nn"), col("cell"))
    val wp = Window.partitionBy("vec_id").orderBy(col("_d"), col("cent_id"))
    val probes = emb.filter(col("vec_id") < IvfNQueries)
      .crossJoin(broadcast(cents))
      .withColumn("_d",
        expr("graft_dot(e, e) - 2 * graft_dot(e, ce) + graft_dot(ce, ce)"))
      .withColumn("_rn", row_number().over(wp))
      .filter(col("_rn") <= IvfNProbe)
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nq"), col("cent_id").as("cell"))
    val wk = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    val cand = probes.join(index, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(expr("graft_dot(eq, en)") / (col("nq") * col("nn")), 6))
    val ivfK = topkWithCount(cand, col("cos_sim"), IvfK)
      .select("query_id", "neighbor_id", "n_cand")
    // exact brute-force top-k on the same probe subset
    val q = emb.filter(col("vec_id") < IvfNQueries)
      .select(col("vec_id").as("query_id"), col("e").as("eq"), col("nrm").as("nq"))
    val n = emb.select(col("vec_id").as("neighbor_id"), col("e").as("en"), col("nrm").as("nn"))
    val exactK = q.join(n, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(expr("graft_dot(eq, en)") / (col("nq") * col("nn")), 6))
      .withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= IvfK)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    ivfK.join(exactK, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(max("n_cand").as("n_cand"),
        (sum(coalesce(col("hit"), lit(0L))).cast("double") / IvfK).as("recall"))
      .orderBy("query_id")
  }

  /** q71: the MULTI-ROUND fixed-point Lloyd trainer, oracle-gated — closes
    * the last sbt-only headline gap (the float trainer can never be gated:
    * mean accumulation order is layout-dependent; the fixed-point update
    * makes every round bit-identical on any layout AND cross-engine, so the
    * whole training trajectory becomes hashable). Output: per (round, cell)
    * membership count and EXACT fixed-point inertia Σ floor(dist·10⁶) —
    * dist from the ‖x−c‖² expansion (identical IEEE op sequence in both
    * engines), the integer sum order-independent. Round r's stats are
    * measured against the centroids BEFORE round r's update (standard Lloyd
    * accounting), so the round-over-round inertia descent — the trainer's
    * convergence — is itself inside the hash gate; OperatorSpec asserts the
    * decrease explicitly.
    *
    * At 100 TB: each round is one map-side broadcast-centroid pass over the
    * corpus (the q69 assignment shape — no Exchange carries an embedding)
    * plus a nlist×dim fixed-point shuffle (q64 shape); rounds are a fixed
    * small constant. */
  private val LloydRounds = 3

  def q71LloydTrained(s: SparkSession, d: String): DataFrame = {
    val emb = embWithNorm(s, d).select("vec_id", "e")
    var cents = seedCents(emb, IvfNList)
    var stats: DataFrame = null
    for (r <- 1 to LloydRounds) {
      val asg = assignCells(emb, cents)
      val st = asg.groupBy("cell")
        .agg(count(lit(1)).as("n_members"),
          sum(floor(col("dist") * lit(CentFixedScale.toDouble)).cast("long"))
            .as("inertia_fixed"))
        .select(lit(r).cast("long").as("round"), col("cell"),
          col("n_members"), col("inertia_fixed"))
      stats = if (stats == null) st else stats.unionByName(st)
      if (r < LloydRounds) cents = fixedPointUpdate(asg, cents)
    }
    stats.orderBy("round", "cell")
  }

  /** q72: product quantization (PQ) — the standard ANN index compression
    * (IVF-PQ): dim 64 splits into M=8 subspaces × 8 dims, each subspace
    * gets its own 8-centroid codebook, and a vector encodes as 8 small
    * codes — 8 bytes against 256 bytes of float32, 32× compression, with
    * asymmetric-distance search downstream. Codebooks are seeded from the
    * first 8 vectors' sub-slices and trained with ONE fixed-point Lloyd
    * round per subspace (the q69/q71 update — order-independent integer
    * means, so the codebooks are bit-identical on any layout AND
    * cross-engine, which is what makes PQ oracle-gatable at all).
    *
    * Gated output per vector: the code word fingerprint (md5 of the codes
    * in subspace order) and the EXACT fixed-point reconstruction error
    * Σ_m floor(‖x_m − c_{m,code_m}‖²·10⁶) — an integer sum, so no
    * accumulation-order leak (a float Σ over subspaces would be unordered
    * in SQL). OperatorSpec asserts training helps: total trained error <
    * total seed-codebook error.
    *
    * Scale shape: training explodes to (vector, subspace) rows map-side —
    * shuffle is the fixed-point (m, cell, i) aggregation = M·k·subdim rows,
    * corpus-size-independent; ENCODING is pure map-side — all M codebooks
    * collapse to one broadcast row and the per-subspace argmins are nested
    * array expressions (PlanSpec: no Exchange, no Window on the encode
    * path). */
  private val PqM = 8        // subspaces
  private val PqSub = 8      // dims per subspace (M × sub = 64)
  private val PqK = 8        // centroids per codebook

  /** (m, cent_id, ce) codebook rows → one-row broadcast; encode every
    * vector map-side: per subspace the argmin struct (fixed-point dist,
    * code), then fingerprint + integer error sum. */
  private def pqEncode(emb: DataFrame, codebooks: DataFrame): DataFrame = {
    emb.crossJoin(broadcast(csRow(codebooks)))
      .withColumn("enc", expr(
        s"transform(sequence(0, ${PqM - 1}), m -> " +
          s"element_at(graft_pq_near(slice(e, m * $PqSub + 1, $PqSub), cs, m, 1), 1))"))
      // argmin ties break on the RAW (dist, cent_id) order — identical to
      // the oracle's ROW_NUMBER; the error is fixed-pointed only AFTER the
      // winner is chosen, so quantization can never flip a code
      .select(col("vec_id"),
        md5(concat_ws(",", expr("transform(enc, s -> CAST(s.cent_id AS STRING))")))
          .as("code_fp"),
        expr(s"aggregate(enc, 0L, (acc, s) -> acc + CAST(floor(s._d * $CentFixedScale.0D) AS BIGINT))")
          .as("err_fixed"))
  }

  /** Subspace rows (vec_id, m, se) and seed codebooks for any `(vec_id, e)`
    * frame — shared by the raw (q72/q74), residual (q75), and rotated (q77)
    * PQ pipelines. */
  private[graft] def subSplit(emb: DataFrame): (DataFrame, DataFrame) = {
    val subs = emb.select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${PqM - 1}), m -> slice(e, m * $PqSub + 1, $PqSub))"))
      .as(Seq("m", "se")))
    val seeds = subs.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").as("cent_id"), col("se").as("ce"))
    (subs, seeds)
  }

  /** Subspace rows (vec_id, m, se) and the seed codebooks; shared by the
    * catalog query and the OperatorSpec training-helps differential. */
  private[graft] def pqParts(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val emb = embWithNorm(s, d).select("vec_id", "e")
    val (subs, seeds) = subSplit(emb)
    (emb, subs, seeds)
  }

  /** One fixed-point Lloyd round over every subspace at once: assign each
    * (vector, subspace) row to its codebook argmin (same one-row broadcast
    * shape as `pqEncode`), then integer means per (m, cell, i). */
  private[graft] def pqTrain(subs: DataFrame, seeds: DataFrame): DataFrame = {
    val asg = subs.crossJoin(broadcast(csRow(seeds)))
      .withColumn("cell", expr("element_at(graft_pq_near(se, cs, m, 1), 1).cent_id"))
    val means = asg
      .select(col("m"), col("cell"), posexplode(col("se")).as(Seq("i", "v")))
      .groupBy("m", "cell", "i")
      .agg(sum(floor(col("v") * lit(CentFixedScale.toDouble)).cast("long")).as("fs"),
        count(lit(1)).as("fn"))
      .groupBy("m", "cell")
      .agg(expr("transform(array_sort(collect_list(struct(i, fs, fn))), " +
        s"t -> (CAST(t.fs AS DOUBLE) / t.fn) / $CentFixedScale.0D)").as("ce_new"))
    // means descends from seeds' own lineage, so joining on means("m")
    // would hit the self-join attribute ambiguity — rename first. The
    // broadcast hint pins the ≤ M·k-row side (Catalyst's estimate can blow
    // up under a deep upstream lineage, e.g. q75's residual frame)
    val meansR = means.withColumnRenamed("m", "mm")
    seeds.join(broadcast(meansR),
        seeds("m") === meansR("mm") && seeds("cent_id") === meansR("cell"), "left")
      .select(seeds("m"), seeds("cent_id"),
        coalesce(col("ce_new"), seeds("ce")).as("ce"))
  }

  def q72PqEncode(s: SparkSession, d: String): DataFrame = {
    val (emb, subs, seeds) = pqParts(s, d)
    pqEncode(emb, pqTrain(subs, seeds)).orderBy("vec_id")
  }

  /** OperatorSpec hook: encode with the UNtrained seed codebooks. */
  private[graft] def pqEncodeSeeded(s: SparkSession, d: String): DataFrame = {
    val (emb, _, seeds) = pqParts(s, d)
    pqEncode(emb, seeds).orderBy("vec_id")
  }

  /** q73: asymmetric-distance (ADC) top-k over the q72 PQ codes — the
    * search mode every production PQ index runs: the corpus is never
    * decoded; per query a LUT of ‖q_m − c_{m,k}‖² terms (M·k entries —
    * 64 doubles here) is built once, and a candidate's distance is M
    * integer LUT lookups summed. The LUT terms are fixed-pointed
    * (floor(term·10⁶)) BEFORE summing, so the ranking quantity is an
    * integer sum — order-independent, hence hashable cross-engine (a float
    * Σ over subspaces would be unordered in SQL); ties break on
    * neighbor_id, deterministic in both engines.
    *
    * Scale shape: codebooks + the k query LUTs ride ONE broadcast row each;
    * the per-candidate work is pure map-side array lookups, and the only
    * shuffle is the per-query top-k window over (query_id, neighbor_id,
    * adc_fixed) triples — 24 bytes per candidate, never an embedding. At
    * 100 TB the candidate set comes from q69's IVF cells first (IVF-PQ);
    * here the flat scan IS the point — it gates ADC arithmetic end-to-end
    * against DuckDB. */
  private[graft] val AdcQueries = 10
  private[graft] val AdcK = 5

  /** Shared ADC expression strings (identical arithmetic in q73/q74): the
    * per-vector PQ code array, the per-query integer LUT, and the M-lookup
    * integer distance sum. All assume columns `e` and the one-row `cs`
    * codebook broadcast (and `lut`/`codes` for the sum). */
  // native graft_pq_near (VectorFunctions.PqNearCells) — the interpreted
  // filter+array_min lambdas evaluated M·K codebook rows per vector row
  // and dominated PQ encode at 1M vectors; bit-identical replacement
  private def pqCodesExpr: String =
    s"transform(sequence(0, ${PqM - 1}), m -> " +
      s"element_at(graft_pq_near(slice(e, m * $PqSub + 1, $PqSub), cs, m, 1), 1).cent_id)"

  private def pqLutExpr: String =
    s"""flatten(transform(
       |  transform(sequence(0, ${PqM - 1}),
       |            m -> struct(m AS m, slice(e, m * $PqSub + 1, $PqSub) AS se)),
       |  t -> transform(
       |    transform(sequence(0, ${PqK - 1}),
       |              k -> struct(t.se AS se,
       |                          element_at(filter(cs, c -> c.m = t.m AND c.cent_id = k), 1).ce AS ce)),
       |    p -> CAST(floor((graft_dot(p.se, p.se) - 2 * graft_dot(p.se, p.ce)
       |                       + graft_dot(p.ce, p.ce)) * $CentFixedScale.0D) AS BIGINT))))""".stripMargin

  private def adcSumExpr: String =
    s"aggregate(sequence(0, ${PqM - 1}), 0L, (acc, m) -> " +
      s"acc + element_at(lut, m * $PqK + CAST(element_at(codes, m + 1) AS INT) + 1))"

  def q73AdcTopk(s: SparkSession, d: String): DataFrame = {
    val (emb, subs, seeds) = pqParts(s, d)
    val cs = csRow(pqTrain(subs, seeds))
    // corpus → codes in subspace order (same argmin as pqEncode)
    val codes = emb.crossJoin(broadcast(cs))
      .withColumn("codes", expr(pqCodesExpr))
      .select(col("vec_id").as("neighbor_id"), col("codes"))
    // per-query LUT: lut[m·k + cent] = floor(‖q_m − c_{m,cent}‖²·10⁶)
    val luts = emb.filter(col("vec_id") < AdcQueries)
      .crossJoin(broadcast(cs))
      .withColumn("lut", expr(pqLutExpr))
      .select(col("vec_id").as("query_id"), col("lut"))
    val w = Window.partitionBy("query_id").orderBy(col("adc_fixed"), col("neighbor_id"))
    codes.crossJoin(broadcast(luts))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_fixed", expr(adcSumExpr))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= AdcK)
      .select("query_id", "neighbor_id", "adc_fixed", "rn")
      .orderBy("query_id", "rn")
  }

  /** q74: IVF-PQ — the production ANN architecture end-to-end (FAISS's
    * IVFx,PQy shape): q69's fixed-point-trained coarse quantizer prunes
    * candidates to the query's nprobe cells, and q73's integer ADC ranks
    * the survivors on their PQ codes — the corpus is touched once to build
    * the index (cell + 8 codes per vector, one map-side pass under two
    * one-row broadcasts) and never decoded at query time.
    *
    * Per query the gate carries the selectivity contract (`n_cand` — how
    * many vectors the nprobe cells actually scanned) alongside the ranked
    * ADC distances, so cell assignment, probe order, LUT arithmetic and
    * ranking are all inside the hash.
    *
    * At 100 TB: the candidate join is an EQUI join on cell with the
    * (query, cell, LUT) side broadcast — the shuffle carries 9-byte-scale
    * code rows partitioned by cell, never an embedding; everything before
    * it is one map-side indexing pass (PlanSpec: the only hash exchange is
    * the final per-query top-k on query_id). */
  /** Coarse argmin / nprobe-cell expressions over the one-row `cc`
    * broadcast and an `e` embedding column — shared by the index build,
    * append, and serve paths so they can never drift. */
  // both go through the native NearCells pass (VectorFunctions — bit-identical
  // to the HOF array_min/array_sort formulation it replaced; at nlist ≥ 64
  // the interpreted per-element lambdas dominated every index build)
  private def coarseArgminExpr: String =
    "element_at(graft_near_cells(e, cc, 1), 1)"

  private def probeCellsExpr(nprobe: Int): String =
    s"transform(graft_near_cells(e, cc, $nprobe), s -> s.cent_id)"

  /** The PERSISTED ANN index artifacts — the q70/`corpusArtifact` story for
    * the serving path (closing "the index is rebuilt inside every run"):
    * three plain parquet-writable frames — coarse centroids `(cent_id, ce)`
    * (nlist rows), PQ codebooks `(m, cent_id, ce)` (M·k rows), and the
    * cell+code table `(vec_id, cell, codes)` (one 9-byte-scale row per
    * corpus vector — the only corpus-sized artifact, 32× smaller than the
    * embeddings it replaces). Train once, write once; every query batch
    * goes through [[ivfPqSearchFrom]] and every ingest batch through
    * [[ivfPqAppend]] without ever touching corpus embeddings again.
    * Doubles survive a parquet round trip bit-exactly, so serving from the
    * persisted artifacts is bit-identical to serving from the freshly
    * trained index (OperatorSpec pins this through a real round trip). */
  def ivfPqIndex(emb: DataFrame, subs: DataFrame, seedsPq: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // cache the two tiny trained frames (nlist·dim + M·k rows): every
    // artifact-writing caller (q127/q133/q136/q138/q142) consumes cents
    // and books once directly AND once through codeTable's encode lineage
    // — uncached, the coarse train and the PQ train each ran twice
    val cents = knnCents(emb, IvfNList).cache()
    val books = pqTrain(subs, seedsPq).cache()
    (cents, books, ivfPqAppend(cents, books, emb))
  }

  /** Encode a vector batch under ALREADY-TRAINED centroids + codebooks
    * ([[IvfCodec.FlatPq]]) — the build's encode pass and every ingest
    * batch (nothing existing is touched or re-encoded). */
  def ivfPqAppend(cents: DataFrame, books: DataFrame, emb: DataFrame): DataFrame =
    IvfCodec.FlatPq.encode(cents, Some(books), emb)

  /** Serve IVF-PQ top-k from persisted artifacts: [[IvfCodec.FlatPq]]'s
    * [[IvfCodec.searchFrom]]. */
  def ivfPqSearchFrom(cents: DataFrame, books: DataFrame, codeTable: DataFrame,
      queries: DataFrame, nprobe: Int = IvfNProbe, k: Int = AdcK,
      probeTap: DataFrame => DataFrame = identity,
      candTap: DataFrame => DataFrame = identity): DataFrame =
    IvfCodec.FlatPq.searchFrom(cents, Some(books), codeTable, queries, nprobe, k,
      probeTap, candTap)

  /** ONE IVF CODE TABLE SEAM, FAISS's `IndexIVF` shape (Johnson, Douze &
    * Jégou, "Billion-scale similarity search with GPUs", 2017): one
    * inverted-list skeleton over a pluggable quantizer. A codec states only
    * what differs between code tables: how a batch encodes, how a query
    * becomes per-(query, cell) probe rows, the candidate score and its
    * order, and (PQ codecs) how a rerouted member's row is rewritten. The
    * coarse train ([[knnCents]]), the search skeleton, and the one
    * rebalance rewrite ([[ivfCellSplit]], [[ivfCellMerge]] and the policy
    * steps) are written once over it; [[IvfCodec.of]] is the one place a
    * persisted root's codec is read, so no caller names a codec to
    * rebalance a root.
    *
    * FROZEN-QUANTIZER CONTRACT: `cents` and (PQ) `books` are trained once
    * and never change; every batch encodes under the persisted frames, so
    * old and new codes stay comparable under one LUT. Exactness per codec:
    *  - [[IvfCodec.FlatPq]] (q74) codes the raw vector, independent of
    *    routing: append, delete, compaction, split and merge are exact (a
    *    rebalance only rewrites `cell`).
    *  - [[IvfCodec.ResidualPq]] (q75) codes x − c(cell): append, delete and
    *    compaction are exact; a split or merge re-encodes every member whose
    *    routed centroid changed, under the frozen books, and audits the
    *    staged root before it is returned or published.
    *  - [[IvfCodec.Sq8]] (q78) codes each vector in int8 and has no books
    *    (`books` = None): append, delete and compaction are exact; it has no
    *    rebalance route. */
  sealed trait IvfCodec {
    /** Code rows (vec_id, cell, payload…) of a batch under the frozen
      * quantizer — the build's encode pass and every append; map-side
      * under one-row broadcasts, no shuffle (PlanSpec). */
    def encode(cents: DataFrame, books: Option[DataFrame], emb: DataFrame): DataFrame
    /** One (query_id, cell, query-side columns) row per probed cell. */
    protected def probes(cents: DataFrame, books: Option[DataFrame], queries: DataFrame,
        nprobe: Int): DataFrame
    /** Adds the score to (index ⋈ probes) candidate rows. */
    protected def scored(cand: DataFrame): DataFrame
    /** Per-query top-k + n_cand in the codec's order. */
    protected def topk(cand: DataFrame, k: Int): DataFrame

    /** Serve top-k from persisted artifacts, corpus embeddings never read;
      * a query excludes its own id. Broadcast equi join on cell, then ONE
      * bounded top-k + n_cand aggregate ([[topkWithCount]]) — the only
      * hash exchange, on query_id. `queries` is a request-sized batch, so
      * the result is at most nq·k rows: the aggregate's final merge (≤ nq
      * buffers per map task) and the final order run in one partition,
      * with no range exchange or sample job, and a fusion that unions the
      * result ([[graft.ops.Retrieval.rrfScores]]) stays in that stage. The
      * taps see the probe rows and the scored candidates
      * ([[observedServeMetrics]]). */
    final def searchFrom(cents: DataFrame, books: Option[DataFrame], codeTable: DataFrame,
        queries: DataFrame, nprobe: Int = IvfNProbe, k: Int = AdcK,
        probeTap: DataFrame => DataFrame = identity,
        candTap: DataFrame => DataFrame = identity): DataFrame = {
      val probed = probeTap(probes(cents, books, queries, nprobe))
      val cand = candTap(scored(codeTable.withColumnRenamed("vec_id", "neighbor_id")
        .join(broadcast(probed), Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))))
      topk(cand, k).coalesce(1).orderBy("query_id", "rn")
    }
  }

  /** The PQ code tables: (vec_id, cell, codes) rows, (vec_id, e) batches,
    * ranked by the integer ADC sum over per-(query, cell) LUTs. */
  sealed trait PqCodec extends IvfCodec {
    /** New code rows for rerouted members: `rows` are their current rows,
      * `moved` their (vec_id, cell, e) under the new routing, `cents` the
      * centroids routed to. Only a routing-dependent codec reads `books`. */
    private[ops] def reroute(rows: DataFrame, moved: DataFrame, cents: DataFrame,
        books: => DataFrame): DataFrame
    /** Pre-publish audit of a staged rebalance (no-op by default). */
    private[ops] def audit(s: SparkSession, out: String, emb: DataFrame,
        action: String): Unit = ()
    protected def scored(cand: DataFrame): DataFrame =
      cand.withColumn("adc_fixed", expr(adcSumExpr))
    protected def topk(cand: DataFrame, k: Int): DataFrame = adcTopkWithCount(cand, k)
    /** [[searchFrom]] over a persisted root's live (untombstoned) rows;
      * every file set is read under its declared schema, so planning it
      * runs no job. */
    final def searchRoot(s: SparkSession, root: String, queries: DataFrame,
        nprobe: Int, k: Int): DataFrame =
      searchFrom(IvfCents.read(s, root), Some(IvfBooks.read(s, root)),
        liveCodes(s, root), queries, nprobe, k)
    protected def booksOf(books: Option[DataFrame]): DataFrame = books.getOrElse(
      throw new IllegalArgumentException(s"$this needs its codebooks: books is None"))
    /** `df` beside ONE broadcast row holding both `cc` ([[ccRow]]'s list)
      * and `cs` ([[csRow]]'s). The quantizer frames that reach here are
      * persisted or trained (nlist and M·k rows), so their union collapses
      * to that row in one aggregate inside ONE partition: one broadcast, no
      * `Exchange SinglePartition` stage. The order of each collected list
      * moves with that, and no consumer depends on it (argmin, probe cells
      * and codes break ties on (distance, cent_id), LUT entries are looked
      * up by (m, cent_id)). */
    protected def withBroadcasts(df: DataFrame, cents: DataFrame,
        books: Option[DataFrame]): DataFrame = {
      val c = cents.select(struct(col("cent_id"), col("ce")).as("c"))
      val b = booksOf(books).select(struct(col("m"), col("cent_id"), col("ce")).as("b"))
      def none(of: DataFrame) = lit(null).cast(of.schema.head.dataType)
      val quant = c.select(col("c"), none(b).as("b"))
        .unionByName(b.select(none(c).as("c"), col("b")))
        .coalesce(1)
        .agg(collect_list(col("c")).as("cc"), collect_list(col("b")).as("cs"))
      df.crossJoin(broadcast(quant))
    }
  }

  object IvfCodec {
    /** PQ codes of the raw vector (q74). */
    case object FlatPq extends PqCodec {
      def encode(cents: DataFrame, books: Option[DataFrame], emb: DataFrame): DataFrame =
        withBroadcasts(emb, cents, books)
          .withColumn("cell", expr(s"$coarseArgminExpr.cent_id"))
          .withColumn("codes", expr(pqCodesExpr))
          .select(col("vec_id"), col("cell"), col("codes"))
      // one LUT per query, fanned out to its nprobe cells
      protected def probes(cents: DataFrame, books: Option[DataFrame], queries: DataFrame,
          nprobe: Int): DataFrame =
        withBroadcasts(queries, cents, books)
          .withColumn("lut", expr(pqLutExpr))
          .withColumn("pcell", explode(expr(probeCellsExpr(nprobe))))
          .select(col("vec_id").as("query_id"), col("lut"), col("pcell").as("cell"))
      // the payload does not depend on routing: keep it, change `cell`
      private[ops] def reroute(rows: DataFrame, moved: DataFrame, cents: DataFrame,
          books: => DataFrame): DataFrame =
        rows.drop("cell").join(moved.select("vec_id", "cell"), Seq("vec_id"))
    }

    /** PQ codes of the residual x − c(cell) (q75). */
    case object ResidualPq extends PqCodec {
      def encode(cents: DataFrame, books: Option[DataFrame], emb: DataFrame): DataFrame =
        residualEncode(booksOf(books), residualFrame(cents, emb))
      // per (query, probed cell) the query's RESIDUAL against that cell's
      // centroid gets its own LUT: nprobe tiny LUTs per query, map-side
      protected def probes(cents: DataFrame, books: Option[DataFrame], queries: DataFrame,
          nprobe: Int): DataFrame =
        withBroadcasts(queries, cents, books)
          .withColumn("_p", explode(expr(
            "slice(array_sort(transform(cc, c -> struct(" +
              "graft_dot(e, e) - 2 * graft_dot(e, c.ce) + graft_dot(c.ce, c.ce) AS _d, " +
              s"c.cent_id AS cent_id, c.ce AS cce))), 1, $nprobe)")))
          .withColumn("e", expr("zip_with(e, _p.cce, (x, y) -> x - y)"))
          .withColumn("lut", expr(pqLutExpr))
          .select(col("vec_id").as("query_id"), col("_p.cent_id").as("cell"), col("lut"))
      // re-encode x − c(ROUTED cell) under the frozen books: routing is
      // the caller's (2-means / nearest-survivor), NOT the argmin
      private[ops] def reroute(rows: DataFrame, moved: DataFrame, cents: DataFrame,
          books: => DataFrame): DataFrame =
        residualEncode(books, moved
          .join(broadcast(cents.select(col("cent_id").as("cell"), col("ce"))), Seq("cell"))
          .select(col("vec_id"), col("cell"), expr("zip_with(e, ce, (x, y) -> x - y)").as("e")))
      // a re-encode bug dies HERE (the window then discards the staging),
      // never as a published root
      override private[ops] def audit(s: SparkSession, out: String, emb: DataFrame,
          action: String): Unit = {
        val bad = residualAuditMismatches(s, out, emb)
        if (bad != 0L) throw new IllegalStateException(
          s"residual $action staging failed the invariant audit: $bad rows' " +
            "codes are not the frozen-book encode of x - c(routed cell); " +
            "staging discarded, published root untouched")
      }
    }

    /** int8 scalar codes (q78): (vec_id, cell, qc, max_abs, nrm) rows,
      * nonzero-norm (vec_id, e, nrm) batches, ranked by the rounded
      * approximate cosine, descending. A query encodes exactly as the index
      * did, so a query that is also a corpus vector carries its own row. */
    case object Sq8 extends IvfCodec {
      def encode(cents: DataFrame, books: Option[DataFrame], emb: DataFrame): DataFrame =
        withCodes(emb, cents)
          .withColumn("cell", expr(s"$coarseArgminExpr.cent_id"))
          .select(col("vec_id"), col("cell"), col("qc"), col("max_abs"), col("nrm"))
      protected def probes(cents: DataFrame, books: Option[DataFrame], queries: DataFrame,
          nprobe: Int): DataFrame =
        withCodes(queries, cents)
          .withColumn("pcell", explode(expr(probeCellsExpr(nprobe))))
          .select(col("vec_id").as("query_id"), col("qc").as("cq"),
            col("max_abs").as("maxq"), col("nrm").as("nq"), col("pcell").as("cell"))
      protected def scored(cand: DataFrame): DataFrame =
        cand.withColumn("idot", expr(
            "aggregate(zip_with(cq, qc, (a, b) -> CAST(a AS BIGINT) * CAST(b AS BIGINT)), " +
              "0L, (acc, x) -> acc + x)"))
          .withColumn("sim8", expr(
            "round(((CAST(idot AS DOUBLE) * (maxq / 127.0D)) * (max_abs / 127.0D)) / (nq * nrm), 6)"))
      protected def topk(cand: DataFrame, k: Int): DataFrame =
        topkWithCount(cand, col("sim8"), k).withColumnRenamed("score", "sim8")
      private def withCodes(df: DataFrame, cents: DataFrame): DataFrame =
        df.crossJoin(broadcast(ccRow(cents)))
          .withColumn("max_abs", expr("array_max(transform(e, x -> abs(x)))"))
          .withColumn("qc", expr(sq8CodesExpr))
    }

    /** The codec of a persisted IVF-PQ root, by its variant marker
      * ([[Artifacts.isResidual]]). */
    def of(s: SparkSession, root: String): PqCodec =
      if (Artifacts.isResidual(s, root)) ResidualPq else FlatPq
  }

  /** ANN serving observability: `Dataset.observe` counters piggybacked on
    * the ONE real serving action, mirroring
    * [[graft.ops.Corpus.observedCleanMetrics]] — cells probed (probe
    * fan-out rows = nq × nprobe), candidates ADC-scored (rows surviving
    * the cell gate — THE number the nprobe/nlist lever controls and the
    * per-batch health signal an operator watches at 100 TB), and result
    * rows, all counted by the same tasks that serve the batch. Per-stage
    * `count()` actions would re-run serving once per metric; observe costs
    * zero extra passes.
    *
    * observedCleanMetrics's documented contract — each observed subtree
    * executes exactly once — holds without a cache: `cand` feeds exactly
    * one consumer, the single top-k+count aggregate, so the observed
    * candidate stream is scanned once (OperatorSpec pins the counts). */
  def observedServeMetrics(s: SparkSession, d: String): Map[String, Long] = {
    import org.apache.spark.sql.Observation
    val (emb, subs, seedsPq) = pqParts(s, d)
    val (cents, books, codeTable) = ivfPqIndex(emb, subs, seedsPq)
    val probed = Observation()
    val scored = Observation()
    val served = Observation()
    ivfPqSearchFrom(cents, books, codeTable,
        emb.filter(col("vec_id") < AdcQueries).select("vec_id", "e"),
        probeTap = _.observe(probed, count(lit(1)).as("cells")),
        candTap = _.observe(scored, count(lit(1)).as("cands")))
      .observe(served, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    Map(
      "cells_probed" -> probed.get("cells").asInstanceOf[Long],
      "candidates_scored" -> scored.get("cands").asInstanceOf[Long],
      "results" -> served.get("rows").asInstanceOf[Long])
  }

  def q74IvfPqTopk(s: SparkSession, d: String): DataFrame = {
    val (emb, subs, seedsPq) = pqParts(s, d)
    // build (train + one-pass encode), then serve — the catalog entry IS
    // the artifact pipeline, so the OperatorSpec parquet-round-trip
    // differential pins serving ≡ this query exactly
    val (cents, books, codeTable) = ivfPqIndex(emb, subs, seedsPq)
    ivfPqSearchFrom(cents, books, codeTable,
      emb.filter(col("vec_id") < AdcQueries).select("vec_id", "e"))
  }

  /** Shortlist size for the exact refine pass — 4× the returned k, FAISS's
    * usual `k_factor` shape. */
  private val RefineR = 20

  /** q86: IVF-PQ + exact REFINE — the final stage of the production
    * serving stack (FAISS `IndexRefineFlat`): ADC distances are 8-byte-
    * code approximations, so rank order near the cut is noisy; the fix is
    * to over-fetch a shortlist of R = 4k candidates by ADC and re-rank
    * JUST those R against the true float vectors. Recall approaches
    * exhaustive search while the corpus is still only ever touched through
    * its 9-byte index rows — the full embeddings are read map-side, once,
    * and only R·nq of them contribute distance arithmetic.
    *
    * At 100 TB the refine join is the critical shape: the shortlist
    * (R·nq rows of two ids — KBs) is BROADCAST to the corpus embeddings,
    * so the big side never shuffles and the equi join on vec_id prunes it
    * to R·nq rows before any exact distance is computed. A shuffle-join
    * formulation here would move every embedding for nothing. The only
    * hash exchange in the refine stage is the final per-query top-k
    * (same contract as q73/q74 — PlanSpec-guarded). Distances go through
    * the repo's fixed-point gate (floor(‖q−x‖²·10⁶) as BIGINT) so the
    * oracle hash is exact. */
  /** Serve refined top-k from PERSISTED index artifacts plus the raw
    * embeddings table — the q86 serving path (`ivfPqSearchFrom` for the
    * shortlist, then the broadcast exact re-rank). `corpus` is the full
    * `(vec_id, e)` table the shortlist ids resolve against; it is only
    * ever read map-side under the broadcast shortlist. Bit-identical to
    * the self-contained q86 through a parquet round trip (OperatorSpec). */
  def ivfPqRefineFrom(cents: DataFrame, books: DataFrame, codeTable: DataFrame,
      corpus: DataFrame, queries: DataFrame,
      r: Int = RefineR, k: Int = AdcK): DataFrame = {
    val shortlist = ivfPqSearchFrom(cents, books, codeTable, queries, k = r)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col("vec_id").as("query_id"), col("e").as("eq"))
    val corp = corpus.select(col("vec_id").as("neighbor_id"), col("e").as("en"))
    exactTopk(corp.join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id")), k)
  }

  /** The exact re-rank: fixed-point L2 top-k over (query_id, neighbor_id,
    * eq, en) candidate pairs (q86, q165). */
  private def exactTopk(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("exact_fixed"), col("neighbor_id"))
    pairs.withColumn("exact_fixed", expr(
        s"CAST(floor((graft_dot(eq, eq) - 2 * graft_dot(eq, en) + graft_dot(en, en)) * $CentFixedScale) AS BIGINT)"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "exact_fixed", "rn")
      .orderBy("query_id", "rn")
  }

  def q86AdcRefine(s: SparkSession, d: String): DataFrame = {
    val (emb, subs, seedsPq) = pqParts(s, d)
    val (cents, books, codeTable) = ivfPqIndex(emb, subs, seedsPq)
    ivfPqRefineFrom(cents, books, codeTable, emb,
      emb.filter(col("vec_id") < AdcQueries).select("vec_id", "e"))
  }


  /** q75: RESIDUAL IVF-PQ — the refinement that makes production IVF-PQ
    * accurate (FAISS's default): instead of PQ-coding the raw vector, each
    * vector codes its residual x − c(cell) against its coarse centroid.
    * Residuals have far smaller norms than raw vectors, so the same
    * codebook budget quantizes them much more tightly. The price is on the
    * query side: the LUT is no longer per query but per (query, probed
    * cell) — the query's residual against EACH probed cell's centroid gets
    * its own table. nprobe is small, so that is nprobe tiny LUTs per
    * query, still map-side.
    *
    * All arithmetic stays in the gate: residual subtraction is exact IEEE
    * per element, codebooks train with the fixed-point round, LUT terms
    * are integers, and the candidate set is provably q74's (same coarse
    * quantizer — OperatorSpec asserts per-query n_cand parity with q74).
    * At 100 TB the shapes are q74's: one map-side indexing pass, broadcast
    * equi join on cell, the only hash exchange is the query_id top-k. */
  def q75IvfPqResidual(s: SparkSession, d: String): DataFrame = {
    val (cents, books, codes) = residualParts(s, d)
    IvfCodec.ResidualPq.searchFrom(cents, Some(books), codes,
      embWithNorm(s, d).select("vec_id", "e").filter(col("vec_id") < AdcQueries))
  }

  /** Coarse argmin carrying the winning centroid itself (struct min only
    * reaches the ce field on a full (dist, cent_id) tie — impossible). */
  private val coarseMinExpr: String =
    "array_min(transform(cc, c -> struct(" +
      "graft_dot(e, e) - 2 * graft_dot(e, c.ce) + graft_dot(c.ce, c.ce) AS _d, " +
      "c.cent_id AS cent_id, c.ce AS cce)))"

  /** (vec_id, cell, e := x − c(cell)) under the GIVEN coarse centroids —
    * one map-side pass; shared by the build and every append
    * ([[IvfCodec.ResidualPq]]'s encode under frozen artifacts). */
  private def residualFrame(cents: DataFrame, vecs: DataFrame): DataFrame = {
    vecs.crossJoin(broadcast(ccRow(cents)))
      .withColumn("_k", expr(coarseMinExpr))
      .select(col("vec_id"), col("_k.cent_id").as("cell"),
        expr("zip_with(e, _k.cce, (x, y) -> x - y)").as("e"))
  }

  /** Residual codes under the GIVEN codebooks (pqCodesExpr sees the
    * residual `e`) — map-side, one broadcast row. */
  private def residualEncode(books: DataFrame, resid: DataFrame): DataFrame = {
    resid.crossJoin(broadcast(csRow(books)))
      .withColumn("codes", expr(pqCodesExpr))
      .select(col("vec_id"), col("cell"), col("codes"))
  }

  /** The residual family's persistable artifact trio: coarse cents
    * (cent_id, ce), residual codebooks (m, cent_id, ce), residual codes
    * (vec_id, cell, codes) — q75's build split into q74's artifact shape
    * so the residual index gets the same serving lifecycle. */
  private[graft] def residualParts(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val emb = embWithNorm(s, d).select("vec_id", "e")
    // NOT cached here: q75 serves this trio in ONE action, where AQE
    // exchange reuse already deduplicates the trained subtrees and cache
    // barriers MEASURED 1.59× slower (r19 paired A/B). The multi-action
    // artifact entries (q160/q163/q165 — one write job per frame) cache
    // the returned cents/books themselves via [[residualPartsCached]],
    // where the same A/B measured 0.68×.
    val cents = knnCents(emb, IvfNList)
    val resid = residualFrame(cents, emb)
    val (rsubs, seeds) = subSplit(resid)
    val books = pqTrain(rsubs, seeds)
    (cents, books, residualEncode(books, resid))
  }

  /** [[residualParts]] with the two tiny trained frames (nlist·dim and
    * M·k rows) CACHED — for the artifact entries that consume the trio
    * across SEPARATE write actions (q160/q163/q165): uncached, the cents
    * write, the books write, and the codes write each re-ran the coarse
    * train (3×) and the PQ train (2×). Measured r19 paired A/B on q160:
    * 0.68× with the cache. The one-action serve path (q75) must NOT use
    * this — see the note in [[residualParts]]. */
  private[graft] def residualPartsCached(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (cents, books, codes) = residualParts(s, d)
    (CacheBin.note(cents.cache()), CacheBin.note(books.cache()), codes)
  }

  /** Overlapped artifact-trio build (guide §2.6, [[Par]] scaladoc): write
    * cents, books, codes, and any tombstone batches as CONCURRENT jobs —
    * all target disjoint paths under a root nothing serves yet (versioned
    * roots publish after; unversioned roots are rebuilt per entry), so no
    * write-order crash contract applies. Under [[ivfPqIndex]] the cents
    * and books trains are independent (parallel trains); under
    * [[residualPartsCached]] books needs cents — BlockManager's per-block
    * cache locks serialize exactly that edge while the writes' own file
    * I/O still overlaps. Tombstone batches depend on nothing. */
  private[graft] def writeIvfArtifacts(root: String, cents: DataFrame,
      books: DataFrame, codes: DataFrame, tombs: (String, DataFrame)*): Unit = {
    val trio: Seq[() => Unit] = Seq(
      () => IvfCents.write(cents, root),
      () => IvfBooks.write(books, root),
      () => IvfCodes.write(codes, root))
    val tw: Seq[() => Unit] = tombs.map { case (n, df) =>
      () => Artifacts.VecTombstones.write(df, root, n)
    }
    Par.jobs(trio ++ tw: _*)
  }

  /** The file sets of an IVF root, in the column order [[writeIvfArtifacts]]
    * and every maintenance step write them: coarse centroids, PQ codebooks
    * and the (flat or residual) PQ code table. The kNN-graph root keeps its
    * frozen centroids in the same `cents` set. */
  private[graft] val IvfCents = Artifacts.FileSet("cents", StructType(Seq(
    StructField("cent_id", LongType), StructField("ce", ArrayType(DoubleType)))))
  private[graft] val IvfBooks = Artifacts.FileSet("books", StructType(Seq(
    StructField("m", IntegerType), StructField("cent_id", LongType),
    StructField("ce", ArrayType(DoubleType)))))
  private[graft] val IvfCodes = Artifacts.FileSet("codes", StructType(Seq(
    StructField("vec_id", LongType), StructField("cell", LongType),
    StructField("codes", ArrayType(LongType)))))

  /** ARTIFACT AUDIT for the residual variant — recompute every row's
    * codes from (raw vector, routed centroid, frozen books) and count
    * mismatching rows: 0 on a healthy artifact. THE residual invariant
    * ("codes = frozen-book encode of x − c(cell) for the cell the row is
    * ROUTED to"); [[IvfCodec.ResidualPq]]'s audit runs it after every
    * split and merge of a marked root. OperatorSpec proves it is
    * load-bearing both ways: a split or merge of the marked root audits
    * to 0, and a split of an UNMARKED copy of the same content (read as
    * [[IvfCodec.FlatPq]], so rerouted without re-encoding) audits > 0. */
  def residualAuditMismatches(s: SparkSession, root: String, emb: DataFrame): Long = {
    val cents = IvfCents.read(s, root)
    val books = IvfBooks.read(s, root)
    val codes = IvfCodes.read(s, root)
    val routedRaw = codes.select("vec_id", "cell")
      .join(emb.select("vec_id", "e"), Seq("vec_id"))
    val expect = IvfCodec.ResidualPq.reroute(codes, routedRaw, cents, books)
      .select(col("vec_id"), col("codes").as("expect_codes"))
    codes.join(expect, Seq("vec_id"))
      .filter(not(col("codes") === col("expect_codes"))).count()
  }

  // --------------------------------------------------------------- q160
  /** q160: THE RESIDUAL ARTIFACT SERVED WITH DELETES COMPACTED,
    * ORACLE-GATED — the q127 lifecycle applied to the residual family:
    * build the residual trio ([[residualParts]]) into a version dir, mark
    * it residual-encoded, plant the q127 delete set as two tombstone
    * batches, publish, COMPACT through the versioned policy (the split
    * tier at 100% cannot fire and the merge tier is off, so compaction —
    * routing- and code-INDEPENDENT, it only drops rows — is the one step
    * that acts), and serve from the resolved compacted root with NO
    * delete logic on the serve path. Oracle: q75's chain minus the
    * deleted ids (q160Sql) — identical results require the compaction to
    * have dropped exactly the tombstoned rows and NOTHING else, and the
    * persisted cents/books/codes to round-trip bit-exactly. */
  def q160ResidualServed(s: SparkSession, d: String): DataFrame = {
    val base = s"${Artifacts.datasetScratch(d)}/ivfresid"
    val emb = embWithNorm(s, d).select("vec_id", "e")
    val dels = emb.filter(col("vec_id") % 7 === 3 && col("vec_id") >= AdcQueries)
      .select("vec_id")
    publishResidual(s, base, d, "t0" -> dels.filter(col("vec_id") % 2 === 0),
      "t1" -> dels.filter(col("vec_id") % 2 =!= 0))
    maybeMaintainIvfVersioned(s, base, emb, maxTombstones = 1, maxSharePpm = 1000000L)
    RootPointer.retireOld(s, base, keep = 2)
    IvfCodec.ResidualPq.searchRoot(s, RootPointer.resolve(s, base),
      emb.filter(col("vec_id") < AdcQueries), IvfNProbe, AdcK)
  }

  /** The residual trio of `d` as the next version under `base`, marked
    * and published (q160/q163/q165). */
  private def publishResidual(s: SparkSession, base: String, d: String,
      tombs: (String, DataFrame)*): Unit = {
    val (cents, books, codes) = residualPartsCached(s, d)
    val v = RootPointer.nextVersion(s, base)
    writeIvfArtifacts(s"$base/$v", cents, books, codes, tombs: _*)
    Artifacts.markResidual(s, s"$base/$v")
    RootPointer.publish(s, base, v)
  }

  // --------------------------------------------------------------- q163
  /** q163: RESIDUAL REBALANCE THROUGH THE VERSIONED POLICY, ORACLE-GATED —
    * the residual mirror of q158 that closes the round-17 gap (the
    * `maybe*` policies used to REFUSE a `_VARIANT_RESIDUAL` root, so a
    * residual deployment had no policy-driven rebalance): build the
    * residual trio into a version dir, mark the variant, publish, then run
    * the versioned maintenance window with the MERGE tier armed
    * (minSharePpm = 1000000 ⇒ the [[MergeColdCells]] coldest cells fold,
    * deterministically) — the policy reads the root's codec
    * ([[IvfCodec.of]]) and runs the merge [[ivfCellMerge]] runs, with
    * [[IvfCodec.ResidualPq]]'s reroute (moved members re-encode against
    * their nearest surviving centroid under the FROZEN books), AUDITS the
    * staged version against the residual invariant before it can publish,
    * publishes through [[RootPointer]], and retires the old root after
    * grace. Serve is [[IvfCodec.ResidualPq]]'s search at production nprobe
    * from whatever resolve returns.
    *
    * Oracle: the q75 chain EXTENDED with the merge modeled relationally —
    * the merge path (unlike the split's driver-iterative 2-means) is
    * fully SQL-expressible: occupancy over the full cell universe, the
    * two (count, id)-smallest cells fold, their members reassign by
    * nearest-survivor argmin, re-encode under the frozen codebooks, and
    * the probe side ranks over the SURVIVING centroids. Any drift in the
    * routing, the re-encode arithmetic, the policy's cold-cell choice, or
    * the versioned publish/resolve round trip breaks the hash. */
  def q163ResidualRebalanceServed(s: SparkSession, d: String): DataFrame = {
    val base = s"${Artifacts.datasetScratch(d)}/ivfresver"
    publishResidual(s, base, d)
    val emb = embWithNorm(s, d).select("vec_id", "e")
    // split tier at 100% (cannot fire — geometry change there is not
    // SQL-expressible, its gates are the audit + OperatorSpec); merge tier
    // at 100% ⇒ always folds the MergeColdCells coldest cells
    maybeMaintainIvfVersioned(s, base, emb,
      maxTombstones = 1, maxSharePpm = 1000000L, minSharePpm = 1000000L)
    RootPointer.retireOld(s, base, keep = 2)
    IvfCodec.ResidualPq.searchRoot(s, RootPointer.resolve(s, base),
      emb.filter(col("vec_id") < AdcQueries), IvfNProbe, AdcK)
  }

  // --------------------------------------------------------------- q165
  /** q165: RESIDUAL SPLIT THROUGH THE VERSIONED POLICY, ORACLE-GATED —
    * the split-tier mirror of q163, closing the round-18 gap (q163 arms
    * only the merge tier; the split route fired only in specs, never
    * through a published, served root): build the residual trio into a
    * version dir, mark the variant, publish, arm the SPLIT tier at 1 ppm
    * (every cell is over-tier, so the [[SplitHotCells]] hottest cells
    * split deterministically through the split [[ivfCellSplit]] runs, with
    * [[IvfCodec.ResidualPq]]'s reroute — moved AND kept members re-encode
    * against their new routed centroids under the FROZEN books), audit
    * the staged version against the residual invariant before it can
    * publish, publish through [[RootPointer]],
    * retire after grace, and serve from whatever resolve returns.
    *
    * The split's driver-local 2-means is NOT SQL-expressible, so the
    * serve closes the q142 way instead of modeling the geometry: FULL
    * PROBE plus EXACT REFINE over every candidate. Under full probe the
    * candidate set is the whole codes table (routing changes where rows
    * live, never whether they are probed), and the exact re-rank is the
    * brute-force L2 top-k — DuckDB-expressible with no 2-means anywhere.
    * The hash therefore gates the artifact's ROW ALGEBRA end-to-end
    * (a dropped, duplicated, or unreachable row after the rewrite, a
    * corrupted publish/resolve, a wrong id) while the re-encode
    * arithmetic — which full-probe refine deliberately ranks past — is
    * gated by the pre-publish audit inside [[splitStep]] (a staged
    * re-encode bug throws, never publishes) plus the OperatorSpec
    * served ≡ direct-core differential at production nprobe. */
  def q165ResidualSplitServed(s: SparkSession, d: String): DataFrame = {
    val base = s"${Artifacts.datasetScratch(d)}/ivfressplit"
    publishResidual(s, base, d)
    val emb = embWithNorm(s, d).select("vec_id", "e")
    val (_, split, _) = maybeMaintainIvfVersioned(s, base, emb,
      maxTombstones = 1, maxSharePpm = 1L, minSharePpm = 0L)
    require(split, "the 1-ppm split tier must act on the residual root")
    RootPointer.retireOld(s, base, keep = 2)
    val root = RootPointer.resolve(s, base)
    residualRefineFullProbe(s, root, emb,
      emb.filter(col("vec_id") < AdcQueries))
  }

  /** Full-probe + exact-refine serve from a persisted residual root,
    * re-ranked by the q86 fixed-point exact distance. At full probe the
    * candidate set is definitionally the REACHABLE set — every codes row
    * whose cell exists in cents, for every query, minus self-pairs — and
    * the exact re-rank discards the shortlist's ADC ranking entirely. The
    * r19 shape materialized that ranking anyway (the residual search at
    * nprobe = cell count, k = corpus count): per-(query, cell) LUTs, an
    * ADC sum per (query, row) pair, a corpus-sized per-query window sort,
    * and an n_cand broadcast — all provably dropped on the floor by the
    * refine, plus two driver count() jobs just to parameterize them (r20,
    * guide §1.2: don't compute what you throw away — at 100 TB that dead
    * work is nq·n ADC sums). The reachability semi-join computes the SAME
    * (query, neighbor) set — bit-equal output on any artifact whose codes
    * are vec_id-unique (the split/merge mass-conservation gates) — and
    * what the serve gates is unchanged: a row dropped, duplicated, or
    * routed to a missing cell by the rebalance still changes the result.
    * The ADC arithmetic itself stays gated by the OperatorSpec
    * served ≡ direct-core differential at production nprobe. */
  private def residualRefineFullProbe(s: SparkSession, root: String,
      corpus: DataFrame, queries: DataFrame, k: Int = AdcK): DataFrame = {
    val cents = IvfCents.read(s, root)
    val codes = IvfCodes.read(s, root)
    val reachable = codes.select(col("vec_id").as("neighbor_id"), col("cell"))
      .join(broadcast(cents.select(col("cent_id").as("cell"))), Seq("cell"), "left_semi")
      .select("neighbor_id")
    val q = queries.select(col("vec_id").as("query_id"), col("e").as("eq"))
    val corp = corpus.select(col("vec_id").as("neighbor_id"), col("e").as("en"))
    // `reachable` is every live code row's id — corpus-sized, so no
    // broadcast hint: AQE picks the semi join's strategy from its size
    exactTopk(corp.join(reachable, Seq("neighbor_id"), "left_semi")
      .crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id")), k)
  }

  /** Oracle for q165: brute-force fixed-point L2 top-k — the full-probe
    * refine's closed form (no split geometry anywhere; see the q165
    * scaladoc for what this deliberately does and does not gate). */
  lazy val q165Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |ex AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |         CAST(floor((list_inner_product(q.e, q.e)
       |                     - 2 * list_inner_product(q.e, n.e)
       |                     + list_inner_product(n.e, n.e)) * $CentFixedScale) AS BIGINT) AS exact_fixed
       |  FROM e q JOIN e n ON n.vec_id <> q.vec_id
       |  WHERE q.vec_id < $AdcQueries)
       |SELECT query_id, neighbor_id, exact_fixed, rn FROM (
       |  SELECT query_id, neighbor_id, exact_fixed,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |                                 ORDER BY exact_fixed, neighbor_id) AS BIGINT) AS rn
       |  FROM ex)
       |WHERE rn <= $AdcK ORDER BY query_id, rn""".stripMargin

  /** q77: OPQ — PQ after a learned ORTHOGONAL transform (optimized product
    * quantization), instantiated with a deterministic fixed-point
    * HOUSEHOLDER rotation so it is oracle-gatable. Full OPQ alternates an
    * SVD-derived rotation with codebook training, but SVD is iterative and
    * accumulation-order-dependent — unhashable cross-engine. The gatable
    * core is the rotation PRIMITIVE: R = I − 2·vvᵀ/vᵀv with
    * v = µ − ‖µ‖·e₀, where µ is the FIXED-POINT corpus mean (the q64
    * integer-sum trick — bit-identical on any partition layout AND
    * cross-engine). R maps the corpus-mean direction onto coordinate axis
    * 0, so the DC component lands wholly in subspace 0 instead of smearing
    * across all M subspaces — the simplest instance of OPQ's
    * variance-rebalancing goal. R is exactly orthogonal (‖Rx‖ = ‖x‖;
    * OperatorSpec pins norm preservation to fp tolerance and compares
    * recall against q74), and every downstream step is
    * [[ivfPqIndex]]/[[ivfPqSearchFrom]] VERBATIM — the oracle SQL is q74's
    * with the `e` CTE swapped for the rotation, so any drift in the
    * rotation arithmetic breaks the hash.
    *
    * At 100 TB: µ is one partial+final dim-keyed agg (64 rows out); (v,
    * vv) ride ONE broadcast row; the rotation itself is a map-side array
    * expression — e − (2·v·e/vv)·v with the scalar hoisted per vector — so
    * it fuses into the same scan as assign+encode, and in artifact mode
    * the rotated corpus is exactly what [[ivfPqAppend]] sees (persist (v,
    * vv) beside the codebooks; fresh batches rotate map-side on ingest). */
  /** TRAIN the rotation: the persisted OPQ artifact is this ONE (v, vv)
    * row — everything else in the OPQ index is the plain IVF-PQ trio over
    * the rotated corpus. */
  private[graft] def opqHh(emb: DataFrame): DataFrame = {
    val mu = emb
      .select(posexplode(col("e")).as(Seq("i", "v")))
      .groupBy("i")
      .agg(sum(floor(col("v") * lit(CentFixedScale.toDouble)).cast("long")).as("fs"),
        count(lit(1)).as("fn"))
      .agg(expr("transform(array_sort(collect_list(struct(i, fs, fn))), " +
        s"t -> (CAST(t.fs AS DOUBLE) / t.fn) / $CentFixedScale.0D)").as("mu"))
    mu.select(expr(
        "transform(sequence(0, size(mu) - 1), i -> element_at(mu, i + 1) - " +
          "CASE WHEN i = 0 THEN sqrt(graft_dot(mu, mu)) ELSE 0.0D END)").as("v"))
      .withColumn("vv", expr("graft_dot(v, v)"))
  }

  /** APPLY an already-trained rotation map-side: one broadcast row, pure
    * array expressions — fuses into whatever scan feeds it (ingest append,
    * query-batch rotation, or the index build's own encode pass). */
  private[graft] def opqApply(hh: DataFrame, emb: DataFrame): DataFrame =
    // the Householder coefficient is hoisted per vector (NULL ⟺ degenerate
    // v = 0, i.e. identity); op order matches the oracle exactly:
    // (2.0 · v·e) / vv, then elementwise e_i − c·v_i
    emb.crossJoin(broadcast(hh))
      .withColumn("_hc", expr("CASE WHEN vv = 0.0D THEN CAST(NULL AS DOUBLE) " +
        "ELSE 2.0D * graft_dot(v, e) / vv END"))
      .withColumn("e", expr("CASE WHEN _hc IS NULL THEN e ELSE " +
        "transform(sequence(0, size(e) - 1), i -> " +
        "element_at(e, i + 1) - _hc * element_at(v, i + 1)) END"))
      .select("vec_id", "e")

  private[graft] def opqRotate(emb: DataFrame): DataFrame =
    opqApply(opqHh(emb), emb)

  /** The PERSISTED OPQ index: the (v, vv) rotation row plus the plain
    * IVF-PQ trio trained over the ROTATED corpus. Write all four to
    * parquet; [[opqSearchFrom]]/[[opqAppend]] then serve/ingest without
    * ever retraining the rotation or re-reading corpus embeddings
    * (OperatorSpec pins the round trip bit-identical to q77). */
  def opqIndex(emb: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val hh = opqHh(emb)
    val rot = opqApply(hh, emb)
    val (subs, seeds) = subSplit(rot)
    val (cents, books, codeTable) = ivfPqIndex(rot, subs, seeds)
    (hh, cents, books, codeTable)
  }

  /** Serve OPQ top-k from persisted artifacts: rotate the query batch
    * under the one-row (v, vv) broadcast, then the shared IVF-PQ serve. */
  def opqSearchFrom(hh: DataFrame, cents: DataFrame, books: DataFrame,
      codeTable: DataFrame, queries: DataFrame,
      nprobe: Int = IvfNProbe, k: Int = AdcK): DataFrame =
    ivfPqSearchFrom(cents, books, codeTable, opqApply(hh, queries), nprobe, k)

  /** Incremental OPQ ingest: rotate the fresh batch map-side, then the
    * shared assign+encode — still zero-shuffle (PlanSpec), still never a
    * retrain. */
  def opqAppend(hh: DataFrame, cents: DataFrame, books: DataFrame,
      emb: DataFrame): DataFrame =
    ivfPqAppend(cents, books, opqApply(hh, emb))

  def q77OpqIvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = embWithNorm(s, d).select("vec_id", "e")
    // the catalog entry IS the artifact pipeline (train + encode + serve),
    // so the OperatorSpec parquet round trip pins serving ≡ this query
    val (hh, cents, books, codeTable) = opqIndex(emb)
    opqSearchFrom(hh, cents, books, codeTable,
      emb.filter(col("vec_id") < AdcQueries).select("vec_id", "e"))
  }

  /** q74's oracle with the `e` CTE swapped for the fixed-point Householder
    * rotation — everything downstream is shared verbatim. */
  lazy val q77Sql: String = {
    val rawE = "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),"
    require(q74Sql.startsWith(rawE), "q74Sql prefix changed; update q77Sql")
    val rot =
      s"""WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |muagg AS (
         |  SELECT i,
         |         SUM(CAST(floor(e[CAST(i + 1 AS INTEGER)] * $CentFixedScale) AS BIGINT)) AS fs,
         |         COUNT(*) AS fn
         |  FROM (SELECT unnest(range(0, len(e))) AS i, e FROM raw)
         |  GROUP BY i),
         |mu AS (SELECT list((CAST(fs AS DOUBLE) / fn) / $CentFixedScale.0 ORDER BY i) AS mu
         |       FROM muagg),
         |hh AS (
         |  SELECT v, list_inner_product(v, v) AS vv FROM (
         |    SELECT list_transform(range(0, len(mu)), i ->
         |             mu[CAST(i + 1 AS INTEGER)] -
         |               CASE WHEN i = 0 THEN sqrt(list_inner_product(mu, mu)) ELSE 0.0 END) AS v
         |    FROM mu)),
         |e AS (
         |  SELECT vec_id,
         |         CASE WHEN vv = 0.0 THEN x.e
         |              ELSE list_transform(range(0, len(x.e)), i ->
         |                     x.e[CAST(i + 1 AS INTEGER)] -
         |                       (2.0 * list_inner_product(v, x.e) / vv) * v[CAST(i + 1 AS INTEGER)])
         |         END AS e
         |  FROM raw x CROSS JOIN hh),""".stripMargin
    rot + q74Sql.stripPrefix(rawE)
  }

  /** q78: SQ8-IVF — int8 SCALAR-quantized IVF serving, the judge-named
    * alternative refinement beside PQ (q74) and the other standard
    * production index shape (FAISS `IVFx,SQ8`): q69's fixed-point-trained
    * coarse quantizer prunes candidates to the query's nprobe cells, and the
    * survivors rank on q58's per-vector max-abs int8 codes instead of PQ
    * codes — 4× compression with far higher fidelity than PQ's 32×, the
    * usual middle point of the accuracy/size trade.
    *
    * Hashability: the code arrays are q58's (bit-identical cross-engine —
    * the ±127 saturation special-case carries over verbatim), and the
    * ranking core Σ cq_i·cn_i is an INTEGER dot product — exact, order
    * independent. Only the final rescale to approximate cosine touches
    * floats: ((idot·(maxq/127))·(maxn/127))/(nq·nn), the identical IEEE op
    * sequence in both engines, rounded to 6 decimals for the gate (the q28/
    * q69 convention). Per-query `n_cand` carries the selectivity contract.
    * Ranks on the ROUNDED score with neighbor_id ties, deterministic in
    * both engines. Inherits the nonzero-norm contract ([[embWithNorm]]) —
    * enforced with an explicit nrm > 0 filter on BOTH sides.
    *
    * At 100 TB: one map-side pass encodes cell + int8 codes per corpus
    * vector under the one-row centroid broadcast (the [[ivfPqAppend]]
    * shape); the candidate gate is a broadcast equi join on cell; the only
    * candidate-path exchange is the query_id top-k+count aggregate, which
    * keeps ≤ k pairs per query map-side (PlanSpec). The index
    * row is cell + 64 bytes + 2 scalars — no embedding ever shuffles. */
  /** q58's encoder verbatim (incl. the ±127 max-element special case) —
    * shared by [[IvfCodec.Sq8]]'s encode and probe sides so they can never
    * drift. */
  private val sq8CodesExpr: String =
    "transform(e, x -> CAST(CASE WHEN abs(x) = max_abs " +
      "THEN IF(x >= 0.0D, 127.0D, -127.0D) " +
      "ELSE greatest(-127.0D, least(127.0D, floor(x * 127.0 / max_abs))) END AS INT))"

  /** The PERSISTED SQ8-IVF index: coarse centroids `(cent_id, ce)` plus
    * the code table `(vec_id, cell, qc, max_abs, nrm)` — cell + 64 int8
    * codes + 2 scalars per corpus vector. Train once, write both to
    * parquet; [[IvfCodec.Sq8]] serves and ingests without retraining
    * (OperatorSpec pins the round trip bit-identical to q78). */
  def sq8Index(emb: DataFrame): (DataFrame, DataFrame) = {
    val cents = knnCents(emb, IvfNList)
    (cents, IvfCodec.Sq8.encode(cents, None, emb))
  }

  def q78Sq8Ivf(s: SparkSession, d: String): DataFrame = {
    val emb = embWithNorm(s, d).filter(col("nrm") > 0).select("vec_id", "e", "nrm")
    // the catalog entry IS the artifact pipeline (train + encode + serve),
    // so the OperatorSpec parquet round trip pins serving ≡ this query
    val (cents, codeTable) = sq8Index(emb)
    IvfCodec.Sq8.searchFrom(cents, None, codeTable, emb.filter(col("vec_id") < AdcQueries))
  }

  lazy val q78Sql: String = {
    val kdist = "list_inner_product(x.e, x.e) - 2 * list_inner_product(x.e, c.ce) + list_inner_product(c.ce, c.ce)"
    s"""WITH e AS (
       |  SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
       |  WHERE sqrt(list_inner_product(e, e)) > 0),
       |kseed AS (SELECT vec_id AS cent_id, e AS ce FROM e WHERE vec_id < $IvfNList),
       |ka0 AS (
       |  SELECT x.vec_id, x.e, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |  FROM e x CROSS JOIN kseed c),
       |kmx AS (
       |  SELECT cell, i,
       |         SUM(CAST(floor(e[CAST(i + 1 AS INTEGER)] * $CentFixedScale) AS BIGINT)) AS fs,
       |         COUNT(*) AS fn
       |  FROM (SELECT cent_id AS cell, unnest(range(0, len(e))) AS i, e FROM ka0 WHERE rn = 1)
       |  GROUP BY cell, i),
       |kmean AS (
       |  SELECT cell, list((CAST(fs AS DOUBLE) / fn) / $CentFixedScale.0 ORDER BY i) AS ce_new
       |  FROM kmx GROUP BY cell),
       |kcents AS (
       |  SELECT s.cent_id, COALESCE(m.ce_new, s.ce) AS ce
       |  FROM kseed s LEFT JOIN kmean m ON s.cent_id = m.cell),
       |sq AS (
       |  SELECT vec_id, nrm, max_abs,
       |         list_transform(e, x -> CAST(CASE WHEN abs(x) = max_abs
       |                                          THEN (CASE WHEN x >= 0 THEN 127.0 ELSE -127.0 END)
       |                                          ELSE greatest(-127.0, least(127.0, floor(x * 127.0 / max_abs)))
       |                                     END AS INTEGER)) AS qc
       |  FROM (SELECT vec_id, e, nrm, list_max(list_transform(e, x -> abs(x))) AS max_abs FROM e)),
       |kassign AS (
       |  SELECT vec_id AS neighbor_id, cent_id AS cell FROM (
       |    SELECT x.vec_id, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |    FROM e x CROSS JOIN kcents c)
       |  WHERE rn = 1),
       |idx AS (
       |  SELECT k.neighbor_id, k.cell, s.qc AS cn, s.max_abs AS maxn, s.nrm AS nn
       |  FROM kassign k JOIN sq s ON k.neighbor_id = s.vec_id),
       |kq AS (
       |  SELECT query_id, cell FROM (
       |    SELECT x.vec_id AS query_id, c.cent_id AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |    FROM e x CROSS JOIN kcents c WHERE x.vec_id < $AdcQueries)
       |  WHERE rn <= $IvfNProbe),
       |qp AS (
       |  SELECT q.query_id, q.cell, s.qc AS cq, s.max_abs AS maxq, s.nrm AS nq
       |  FROM kq q JOIN sq s ON q.query_id = s.vec_id),
       |cand AS (
       |  SELECT q.query_id, i.neighbor_id,
       |         round(((CAST(CAST(list_sum(list_transform(range(0, len(q.cq)),
       |                   j -> CAST(q.cq[CAST(j + 1 AS INTEGER)] AS BIGINT) * i.cn[CAST(j + 1 AS INTEGER)])) AS BIGINT) AS DOUBLE)
       |                 * (q.maxq / 127.0)) * (i.maxn / 127.0)) / (q.nq * i.nn), 6) AS sim8
       |  FROM qp q JOIN idx i USING (cell)
       |  WHERE q.query_id <> i.neighbor_id)
       |SELECT query_id, neighbor_id, sim8, n_cand, rn FROM (
       |  SELECT query_id, neighbor_id, sim8,
       |         CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_cand,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |                                 ORDER BY sim8 DESC, neighbor_id) AS BIGINT) AS rn
       |  FROM cand)
       |WHERE rn <= $AdcK ORDER BY query_id, rn""".stripMargin
  }

  /** q79: ANN recall evaluation — the measurement harness every ANN
    * deployment runs beside its index (ann-benchmarks' core metric): per
    * query, how much of the TRUE cosine top-k the approximate method
    * returned. Evaluates the catalog's production index (q74 IVF-PQ)
    * against the exact rounded-cosine top-k over the same corpus. Gated
    * columns per query: `n_hits` (integer overlap), `recall` (n_hits/k —
    * one exact-in-binary division since k = $AdcK), and `first_hit_rank`
    * (the best approximate rank holding a true neighbor; 0 = none — kept
    * as an integer rather than a float MRR so the gate carries no division
    * artifacts). The ground-truth side reuses q69's exact-top-k
    * formulation verbatim; the approximate side IS q74 — drift in either
    * breaks this gate too.
    *
    * At 100 TB the exact side is the expensive half — that is inherent to
    * recall measurement (run it over a sampled query panel, as here: the
    * query set is fixed and small, so the brute-force side is one
    * broadcast-queries map pass over the corpus + a per-query top-k, never
    * an all-pairs join). */
  def q79AnnRecall(s: SparkSession, d: String): DataFrame = {
    val approx = q74IvfPqTopk(s, d).select("query_id", "neighbor_id", "rn")
    val emb = embWithNorm(s, d)
    val q = emb.filter(col("vec_id") < AdcQueries)
      .select(col("vec_id").as("query_id"), col("e").as("eq"), col("nrm").as("nq"))
    val n = emb.select(col("vec_id").as("neighbor_id"), col("e").as("en"), col("nrm").as("nn"))
    val wk = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    val exact = q.join(n, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(expr("graft_dot(eq, en)") / (col("nq") * col("nn")), 6))
      .withColumn("xrn", row_number().over(wk))
      .filter(col("xrn") <= AdcK)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    approx.join(exact, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
        (sum(coalesce(col("hit"), lit(0L))).cast("double") / AdcK).as("recall"),
        coalesce(min(when(col("hit") === 1L, col("rn"))), lit(0L)).as("first_hit_rank"))
      .orderBy("query_id")
  }

  /** q74's oracle embedded as the approximate side; the exact side is q69's
    * brute-force top-k formulation with q74's (queries, k). */
  lazy val q79Sql: String =
    s"""WITH approx AS (SELECT query_id, neighbor_id, rn FROM (
       |$q74Sql
       |)),
       |e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |exact_k AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |             round(list_inner_product(q.e, n.e) /
       |                   (sqrt(list_inner_product(q.e, q.e)) * sqrt(list_inner_product(n.e, n.e))), 6) DESC,
       |             n.vec_id) AS rn
       |    FROM e2 q JOIN e2 n ON q.vec_id <> n.vec_id
       |    WHERE q.vec_id < $AdcQueries)
       |  WHERE rn <= $AdcK)
       |SELECT a.query_id,
       |       CAST(SUM(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |       CAST(SUM(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / $AdcK AS recall,
       |       COALESCE(MIN(CASE WHEN x.neighbor_id IS NOT NULL THEN a.rn END), CAST(0 AS BIGINT)) AS first_hit_rank
       |FROM approx a LEFT JOIN exact_k x
       |  ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
       |GROUP BY a.query_id ORDER BY a.query_id""".stripMargin

  /** q82: batch kNN-GRAPH construction — every corpus vector gets its top-k
    * neighbors (the all-vectors ANN workload behind kNN-graph dedup/
    * clustering and graph-index builds, FAISS `IVFFlat` knn shape): the
    * q69 coarse quantizer assigns each vector to its cell and probes each
    * QUERY's nprobe nearest cells, candidates rank on exact rounded cosine.
    *
    * This is deliberately the ONE ANN catalog entry whose candidate join is
    * NOT broadcast: with queries = corpus, both join sides are corpus-sized,
    * so the correct 100-TB shape is a CO-PARTITIONED equi join on cell —
    * each side shuffles once, partitioned by cell, and every cell's
    * candidate block joins locally (pinned with shuffle_merge hints so the
    * planner can't broadcast the small test tables; PlanSpec asserts both
    * cell exchanges and that nothing else shuffles). Rows carry dim-64
    * embeddings (512 B) through that one shuffle — at this dimensionality
    * cheaper than per-query LUTs (8 KB each); at high dim you'd rank on PQ
    * codes instead (q73/q74 machinery). `n_cand` is counted inside the
    * same bounded top-k aggregate ([[topkWithCount]]), so no corpus-sized
    * count frame is ever joined back.
    *
    * Candidate volume is Σ_cell |cell|·|probes(cell)| ≈ n²·nprobe/nlist —
    * inherently quadratic-over-nlist (that IS the kNN-graph cost); nlist
    * auto-sizes to ⌈√n⌉ ([[corpusNList]]), and per-cell skew is bounded by
    * the Lloyd-trained balance (plus AQE skew splitting at the extreme).
    * Hashability: same fixed-point coarse train as q74/q78, exact IEEE
    * cosine rounded 6dp, neighbor_id ties — deterministic cross-engine.
    *
    * SESSION-CONF NOTE (applies to q82/q84/q94/[[knnGraphArtifact]] and
    * every IVF search through [[topkWithCount]] — every caller of the
    * top-k kernel): building these queries raises
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` from
    * Spark's default 128 to 4,000,000 FOR THE SESSION (SQLConf is read at
    * planning, so a narrower scope is impossible for a lazily-executed
    * frame); later ObjectHashAggregates in the same session inherit the
    * larger in-memory-map bound. An explicitly pre-set non-default value is
    * never overridden — see [[raiseTopkFallback]] for the measurement and
    * the worst-case memory math. */
  /** The kNN-graph candidate kernel shared by q82 (graph construction) and
    * q84 (label propagation): coarse cells over the nonzero-norm corpus,
    * co-partitioned cell join, exact rounded cosine per candidate pair.
    * Columns: (query_id, neighbor_id, cos_sim). */
  private[graft] def knnCand(s: SparkSession, d: String): DataFrame = {
    val emb = embWithNorm(s, d).filter(col("nrm") > 0).select("vec_id", "e", "nrm")
    // no cache barrier on cents: although the cc broadcast feeds both the
    // index and the probes branch, AQE's runtime exchange reuse already
    // executes the centroid-train broadcast stage once (measured: caching
    // cents moved q82's 100k steady-state by 0.0 s)
    knnCandFrom(emb, ccRow(knnCents(emb, corpusNList(s, d))))
  }

  /** The kNN-graph family's coarse centroids as (cent_id, ce) ROWS — the
    * persistable form ([[knnGraphArtifact]] freezes these next to the edge
    * list so [[knnGraphAppend]] serves under the build-time quantizer, the
    * same no-retrain contract as [[ivfPqAppend]]). One fixed-point Lloyd
    * round over vec_id < nlist seeds, exactly as the self-contained
    * queries train. */
  private[graft] def knnCents(emb: DataFrame, nlist: Int): DataFrame = {
    val coarseSeed = seedCents(emb, nlist)
    fixedPointUpdate(assignCells(emb.select("vec_id", "e"), coarseSeed), coarseSeed)
  }

  /** The untrained coarse seed: the vec_id < nlist vectors as (cent_id, ce). */
  private def seedCents(emb: DataFrame, nlist: Int): DataFrame =
    emb.filter(col("vec_id") < nlist).select(col("vec_id").as("cent_id"), col("e").as("ce"))

  /** Collapse a (cent_id, ce) centroid frame to the one-row `cc` broadcast
    * the coarse argmin / probe-cell expressions consume. */
  private[graft] def ccRow(cents: DataFrame): DataFrame =
    cents.agg(collect_list(struct(col("cent_id"), col("ce"))).as("cc"))

  /** [[ccRow]]'s twin for PQ codebooks: (m, cent_id, ce) rows → the
    * one-row `cs` broadcast the encode / LUT expressions consume. */
  private def csRow(books: DataFrame): DataFrame =
    books.agg(collect_list(struct(col("m"), col("cent_id"), col("ce"))).as("cs"))

  /** [[knnCand]] under EXPLICIT centroids — the seam the append
    * differential and the artifact build share with the self-contained
    * queries, so candidate semantics can never drift between them.
    * `emb` must be the nonzero-norm (vec_id, e, nrm) corpus. */
  private[graft] def knnCandFrom(emb: DataFrame, cc: DataFrame): DataFrame = {
    val assigned = emb.crossJoin(broadcast(cc))
    val index = assigned
      .withColumn("cell", expr(s"$coarseArgminExpr.cent_id"))
      .select(col("vec_id").as("neighbor_id"), col("cell"),
        col("e").as("en"), col("nrm").as("nn"))
    val probes = assigned
      .withColumn("pcell", explode(expr(probeCellsExpr(IvfNProbe))))
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nq"), col("pcell").as("cell"))
    index.hint("shuffle_merge")
      .join(probes.hint("shuffle_merge"), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(expr("graft_dot(eq, en)") / (col("nq") * col("nn")), 6))
      .select("query_id", "neighbor_id", "cos_sim")
  }

  /** The graft_topk PARTIAL aggregate plans as ObjectHashAggregateExec,
    * whose in-memory map falls back to SORT-based aggregation after
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` distinct
    * keys — Spark's default is 128. Grouping the candidate stream by
    * query_id puts ≈ 2n/P distinct keys in every partition (tens of
    * thousands at anchor scale), so under the default virtually every
    * candidate row funnels through a per-partition sort — the exact cost
    * the single-pass graft_topk rewrite exists to avoid. Measured on the
    * 100k-vector kNN-graph anchor (nlist=128): 18.6 s → 13.6 s (−27%)
    * from raising the threshold. 4M TopK buffers ≈ 1 GiB worst-case per
    * task (k=10 ⇒ ~280 B each), and per-partition keys stay ≈ 2n/P, so a
    * corpus would need ~64M vectors ON 32 PARTITIONS to reach the cap —
    * real deployments scale P with n. Session-level conf (SQLConf is read
    * at planning), set only if still at the Spark default so an
    * operator's explicit setting wins; like the in-query caches this
    * outlives the query — documented session-level convention. */
  private def raiseTopkFallback(s: SparkSession): Unit =
    if (s.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "128") == "128")
      s.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")

  /** Per-query bounded top-k AND candidate count in ONE partial+final
    * aggregate — the shape every IVF search and the kNN graph share.
    * graft_topk (q51's TypedImperativeAggregate) ranks by (score desc,
    * neighbor_id asc), exactly the total order of the window it replaces,
    * and count(1) rides in the same pass. The window+count+join-back
    * formulation executed the candidate subtree TWICE (rank subtree + count
    * subtree) and pushed every candidate row through a per-partition sort
    * — at 100k vectors that was 27 of q82's 35 anchor seconds. Here each
    * candidate row is touched once, map-side, and the only candidate-keyed
    * exchange carries ≤ k pairs + one count per query.
    * Output: (query_id, neighbor_id, score, n_cand, rn), rn 1-based. */
  private def topkWithCount(cand: DataFrame, score: Column, k: Int): DataFrame = {
    val s = cand.sparkSession
    graft.functions.TopKAgg.register(s)
    raiseTopkFallback(s)
    cand.withColumn("_score", score)
      .groupBy("query_id")
      .agg(expr(s"graft_topk(_score, neighbor_id, $k)").as("tk"),
        count(lit(1)).as("n_cand"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("rn0", "p")), col("n_cand"))
      .select(col("query_id"), col("p.id").as("neighbor_id"),
        col("p.score").as("score"), col("n_cand"),
        (col("rn0") + 1).cast("long").as("rn"))
  }

  /** [[topkWithCount]] for the ADC order (adc_fixed asc, neighbor_id asc):
    * the descending score is CAST(-adc_fixed AS DOUBLE) — the long is
    * negated first, so no -0.0 appears — and the mapping is EXACT and
    * order-preserving because |adc_fixed| < 2^53 (a sum of M = 8 LUT terms
    * floor(‖q_m − c‖²·10⁶); reaching 2^53 would take squared subspace
    * distances near 10⁹). adc_fixed comes back as the negated long.
    * Output: (query_id, neighbor_id, adc_fixed, n_cand, rn). */
  private def adcTopkWithCount(cand: DataFrame, k: Int): DataFrame =
    topkWithCount(cand, (-col("adc_fixed")).cast("double"), k)
      .select(col("query_id"), col("neighbor_id"),
        (-col("score").cast("long")).as("adc_fixed"), col("n_cand"), col("rn"))

  def q82KnnGraph(s: SparkSession, d: String): DataFrame =
    topkWithCount(knnCand(s, d), col("cos_sim"), AdcK)
      .withColumnRenamed("score", "cos_sim")
      .orderBy("query_id", "rn")

  /** Bounded top-k edge aggregation over any (query_id, neighbor_id,
    * cos_sim) candidate frame — the one shape shared by the self-contained
    * edge list, the artifact build, and both halves of the append merge.
    * Output: (query_id, outdeg, neighbor_id, cos_sim), k-bounded per query.
    * outdeg rides along for free — it is size(tk), known the moment the
    * bounded top-k lands, so PageRank (and any outdeg-weighted analytic)
    * never re-aggregates the edge list to recover it; cos_sim survives so
    * a PERSISTED edge list stays mergeable (top-k(A ∪ B) needs A's
    * scores — the identity [[knnGraphAppend]] is built on). */
  private[graft] def topkEdges(cand: DataFrame): DataFrame =
    cand
      .groupBy("query_id")
      .agg(expr(s"graft_topk(cos_sim, neighbor_id, $AdcK)").as("tk"))
      .select(col("query_id"), size(col("tk")).cast("long").as("outdeg"),
        explode(col("tk")).as("p"))
      .select(col("query_id"), col("outdeg"), col("p.id").as("neighbor_id"),
        col("p.score").as("cos_sim"))

  /** The kNN EDGE LIST (query_id → its top-k neighbors) shared by q84 and
    * q94 — the same bounded-aggregate shape as q82 minus n_cand. */
  private[graft] def knnEdges(s: SparkSession, d: String): DataFrame = {
    graft.functions.TopKAgg.register(s)
    raiseTopkFallback(s)
    topkEdges(knnCand(s, d)).drop("cos_sim")
  }

  /** SCORED edge list under explicit centroids — what the artifact
    * persists and what the append differential rebuilds. */
  private[graft] def knnEdgesScoredFrom(s: SparkSession, emb: DataFrame,
      cc: DataFrame): DataFrame = {
    graft.functions.TopKAgg.register(s)
    raiseTopkFallback(s)
    topkEdges(knnCandFrom(emb, cc))
  }

  /** q99: PCA TOP COMPONENT via fixed-point POWER ITERATION — the
    * dimensionality/variance-structure probe behind embedding-space audits
    * (is one direction dominating the space? which documents sit at the
    * extremes of it?). Output: the 10 vectors with the largest |projection|
    * onto the corpus's top principal direction.
    *
    * Everything float-hazardous is fixed-point (the q64/q94 discipline),
    * which is what makes an ITERATIVE linear-algebra kernel hashable
    * cross-engine:
    *  - per-dim mean: Σ floor(x·10⁶) BIGINTs / n;
    *  - covariance cells: Σ floor(cx_i·cx_j·10⁶) via the native
    *    [[graft.functions.CovAgg]] — one d²-long buffer per partition
    *    through the shuffle, never an n·d² explode;
    *  - each power round: the matvec Σ_j floor(C[i][j]·v[j]·10⁶) is a
    *    BIGINT sum, the normalization w/√(Σw²) is sqrt+divide (both
    *    correctly rounded IEEE ops) rounded to 6dp — identical both
    *    engines; a degenerate all-zero round yields 0 (guarded, the q89
    *    sigma=0 lesson), not NaN;
    *  - projections: Σ_i floor(cx_i·v_i·10⁶) BIGINT, map-side with the
    *    component attached as a one-row broadcast.
    *
    * Scale shape: three honest corpus passes (mean, covariance, project) —
    * each a map-side pass with a bounded aggregate (64 keys / one 32 KiB
    * buffer / top-k) — plus a 64×64 iteration subplan on the CACHED cov
    * frame (tiny joins, corpus never re-read; rounds are a fixed count
    * like q71/q84/q94). */
  private val PcaDim = 64
  private val PcaRounds = 3
  private val PcaTopK = 10

  /** Shared by q99/q100: centered corpus + the cached d×d covariance
    * frame (one corpus pass each — the mean lives in a cached one-row
    * frame, the cov cells in a cached 64×64 frame). */
  private def pcaParts(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    graft.functions.CovAgg.register(s)
    // null embeddings are skipped by CovAgg.update (and contribute no rows
    // to the posexplode mean pass), so they must not be counted into the
    // Gram normalizer n either — the same filter the streamed sketches
    // apply (VecStream.gramSketch/meanSketch), which is what keeps the
    // served≡batch bit-equality honest on corpora with null rows
    val emb = embWithNorm(s, d).select("vec_id", "e").filter(col("e").isNotNull)
    val mu = emb
      .select(posexplode(col("e")).as(Seq("i", "x")))
      .groupBy("i")
      .agg(sum(expr("CAST(floor(x * 1000000.0) AS BIGINT)")).as("fs"),
        count(lit(1)).as("n"))
      .select(col("i"),
        ((col("fs").cast("double") / col("n")) / lit(1000000.0)).as("m"))
    val muArr = mu.agg(
      expr("transform(array_sort(collect_list(struct(i, m))), t -> t.m)").as("mu"))
      .cache() // one row; saves the final projection pass a mean re-derivation
    val centered = emb.crossJoin(broadcast(muArr))
      .select(col("vec_id"), expr("zip_with(e, mu, (x, m) -> x - m)").as("cx"))
    val cov = centered
      .agg(expr(s"graft_cov(cx, $PcaDim)").as("cs"), count(lit(1)).as("n"))
      .select(col("n"), posexplode(col("cs")).as(Seq("k", "fs")))
      .select(expr(s"CAST(k div $PcaDim AS INT)").as("i"),
        expr(s"CAST(k % $PcaDim AS INT)").as("j"),
        ((col("fs").cast("double") / col("n")) / lit(1000000.0)).as("c"))
      .cache() // 64×64 rows; consumers re-derive from this, never the corpus
    cov.count()
    (centered, cov)
  }

  def q99PcaPower(s: SparkSession, d: String): DataFrame = {
    val (centered, cov) = pcaParts(s, d)
    q99PowerProject(s, centered, cov)
  }

  /** The iteration+projection half of q99, split out as a SERVING SEAM:
    * `centered` is any (vec_id, cx) frame and `cov` any (i, j, c) cell
    * frame. The batch entry feeds it [[pcaParts]]; the streaming serve
    * path feeds it the SAME frames derived from merged per-batch
    * fixed-point sketches ([[graft.streaming.VecStream.mergeGram]] /
    * `mergeMean`) — bit-equal because every per-row floor happens before
    * any Σ, so batch boundaries can't change a single bit
    * (VecStreamServe spec holds the end-to-end equality). */
  private[graft] def q99PowerProject(s: SparkSession, centered: DataFrame,
      cov: DataFrame): DataFrame = {
    var v = s.range(PcaDim).select(col("id").cast("int").as("j"),
      when(col("id") === 0, lit(1.0)).otherwise(lit(0.0)).as("v"))
    for (_ <- 1 to PcaRounds) {
      val w = cov.join(v, Seq("j"))
        .groupBy("i")
        .agg(sum(expr("CAST(floor(c * v * 1000000.0) AS BIGINT)")).as("w"))
      // Σw² through DECIMAL(38,0): w can reach ~6e9 on high-variance data,
      // so the BIGINT square would overflow where the decimal cannot (the
      // q91 lesson applied preemptively); the exact integer converts to
      // double identically in both engines
      val n2 = w.agg(sum(col("w").cast("decimal(38,0)") * col("w")).as("n2"))
      v = w.crossJoin(broadcast(n2))
        .select(col("i").as("j"),
          when(col("n2") === 0, lit(0.0)).otherwise(
            round(col("w").cast("double") / sqrt(col("n2").cast("double")), 6)).as("v"))
    }
    val vArr = v.agg(
      expr("transform(array_sort(collect_list(struct(j, v))), t -> t.v)").as("vv"))
    centered.crossJoin(broadcast(vArr))
      .select(col("vec_id"),
        expr(s"aggregate(sequence(1, $PcaDim), CAST(0 AS BIGINT), " +
          "(acc, i) -> acc + CAST(floor(element_at(cx, i) * element_at(vv, i) " +
          "* 1000000.0) AS BIGINT))").as("proj"))
      .orderBy(abs(col("proj")).desc, col("vec_id"))
      .limit(PcaTopK)
  }

  lazy val q99Sql: String = {
    def round(prev: String, r: Int): String =
      s"""w$r AS (
         |  SELECT cov.i, SUM(CAST(floor(c * v * 1000000.0) AS BIGINT)) AS w
         |  FROM cov JOIN $prev ON cov.j = $prev.j GROUP BY cov.i),
         |v$r AS (
         |  SELECT CAST(w$r.i AS INTEGER) AS j,
         |         CASE WHEN n2 = 0 THEN 0.0
         |              ELSE round(CAST(w AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)), 6) END AS v
         |  FROM w$r CROSS JOIN (
         |    SELECT SUM(CAST(w AS DECIMAL(38,0)) * w) AS n2 FROM w$r) s$r)""".stripMargin
    val rounds = (1 to PcaRounds).map(r => round(s"v${r - 1}", r)).mkString(",\n")
    s"""WITH e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |            WHERE embedding IS NOT NULL),
       |ex AS (SELECT vec_id, CAST(i AS INTEGER) AS i, e[CAST(i + 1 AS INTEGER)] AS x
       |       FROM e2, LATERAL (SELECT unnest(range(0, $PcaDim)) AS i)),
       |mu AS (SELECT i, (CAST(SUM(CAST(floor(x * 1000000.0) AS BIGINT)) AS DOUBLE)
       |                  / COUNT(*)) / 1000000.0 AS m
       |       FROM ex GROUP BY i),
       |cx AS (SELECT vec_id, ex.i, x - m AS cx FROM ex JOIN mu ON ex.i = mu.i),
       |nn AS (SELECT COUNT(*) AS n FROM e2),
       |cov AS (SELECT a.i AS i, b.i AS j,
       |               (CAST(SUM(CAST(floor(a.cx * b.cx * 1000000.0) AS BIGINT)) AS DOUBLE)
       |                / MAX(nn.n)) / 1000000.0 AS c
       |        FROM cx a JOIN cx b ON a.vec_id = b.vec_id CROSS JOIN nn
       |        GROUP BY a.i, b.i),
       |v0 AS (SELECT CAST(i AS INTEGER) AS j,
       |              CASE WHEN i = 0 THEN 1.0 ELSE 0.0 END AS v
       |       FROM (SELECT unnest(range(0, $PcaDim)) AS i)),
       |$rounds,
       |proj AS (SELECT vec_id,
       |                CAST(SUM(CAST(floor(cx * v * 1000000.0) AS BIGINT)) AS BIGINT) AS proj
       |         FROM cx JOIN v$PcaRounds ON cx.i = v$PcaRounds.j GROUP BY vec_id)
       |SELECT vec_id, proj FROM proj
       |ORDER BY abs(proj) DESC, vec_id LIMIT $PcaTopK""".stripMargin
  }

  /** q100: TOP CORRELATED DIMENSION PAIRS — the redundant-dimension audit
    * on the same fixed-point covariance (ONE corpus pass shared with q99's
    * machinery): corr(i, j) = C[i][j] / √(C[i][i]·C[j][j]) over the cached
    * 64×64 cell frame, top-10 by |corr|. Embedding dims that correlate
    * strongly are candidates for PQ subspace grouping / dim dropping; on a
    * well-conditioned embedding space the matrix should be near-diagonal —
    * this query is the check. All arithmetic after the fixed-point cells is
    * correctly rounded IEEE (divide, sqrt, 6dp round) — hashable. */
  def q100CorrPairs(s: SparkSession, d: String): DataFrame = {
    val (_, cov) = pcaParts(s, d)
    val diag = cov.filter(col("i") === col("j"))
      .select(col("i").as("k"), col("c").as("vr"))
    cov.filter(col("i") < col("j"))
      .join(diag.select(col("k").as("i"), col("vr").as("vi")), Seq("i"))
      .join(diag.select(col("k").as("j"), col("vr").as("vj")), Seq("j"))
      .filter(col("vi") > 0 && col("vj") > 0)
      .select(col("i"), col("j"),
        round(col("c") / sqrt(col("vi") * col("vj")), 6).as("corr"))
      .orderBy(abs(col("corr")).desc, col("i"), col("j"))
      .limit(PcaTopK)
  }

  /** q109: EMBEDDING DISTRIBUTION-DRIFT AUDIT — per-dimension divergence
    * between two corpus cohorts (here the label halves; in production:
    * this week's ingest vs the training snapshot, or source A vs B). The
    * standard monitor is PSI/KL, but both need logs — the one
    * non-portable float op (q56's lesson) — so the reported statistic is
    * TOTAL VARIATION distance in PURE INTEGER form: per dim, 10 fixed
    * bins (floor(x·1.25 + 5) clamped — 1.25 is exactly representable, and
    * the whole binning is the same two correctly-rounded IEEE ops in both
    * engines), counts per (dim, bin, cohort), and
    * tv_scaled = Σ_bins |c_A·n_B − c_B·n_A| — an exact BIGINT (the
    * cross-multiplied form of Σ|p_A − p_B|; real TV = tv_scaled/(2·n_A·n_B),
    * reported as a rounded double alongside). Dims ranked by drift:
    * the top rows are the dimensions whose marginal distribution moved —
    * retrain/requantize candidates (PQ codebooks and SQ8 ranges both
    * assume the training distribution).
    *
    * Scale shape: ONE corpus pass (posexplode map-side) into a
    * partial+final count with ≤ dims·bins·2 = 1,280 groups; everything
    * after is arithmetic on that tiny frame plus a one-row cohort-total
    * broadcast. The integer cross-product form bounds cohorts at ~2×10⁹
    * rows before BIGINT overflow (c·n ≤ n²) — beyond that, divide per
    * cohort first (documented trade; the oracle keeps the exact form). */
  def q109EmbedDrift(s: SparkSession, d: String): DataFrame = {
    val binned = Tables.spread(s, Tables.embeddings(s, d), "vec_id")
      .select(col("label"), col("embedding").cast("array<double>").as("e"))
      .filter(col("e").isNotNull)
      // when/otherwise, NOT (label < 5).cast("int"): the boolean cast maps
      // NULL labels to NULL (row silently in neither cohort) while the
      // oracle's CASE ... ELSE 0 puts them in cohort 0 — match the ELSE-0
      // semantics so a future corpus with null labels can't break the hash
      .select(when(col("label") < 5, 1).otherwise(0).as("coh"),
        posexplode(col("e")).as(Seq("i", "x")))
      .withColumn("bin",
        expr("LEAST(GREATEST(CAST(floor(x * 1.25D + 5.0D) AS BIGINT), 0L), 9L)"))
      .groupBy("i", "bin", "coh").agg(count(lit(1)).as("c"))
    val cells = binned.groupBy("i", "bin")
      .agg(sum(when(col("coh") === 1, col("c")).otherwise(0L)).as("ca"),
        sum(when(col("coh") === 0, col("c")).otherwise(0L)).as("cb"))
    // cohort totals PER DIMENSION (Σ over that dim's bins — summing the
    // whole binned frame would count every vector once per dim, inflating
    // the TV normalizer 64×); a 64-row frame broadcast back onto the cells
    val totals = cells.groupBy("i")
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    cells.join(broadcast(totals), Seq("i"))
      .groupBy("i", "n_a", "n_b")
      .agg(sum(abs(col("ca") * col("n_b") - col("cb") * col("n_a"))).as("tv_scaled"))
      .select(col("i"), col("n_a"), col("n_b"), col("tv_scaled"),
        round(col("tv_scaled").cast("double") /
          (lit(2.0) * col("n_a").cast("double") * col("n_b").cast("double")), 6).as("tv"))
      .orderBy(col("tv_scaled").desc, col("i"))
  }

  lazy val q109Sql: String =
    s"""WITH e2 AS (SELECT CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings
       |            WHERE embedding IS NOT NULL),
       |ex AS (SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS coh,
       |              CAST(i AS INTEGER) AS i, e[CAST(i + 1 AS INTEGER)] AS x
       |       FROM e2, LATERAL (SELECT unnest(range(0, $PcaDim)) AS i)),
       |b AS (SELECT i, LEAST(GREATEST(CAST(floor(x * 1.25 + 5.0) AS BIGINT), 0), 9) AS bin,
       |             coh, COUNT(*) AS c
       |      FROM ex GROUP BY i, bin, coh),
       |cells AS (SELECT i, bin,
       |                 CAST(SUM(CASE WHEN coh = 1 THEN c ELSE 0 END) AS BIGINT) AS ca,
       |                 CAST(SUM(CASE WHEN coh = 0 THEN c ELSE 0 END) AS BIGINT) AS cb
       |          FROM b GROUP BY i, bin),
       |nn AS (SELECT i, CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
       |       FROM cells GROUP BY i)
       |SELECT i, n_a, n_b,
       |       CAST(SUM(abs(ca * n_b - cb * n_a)) AS BIGINT) AS tv_scaled,
       |       round(CAST(SUM(abs(ca * n_b - cb * n_a)) AS DOUBLE)
       |             / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS tv
       |FROM cells JOIN nn USING (i)
       |GROUP BY i, n_a, n_b
       |ORDER BY tv_scaled DESC, i""".stripMargin

  lazy val q100Sql: String =
    s"""WITH e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |            WHERE embedding IS NOT NULL),
       |ex AS (SELECT vec_id, CAST(i AS INTEGER) AS i, e[CAST(i + 1 AS INTEGER)] AS x
       |       FROM e2, LATERAL (SELECT unnest(range(0, $PcaDim)) AS i)),
       |mu AS (SELECT i, (CAST(SUM(CAST(floor(x * 1000000.0) AS BIGINT)) AS DOUBLE)
       |                  / COUNT(*)) / 1000000.0 AS m
       |       FROM ex GROUP BY i),
       |cx AS (SELECT vec_id, ex.i, x - m AS cx FROM ex JOIN mu ON ex.i = mu.i),
       |nn AS (SELECT COUNT(*) AS n FROM e2),
       |cov AS (SELECT a.i AS i, b.i AS j,
       |               (CAST(SUM(CAST(floor(a.cx * b.cx * 1000000.0) AS BIGINT)) AS DOUBLE)
       |                / MAX(nn.n)) / 1000000.0 AS c
       |        FROM cx a JOIN cx b ON a.vec_id = b.vec_id CROSS JOIN nn
       |        GROUP BY a.i, b.i),
       |diag AS (SELECT i AS k, c AS vr FROM cov WHERE i = j)
       |SELECT cov.i, cov.j, round(c / sqrt(di.vr * dj.vr), 6) AS corr
       |FROM cov
       |JOIN diag di ON cov.i = di.k
       |JOIN diag dj ON cov.j = dj.k
       |WHERE cov.i < cov.j AND di.vr > 0 AND dj.vr > 0
       |ORDER BY abs(round(c / sqrt(di.vr * dj.vr), 6)) DESC, cov.i, cov.j
       |LIMIT $PcaTopK""".stripMargin

  /** Persist the kNN edge list as a SERVABLE parquet artifact — the graph
    * analogue of `ivfPqIndex`: the Σ|cell| candidate kernel (the expensive
    * build, minutes at 1M vectors) runs ONCE, and every downstream graph
    * analytic (label propagation, PageRank, clustering audits) reads n·k
    * rows instead of re-running it. Serving is bit-equal to self-contained
    * (OperatorSpec round-trip) because the edge list IS the whole graph
    * state — no float recompute on the read path.
    *
    * Layout, under the graph root `root`: the SCORED edge list
    * [[GraphEdges]] — scores persisted so [[knnGraphAppend]] can merge
    * fresh candidates into existing top-k lists without re-running the
    * kernel — and the coarse centroids [[IvfCents]] (the frozen build-time
    * quantizer every append serves under; edges are built from the
    * ROUND-TRIPPED cents so artifact and append can never see different
    * quantizers — doubles survive parquet bit-exactly).
    *
    * Eager (two writes), so unlike the lazily-returned query frames it can
    * SCOPE the topk-fallback session conf: the prior value is restored once
    * the writes complete (closes the round-12 "restore after eager actions"
    * item; the documented session-wide raise remains only for lazy frames,
    * where SQLConf-at-planning makes scoping impossible). */
  def knnGraphArtifact(s: SparkSession, d: String, root: String,
      withCells: Boolean = true): Unit = {
    val confKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prior = s.conf.get(confKey, "128")
    try {
      val emb = embWithNorm(s, d).filter(col("nrm") > 0).select("vec_id", "e", "nrm")
      IvfCents.write(knnCents(emb, corpusNList(s, d)), root)
      val cents = IvfCents.read(s, root)
      // the per-vector PROBE-CELL table (vec_id, pcells) — the graph
      // analogue of ivfPqIndex's per-vector cell+code table: pcells[0] is
      // the assign cell (graft_near_cells orders by (distance, cent_id),
      // the identical tie-break as the k=1 argmin), the rest are the probe
      // cells. Appends read these n·nprobe integer rows instead of
      // re-running the n·nlist assign over the base corpus — measured at
      // 1M vectors the two recomputed assign passes are 2×30 s of the
      // append's 90 s (BASELINE.md round-13), and they grow n^1.5 under
      // √n nlist sizing while the persisted-table join grows n.
      // withCells=false skips the probe-cell table for SERVE-ONLY builds
      // (the q101/q105 gates re-build per run and never append) — readers
      // that will fold batches in keep the default and get the append-
      // ready artifact
      if (withCells) GraphCells.write(probeCellRows(emb.select("vec_id", "e"), cents), root)
      GraphEdges.write(knnEdgesScoredFrom(s, emb, ccRow(cents)), root)
    } finally s.conf.set(confKey, prior)
  }

  /** The kNN-graph root's file sets beside its frozen [[IvfCents]], in the
    * column order [[knnGraphArtifact]] and the streaming fold
    * ([[graft.streaming.VecStream.graphAppend]]) write them: the scored
    * edge list and the probe-cell table. */
  private[graft] val GraphEdges = Artifacts.FileSet("edges", StructType(Seq(
    StructField("query_id", LongType), StructField("outdeg", LongType),
    StructField("neighbor_id", LongType), StructField("cos_sim", DoubleType))))
  private[graft] val GraphCells = Artifacts.FileSet("cells", StructType(Seq(
    StructField("vec_id", LongType), StructField("pcells", ArrayType(LongType)))))

  /** (vec_id, pcells) probe-cell rows for a (vec_id, e) batch under frozen
    * cents — the artifact's [[GraphCells]] rows (pcells[0] = assign cell);
    * nonzero-norm rows only, the graph node-set convention. The streaming
    * fold uses this to carry the cells table forward per version. */
  def probeCellRows(emb: DataFrame, cents: DataFrame): DataFrame =
    emb
      .withColumn("nrm", sqrt(expr("graft_dot(e, e)"))).filter(col("nrm") > 0)
      .crossJoin(broadcast(ccRow(cents)))
      .withColumn("pcells", expr(probeCellsExpr(IvfNProbe)))
      .select("vec_id", "pcells")

  /** INCREMENTAL kNN-GRAPH MAINTENANCE — the missing member of the append
    * family ([[ivfPqAppend]]/[[opqAppend]]/[[IvfCodec.Sq8]]), and the genuinely
    * harder one: fresh vectors can DISPLACE existing top-k edges, so unlike
    * the one-sided incremental-dedup probe the existing side must be
    * patched, not just probed. Under the artifact's frozen quantizer
    * (`cents` — the ivfPqAppend no-retrain contract):
    *
    *  - FRESH nodes get their top-k from a one-sided probe: each fresh
    *    vector's nprobe cells meet the union index (existing ∪ fresh
    *    assigned cells) with the fresh probe rows BROADCAST — the corpus
    *    side never shuffles;
    *  - EXISTING nodes are PATCHED: each existing vector's probe cells meet
    *    the BROADCAST fresh index, and the new top-k is the bounded merge
    *    top-k(old top-k ∪ fresh candidates). This equals the full rebuild's
    *    top-k(base candidates ∪ fresh candidates) by the selection identity
    *    top-k(A ∪ B) = top-k(top-k(A) ∪ B) — OperatorSpec holds
    *    append ≡ rebuild row-for-row under shared cents.
    *
    * Cost: |fresh|·(n/nlist)·nprobe candidate rows (linear in n with a
    * small factor) plus one n·k edge-row merge shuffle — never the
    * n²·nprobe/nlist corpus² kernel. Every cell join broadcasts the
    * fresh-derived side (PlanSpec: zero sort-merge joins in the append
    * plan), so at 100 TB the corpus contributes only map-side scans.
    *
    * `baseEmb` = the nonzero-norm (vec_id, e, nrm) corpus the artifact was
    * built from; `edges` = the persisted SCORED edge list; `fresh` = the
    * (vec_id, e) batch (ids must be new). Returns the full union scored
    * edge list in [[topkEdges]] shape — write it back over the artifact to
    * complete the fold. */
  def knnGraphAppend(s: SparkSession, baseEmb: DataFrame, edges: DataFrame,
      cents: DataFrame, fresh: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val cc = ccRow(cents)
    // base-side cells/probes RECOMPUTED map-side (two n·nlist passes —
    // correct at any scale, zero extra state; [[knnGraphAppendFrom]] is
    // the cheaper path when the artifact's probe-cell table is at hand)
    val exA = baseEmb.crossJoin(broadcast(cc))
      .withColumn("cell", expr(s"$coarseArgminExpr.cent_id"))
      .select(col("vec_id"), col("e"), col("nrm"), col("cell"))
    val exProbes = baseEmb.crossJoin(broadcast(cc))
      .withColumn("pcell", explode(expr(probeCellsExpr(IvfNProbe))))
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nq"), col("pcell").as("cell"))
    appendCore(s, exA, exProbes, edges, cc, fresh)
  }

  /** [[knnGraphAppend]] served from the artifact's persisted PROBE-CELL
    * table ([[GraphCells]]: vec_id → pcells, pcells[0] = assign cell) —
    * the base corpus's cells/probes come from n·nprobe integer parquet
    * rows joined to the embeddings on vec_id instead of two recomputed
    * n·nlist assign passes. The join is O(n) shuffle where the recompute
    * is O(n·√n) ops under √n nlist sizing, so this is the path that keeps
    * append LINEAR in corpus size (BASELINE.md round-13 measures the
    * crossover at 1M). Same results bit-for-bit: the persisted pcells are
    * the same expression over the same frozen cents. */
  def knnGraphAppendFrom(s: SparkSession, baseEmb: DataFrame, cells: DataFrame,
      edges: DataFrame, cents: DataFrame, fresh: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val cc = ccRow(cents)
    // LEFT join + raise_error on a missing pcells row: an inner join would
    // silently drop any base vector whose `cells` row is absent (corpus
    // store and probe-cell table drifted out of lockstep) from both the
    // existing-side patch and the union index — a silent divergence from
    // rebuild. coalesce short-circuits, so the error expression only fires
    // on an actual null, and being inside the consumed `pcells` expression
    // it can't be pruned away by the optimizer.
    val pre = baseEmb.join(cells, Seq("vec_id"), "left")
      .withColumn("pcells", coalesce(col("pcells"), expr(
        "raise_error('graft: base vec_id missing from the cells probe table " +
          "- corpus and cells artifacts are out of lockstep; rebuild the index')")))
    val exA = pre.select(col("vec_id"), col("e"), col("nrm"),
      element_at(col("pcells"), 1).as("cell"))
    val exProbes = pre
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nq"), explode(col("pcells")).as("cell"))
    appendCore(s, exA, exProbes, edges, cc, fresh)
  }

  /** The shared append merge: fresh assignment + one-sided broadcast
    * candidate joins + the bounded top-k merges, over base-side
    * (vec_id, e, nrm, cell) assignments and (query_id, eq, nq, cell)
    * probe rows from either derivation. */
  private def appendCore(s: SparkSession, exA: DataFrame, exProbes: DataFrame,
      edges: DataFrame, cc: DataFrame, fresh: DataFrame): DataFrame = {
    graft.functions.TopKAgg.register(s)
    raiseTopkFallback(s)
    val fr = fresh.select(col("vec_id"), col("e"))
      .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
      .filter(col("nrm") > 0)
    val frA = fr.crossJoin(broadcast(cc))
      .withColumn("cell", expr(s"$coarseArgminExpr.cent_id"))
      .select(col("vec_id"), col("e"), col("nrm"), col("cell"))
    def asIndex(df: DataFrame): DataFrame =
      df.select(col("vec_id").as("neighbor_id"), col("cell"),
        col("e").as("en"), col("nrm").as("nn"))
    val frProbes = fr.crossJoin(broadcast(cc))
      .withColumn("pcell", explode(expr(probeCellsExpr(IvfNProbe))))
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nq"), col("pcell").as("cell"))
    def scored(pairs: DataFrame): DataFrame = pairs
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim",
        round(expr("graft_dot(eq, en)") / (col("nq") * col("nn")), 6))
      .select("query_id", "neighbor_id", "cos_sim")
    // fresh side: probes broadcast onto the union index (corpus streams)
    val freshEdges = topkEdges(scored(
      asIndex(exA.unionByName(frA)).join(broadcast(frProbes), Seq("cell"))))
    // existing side: corpus probe rows stream against the broadcast fresh
    // index; the merge re-top-ks old edges ∪ fresh candidates per node
    val patchCand = scored(
      exProbes.join(broadcast(asIndex(frA)), Seq("cell")))
    val merged = topkEdges(
      edges.select("query_id", "neighbor_id", "cos_sim").unionByName(patchCand))
    merged.unionByName(freshEdges)
  }

  /** The CTE chain producing the kNN candidate set (`e` … `cand`) —
    * the SQL mirror of `knnCand`, shared by q82 and q84 so the two
    * oracles can never drift. */
  private lazy val knnCandCtes: String = {
    val kdist = "list_inner_product(x.e, x.e) - 2 * list_inner_product(x.e, c.ce) + list_inner_product(c.ce, c.ce)"
    s"""WITH e AS (
       |  SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
       |  WHERE sqrt(list_inner_product(e, e)) > 0),
       |kseed AS (SELECT vec_id AS cent_id, e AS ce FROM e WHERE vec_id < $corpusNListSql),
       |ka0 AS (
       |  SELECT x.vec_id, x.e, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |  FROM e x CROSS JOIN kseed c),
       |kmx AS (
       |  SELECT cell, i,
       |         SUM(CAST(floor(e[CAST(i + 1 AS INTEGER)] * $CentFixedScale) AS BIGINT)) AS fs,
       |         COUNT(*) AS fn
       |  FROM (SELECT cent_id AS cell, unnest(range(0, len(e))) AS i, e FROM ka0 WHERE rn = 1)
       |  GROUP BY cell, i),
       |kmean AS (
       |  SELECT cell, list((CAST(fs AS DOUBLE) / fn) / $CentFixedScale.0 ORDER BY i) AS ce_new
       |  FROM kmx GROUP BY cell),
       |kcents AS (
       |  SELECT s.cent_id, COALESCE(m.ce_new, s.ce) AS ce
       |  FROM kseed s LEFT JOIN kmean m ON s.cent_id = m.cell),
       |kassign AS (
       |  SELECT vec_id AS neighbor_id, cent_id AS cell FROM (
       |    SELECT x.vec_id, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |    FROM e x CROSS JOIN kcents c)
       |  WHERE rn = 1),
       |kq AS (
       |  SELECT query_id, cell FROM (
       |    SELECT x.vec_id AS query_id, c.cent_id AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |    FROM e x CROSS JOIN kcents c)
       |  WHERE rn <= $IvfNProbe),
       |cand AS (
       |  SELECT q.query_id, i.neighbor_id,
       |         round(list_inner_product(eq.e, en.e) / (eq.nrm * en.nrm), 6) AS cos_sim
       |  FROM kq q
       |  JOIN kassign i USING (cell)
       |  JOIN e eq ON eq.vec_id = q.query_id
       |  JOIN e en ON en.vec_id = i.neighbor_id
       |  WHERE q.query_id <> i.neighbor_id)""".stripMargin
  }

  lazy val q82Sql: String =
    s"""$knnCandCtes
       |SELECT query_id, neighbor_id, cos_sim, n_cand, rn FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |         CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_cand,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |                                 ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rn
       |  FROM cand)
       |WHERE rn <= $AdcK ORDER BY query_id, rn""".stripMargin

  /** q84: LABEL PROPAGATION over the kNN graph — semi-supervised weak
    * labeling (auto-labeling the unlabeled majority of a corpus from a
    * small seed set, the standard bootstrap for classifier training data).
    * Seeds = vectors with `vec_id % 4 == 0` keep their true label; each
    * synchronous round, every still-unlabeled node adopts the MAJORITY
    * label among its k nearest neighbors that were labeled in any earlier
    * round (ties → count desc, then smaller label — fully deterministic);
    * once labeled, a node never changes (seed clamping). Rounds are a
    * FIXED small count (driver-side loop over distributed passes — q53/
    * q71's shape, not a data-dependent driver loop).
    *
    * Scale shape: the graph is n·k edge rows (built once by the shared
    * `knnCand` kernel + per-query top-k); each round is (a) an equi join
    * edges ⋈ labels on neighbor_id, (b) a partial+final count per
    * (query_id, lbl), (c) a majority argmax via `max(struct(cnt, -lbl))`
    * — another partial+final agg, (d) a left-anti equi join to exclude
    * already-labeled nodes. Every shuffle carries ≤ n·k tiny integer rows;
    * nothing is ever collected. Unlabeled survivors surface as lbl −1 so
    * the gate covers them too. */
  private val LpRounds = 2
  private val LpSeedMod = 4

  def q84LabelProp(s: SparkSession, d: String): DataFrame =
    // The graph build (coarse train + Σ-cell candidate join + bounded
    // top-k agg) is the expensive subtree and every round's vote join
    // references it — persist it ONCE so rounds read the materialized
    // n·k integer edge rows instead of re-executing the kNN kernel.
    q84LabelPropFrom(s, d, knnEdges(s, d).cache()) // lazy: round 1 populates

  /** The serving seam: label propagation over an ALREADY-BUILT edge list —
    * pass `knnEdges` (self-contained catalog shape) or a parquet round-trip
    * of it ([[knnGraphArtifact]]) so repeated graph analytics never re-run
    * the Σ|cell| kNN kernel. Same contract as `ivfPqSearchFrom`. */
  private[graft] def q84LabelPropFrom(s: SparkSession, d: String, edges: DataFrame): DataFrame = {
    val nodes = embWithNorm(s, d).filter(col("nrm") > 0).select("vec_id")
    // seed labels live on the raw table (embWithNorm prunes them away);
    // the semi-join keeps the seed set inside the nonzero-norm node set
    var labels = Tables.spread(s, Tables.embeddings(s, d), "vec_id")
      .filter(col("vec_id") % LpSeedMod === 0)
      .join(nodes, Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("label").cast("long").as("lbl"), lit(0L).as("rnd"))
      .cache()
    for (r <- 1 to LpRounds) {
      val prev = labels
      labels = prev.unionByName(lpVotes(edges, prev, r))
      // materialize per round (trainCentroids' pattern): each round's
      // votes reference `labels` twice (equi + anti), so an unmaterialized
      // lineage triples per round — 102 scans / 14 SMJs at LpRounds = 2.
      // The LAST round needs no barrier: nothing references it twice, so
      // its one cheap vote join runs inside the final job over the cached
      // inputs instead of paying an extra job round-trip. `prev` must NOT
      // be unpersisted here: the cache just built is a dependent of prev,
      // and dropping prev invalidates it, forcing the final plan to
      // recompute the seed subtree. The ≤ LpRounds+1 caches are tiny
      // (n integer rows each) and fall to session clearCache like every
      // other in-query cache in this repo.
      if (r < LpRounds) labels.cache().count()
    }
    nodes.join(labels, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("lbl"), lit(-1L)).as("lbl"),
        coalesce(col("rnd"), lit(-1L)).as("rnd"))
      .orderBy("vec_id")
  }

  /** One synchronous vote round: unlabeled nodes adopt the majority label
    * among already-labeled neighbors. Exposed as a seam so PlanSpec can
    * assert the per-round shuffle shape (equi joins + partial aggs on
    * tiny integer rows) now that q84's loop runs over cached state. */
  private[graft] def lpVotes(edges: DataFrame, labels: DataFrame, r: Int): DataFrame =
    edges
      .join(labels.select(col("vec_id").as("neighbor_id"), col("lbl")), Seq("neighbor_id"))
      .join(labels.select(col("vec_id").as("query_id")), Seq("query_id"), "left_anti")
      .groupBy(col("query_id"), col("lbl"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("query_id"))
      .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("m"))
      .select(col("query_id").as("vec_id"), (-col("m.neg")).as("lbl"),
        lit(r.toLong).as("rnd"))

  lazy val q84Sql: String = {
    val l0 =
      s"""l0 AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS lbl, CAST(0 AS BIGINT) AS rnd
         |  FROM embeddings WHERE vec_id % $LpSeedMod = 0
         |    AND vec_id IN (SELECT vec_id FROM e))""".stripMargin
    val rounds = (1 to LpRounds).map { r =>
      s"""l$r AS (
         |  SELECT * FROM l${r - 1}
         |  UNION ALL
         |  SELECT query_id AS vec_id, lbl, CAST($r AS BIGINT) AS rnd FROM (
         |    SELECT v.query_id, v.lbl,
         |           ROW_NUMBER() OVER (PARTITION BY v.query_id
         |                              ORDER BY v.cnt DESC, v.lbl) AS rk
         |    FROM (
         |      SELECT g.query_id, l.lbl, COUNT(*) AS cnt
         |      FROM edges g JOIN l${r - 1} l ON g.neighbor_id = l.vec_id
         |      WHERE g.query_id NOT IN (SELECT vec_id FROM l${r - 1})
         |      GROUP BY g.query_id, l.lbl) v)
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""$knnCandCtes,
       |edges AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY cos_sim DESC, neighbor_id) AS rn
       |    FROM cand)
       |  WHERE rn <= $AdcK),
       |$l0,
       |$rounds
       |SELECT n.vec_id, COALESCE(l.lbl, -1) AS lbl, COALESCE(l.rnd, -1) AS rnd
       |FROM e n LEFT JOIN l$LpRounds l ON n.vec_id = l.vec_id
       |ORDER BY n.vec_id""".stripMargin
  }

  /** q94: PAGERANK centrality over the kNN graph — the graph-importance
    * signal behind centrality-weighted corpus curation (prefer documents
    * whose neighborhoods the corpus keeps pointing at; downweight isolated
    * or orphaned content). Classic damped PageRank, a FIXED small round
    * count over the shared [[knnCand]] edge set (built once, cached —
    * q84's materialization pattern).
    *
    * Hashability: each round's per-edge contribution `pr/outdeg` is one
    * IEEE division, scaled `floor(·10⁹)` to a BIGINT so the per-node
    * fan-in SUM is order-independent (the q64 fixed-point trick — a raw
    * double Σ would hash-diverge on partition layout), and the damped
    * update `0.15 + 0.85·(Σ/10⁹)` is the same two correctly-rounded IEEE
    * ops in both engines. No logs anywhere (cross-libm lg is the one
    * non-portable float op — q56's lesson).
    *
    * Scale shape: edges are n·k integer rows built once; every round is
    * (a) an equi join edges ⋈ ranks on query_id, (b) a map-side division,
    * (c) a partial+final BIGINT sum keyed neighbor_id, (d) a left join
    * back onto the node set — shuffles carry only id+long rows. Dangling
    * mass is deliberately dropped (uniform-teleport-only for sink nodes),
    * the standard large-graph simplification; rounds are fixed, not
    * convergence-tested, like q84/q71. */
  private val PrRounds = 3

  def q94PageRank(s: SparkSession, d: String): DataFrame =
    q94PageRankFrom(s, d, knnEdges(s, d))

  /** Serving seam, same contract as [[q84LabelPropFrom]]: PageRank over an
    * already-built (or parquet-served) edge list. */
  private[graft] def q94PageRankFrom(s: SparkSession, d: String, edges: DataFrame): DataFrame = {
    val nodes = embWithNorm(s, d).filter(col("nrm") > 0).select("vec_id")
    // edge list + out-degree, persisted once: every round's contribution
    // join re-reads these n·k integer rows, never the kNN kernel
    // outdeg is carried on every edge row (knnEdges computes it as
    // size(tk) inside the top-k agg), so no re-aggregation + join here —
    // one fewer edge-list shuffle per graph build
    // lazy: round 1's materialization populates it; like q84's caches
    // (n·k integer rows + the last round's tiny rank frame) it falls to the
    // session-level clearCache between bench/verify queries — repo
    // convention for in-query caches (see q84's scaladoc)
    pageRankRounds(nodes, edges.cache(), None)
  }

  /** The damped round loop of q94 and q103 over the node set and the
    * cached edge list `eo` (query_id, neighbor_id, outdeg): per round, the
    * fixed-point fan-in sum, then `0.15 + 0.85·(Σ_in + dangling/n)` where
    * the dangling term (q103) redistributes the rank mass sitting on the
    * `dangling` nodes uniformly, and is absent for q94.
    *
    * Per-round barrier, as q84: each round reads the previous ranks once,
    * but an unmaterialized lineage re-derives every prior round inside
    * round r's plan (and the final plan would re-run the whole
    * recursion), so every round but the last is cached and counted; the
    * last folds into the final job. A round's cache is released once the
    * next round has materialized from it (a loaded cache survives the
    * release of the one it was built from), so the entry holds at most
    * two rank frames at a time. */
  private def pageRankRounds(nodes: DataFrame, eo: DataFrame,
      dangling: Option[DataFrame]): DataFrame = {
    val nD = dangling.map(_ => nodes.count().toDouble)
    var pr = nodes.select(col("vec_id"), lit(1.0).as("pr")).cache()
    for (r <- 1 to PrRounds) {
      val sums = eo
        .join(pr.select(col("vec_id").as("query_id"), col("pr")), Seq("query_id"))
        .select(col("neighbor_id").as("vec_id"),
          floor(col("pr") / col("outdeg") * lit(1000000000.0)).as("c"))
        .groupBy("vec_id").agg(sum(col("c")).as("fs"))
      val inMass = coalesce(col("fs"), lit(0L)).cast("double") / lit(1000000000.0)
      val joined = nodes.join(sums, Seq("vec_id"), "left")
      val next = dangling match {
        case None => joined.select(col("vec_id"), (lit(0.15) + lit(0.85) * inMass).as("pr"))
        case Some(dg) =>
          val dm = pr.join(dg, Seq("vec_id"), "left_semi")
            .agg(coalesce(sum(floor(col("pr") * lit(1000000000.0))), lit(0L)).as("dms"))
          joined.crossJoin(broadcast(dm)).select(col("vec_id"), (lit(0.15) + lit(0.85) *
            (inMass + ((col("dms").cast("double") / lit(1000000000.0)) / lit(nD.get)))).as("pr"))
      }
      if (r < PrRounds) {
        next.cache().count()
        pr.unpersist(blocking = false)
      }
      pr = next
    }
    pr.select(col("vec_id"), round(col("pr"), 6).as("pr")).orderBy("vec_id")
  }

  lazy val q94Sql: String = {
    val rounds = (1 to PrRounds).map { r =>
      s"""p$r AS (
         |  SELECT n.vec_id,
         |         0.15 + 0.85 * (CAST(COALESCE(s.fs, 0) AS DOUBLE) / 1000000000.0) AS pr
         |  FROM e n LEFT JOIN (
         |    SELECT g.neighbor_id AS vec_id,
         |           SUM(CAST(floor(p.pr / g.outdeg * 1000000000.0) AS BIGINT)) AS fs
         |    FROM eo g JOIN p${r - 1} p ON g.query_id = p.vec_id
         |    GROUP BY g.neighbor_id) s ON n.vec_id = s.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""$knnCandCtes,
       |edges AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY cos_sim DESC, neighbor_id) AS rn
       |    FROM cand)
       |  WHERE rn <= $AdcK),
       |deg AS (SELECT query_id, COUNT(*) AS outdeg FROM edges GROUP BY query_id),
       |eo AS (SELECT e.query_id, e.neighbor_id, d.outdeg
       |       FROM edges e JOIN deg d USING (query_id)),
       |p0 AS (SELECT vec_id, CAST(1.0 AS DOUBLE) AS pr FROM e),
       |$rounds
       |SELECT vec_id, round(pr, 6) AS pr FROM p$PrRounds ORDER BY vec_id""".stripMargin
  }

  /** q101: PAGERANK SERVED FROM THE PERSISTED GRAPH ARTIFACT — the
    * oracle-gated promotion of the [[knnGraphArtifact]] serving seam (the
    * q74-append precedent applied to the graph family): the entry writes
    * the kNN edge list to parquet via [[knnGraphArtifact]], reads it back,
    * and runs [[q94PageRankFrom]] over the ROUND-TRIPPED rows. The gate is
    * exactly q94's oracle, so any loss/corruption/type drift in the
    * artifact write/read path — or any recompute drift between the served
    * and self-contained shapes — breaks the hash. PlanSpec additionally
    * pins that the served plan contains NO kNN kernel (no coarse argmin,
    * no bounded top-k): the Σ|cell| build cost is paid once at write time,
    * and every served analytic reads n·k 16-byte integer rows. Eager at
    * construction (writes the artifact), like q76/q93. */
  def q101PageRankServed(s: SparkSession, d: String): DataFrame = {
    val root = s"${Artifacts.datasetScratch(d)}/graph"
    knnGraphArtifact(s, d, root, withCells = false)
    q94PageRankFrom(s, d, GraphEdges.read(s, root))
  }

  /** q105: LABEL PROPAGATION SERVED FROM THE PERSISTED GRAPH ARTIFACT —
    * q101's recipe applied to the other graph analytic ([[q84LabelPropFrom]]
    * was previously exercised only by specs): build the edge
    * artifact, read it back, and run label propagation over the
    * ROUND-TRIPPED rows under EXACTLY q84's oracle — any write/read/type
    * drift in the artifact path, or any divergence between served and
    * self-contained propagation, breaks the hash. Writes to its own subpath
    * so a still-lazy q101 frame and this entry can never clobber each
    * other's parquet. PlanSpec pins the no-kernel lineage like q101's. */
  def q105LabelPropServed(s: SparkSession, d: String): DataFrame = {
    val root = s"${Artifacts.datasetScratch(d)}/graph_lp"
    knnGraphArtifact(s, d, root, withCells = false)
    q84LabelPropFrom(s, d, GraphEdges.read(s, root))
  }

  /** q106: THE APPEND GATE — [[knnGraphAppendFrom]]'s whole algebra under
    * the DuckDB oracle (the stretch the round-12 task list asked for): the
    * corpus is split at cut = ⌊max(vec_id)·4/5⌋, the quantizer trains on
    * the BASE side only (freeze — the ivfPqAppend no-retrain contract),
    * the base edge list + probe-cell table build exactly as
    * [[knnGraphArtifact]] persists them, and the held-out tail is folded
    * in through the one-sided append merge. The oracle is the FULL REBUILD
    * over the union under the same base-trained cents — the selection
    * identity top-k(A∪B) = top-k(top-k(A)∪B) is what makes append ≡
    * rebuild, so any drift in the patch merge, the fresh-side union index,
    * the probe-cell table derivation, or the frozen-cents discipline
    * breaks the hash cross-engine. cut and nlist (√base-count, or the env
    * lever) are interpolated into both plans as the same integer
    * arithmetic. Output: the union SCORED edge list. */
  def q106GraphAppend(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val emb = embWithNorm(s, d).filter(col("nrm") > 0).select("vec_id", "e", "nrm")
    val cut = Tables.embeddings(s, d).agg(max(col("vec_id"))).head().getLong(0) * 4 / 5
    val base = emb.filter(col("vec_id") <= cut)
    val nlist = NListOverride.getOrElse(derivedNList(base.count()))
    val cents = knnCents(base, nlist).cache() // tiny; three consumers below
    val cellsTable = probeCellRows(base.select("vec_id", "e"), cents)
    val baseEdges = knnEdgesScoredFrom(s, base, ccRow(cents))
    val fresh = emb.filter(col("vec_id") > cut).select("vec_id", "e")
    knnGraphAppendFrom(s, base, cellsTable, baseEdges, cents, fresh)
      .orderBy("query_id", "neighbor_id")
  }

  lazy val q106Sql: String = {
    val kdist = "list_inner_product(x.e, x.e) - 2 * list_inner_product(x.e, c.ce) + list_inner_product(c.ce, c.ce)"
    val nlistSql = NListOverride.map(_.toString).getOrElse(
      "(SELECT GREATEST(8, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) FROM eb)")
    s"""WITH e AS (
       |  SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
       |  WHERE sqrt(list_inner_product(e, e)) > 0),
       |cutv AS (SELECT CAST(CAST(max(vec_id) AS BIGINT) * 4 / 5 AS BIGINT) AS cut
       |         FROM embeddings),
       |eb AS (SELECT e.vec_id, e.e, e.nrm FROM e, cutv WHERE e.vec_id <= cutv.cut),
       |kseed AS (SELECT vec_id AS cent_id, e AS ce FROM eb WHERE vec_id < $nlistSql),
       |ka0 AS (
       |  SELECT x.vec_id, x.e, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |  FROM eb x CROSS JOIN kseed c),
       |kmx AS (
       |  SELECT cell, i,
       |         SUM(CAST(floor(e[CAST(i + 1 AS INTEGER)] * $CentFixedScale) AS BIGINT)) AS fs,
       |         COUNT(*) AS fn
       |  FROM (SELECT cent_id AS cell, unnest(range(0, len(e))) AS i, e FROM ka0 WHERE rn = 1)
       |  GROUP BY cell, i),
       |kmean AS (
       |  SELECT cell, list((CAST(fs AS DOUBLE) / fn) / $CentFixedScale.0 ORDER BY i) AS ce_new
       |  FROM kmx GROUP BY cell),
       |kcents AS (
       |  SELECT s.cent_id, COALESCE(m.ce_new, s.ce) AS ce
       |  FROM kseed s LEFT JOIN kmean m ON s.cent_id = m.cell),
       |kassign AS (
       |  SELECT vec_id AS neighbor_id, cent_id AS cell FROM (
       |    SELECT x.vec_id, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |    FROM e x CROSS JOIN kcents c)
       |  WHERE rn = 1),
       |kq AS (
       |  SELECT query_id, cell FROM (
       |    SELECT x.vec_id AS query_id, c.cent_id AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |    FROM e x CROSS JOIN kcents c)
       |  WHERE rn <= $IvfNProbe),
       |cand AS (
       |  SELECT q.query_id, i.neighbor_id,
       |         round(list_inner_product(eq.e, en.e) / (eq.nrm * en.nrm), 6) AS cos_sim
       |  FROM kq q
       |  JOIN kassign i USING (cell)
       |  JOIN e eq ON eq.vec_id = q.query_id
       |  JOIN e en ON en.vec_id = i.neighbor_id
       |  WHERE q.query_id <> i.neighbor_id),
       |edges AS (
       |  SELECT query_id, neighbor_id, cos_sim FROM (
       |    SELECT query_id, neighbor_id, cos_sim,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY cos_sim DESC, neighbor_id) AS rn
       |    FROM cand)
       |  WHERE rn <= $AdcK)
       |SELECT query_id,
       |       CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT) AS outdeg,
       |       neighbor_id, cos_sim
       |FROM edges ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** q103: MASS-CONSERVING PAGERANK (dangling-node variant) — q94 drops
    * sink-node mass (uniform-teleport-only), the standard large-graph
    * simplification; on real crawl graphs the dangling mass is NOT
    * negligible at 100 TB, so this entry gates the conserving update:
    * each round the rank mass sitting on OUT-DEGREE-ZERO nodes is summed
    * (fixed-point `floor(pr·10⁹)` BIGINTs — one extra global Σ, a one-row
    * broadcast) and redistributed uniformly, pr' = 0.15 + 0.85·(Σ_in +
    * dangling/n). Because the kNN graph gives every node out-degree k by
    * construction, sinks are INDUCED deterministically (nodes with
    * `vec_id % 7 == 0` contribute no out-edges — the audit shape for
    * crawl-frontier graphs where a fixed fraction of pages have no
    * resolvable outlinks); the dangling SET is still derived from the
    * data (anti join on the edge list), not from the rule.
    *
    * Scale shape = q94 plus one bounded agg per round: the dangling Σ is
    * a partial+final BIGINT sum over an anti-join-derived node subset
    * (id-only rows), broadcast back as one row. OperatorSpec holds the
    * conservation law ‖Σpr − n‖ ≤ n·10⁻⁶ — the invariant the
    * uniform-teleport q94 deliberately gives up on a sink graph. */
  private[graft] val PrSinkMod = 7

  def q103PageRankDangling(s: SparkSession, d: String): DataFrame = {
    val nodes = embWithNorm(s, d).filter(col("nrm") > 0).select("vec_id")
    val eo = knnEdges(s, d).filter(col("query_id") % PrSinkMod =!= 0).cache()
    val dangling = nodes.join(eo.select(col("query_id").as("vec_id")).distinct(),
      Seq("vec_id"), "left_anti").cache()
    pageRankRounds(nodes, eo, Some(dangling))
  }

  lazy val q103Sql: String = {
    val rounds = (1 to PrRounds).map { r =>
      s"""dm$r AS (
         |  SELECT COALESCE(SUM(CAST(floor(p.pr * 1000000000.0) AS BIGINT)), 0) AS dms
         |  FROM p${r - 1} p JOIN dangling dg ON p.vec_id = dg.vec_id),
         |p$r AS (
         |  SELECT n.vec_id,
         |         0.15 + 0.85 * ((CAST(COALESCE(s.fs, 0) AS DOUBLE) / 1000000000.0) +
         |                        ((CAST(dm.dms AS DOUBLE) / 1000000000.0) / nn.n_d)) AS pr
         |  FROM e n CROSS JOIN dm$r dm CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT g.neighbor_id AS vec_id,
         |           SUM(CAST(floor(p.pr / g.outdeg * 1000000000.0) AS BIGINT)) AS fs
         |    FROM eo g JOIN p${r - 1} p ON g.query_id = p.vec_id
         |    GROUP BY g.neighbor_id) s ON n.vec_id = s.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""$knnCandCtes,
       |edges0 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY cos_sim DESC, neighbor_id) AS rn
       |    FROM cand)
       |  WHERE rn <= $AdcK),
       |edges AS (SELECT * FROM edges0 WHERE query_id % $PrSinkMod <> 0),
       |deg AS (SELECT query_id, COUNT(*) AS outdeg FROM edges GROUP BY query_id),
       |eo AS (SELECT e.query_id, e.neighbor_id, d.outdeg
       |       FROM edges e JOIN deg d USING (query_id)),
       |dangling AS (
       |  SELECT vec_id FROM e
       |  WHERE vec_id NOT IN (SELECT DISTINCT query_id FROM edges)),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_d FROM e),
       |p0 AS (SELECT vec_id, CAST(1.0 AS DOUBLE) AS pr FROM e),
       |$rounds
       |SELECT vec_id, round(pr, 6) AS pr FROM p$PrRounds ORDER BY vec_id""".stripMargin
  }

  /** q83: SEMANTIC dedup (SemDeDup shape — cluster-then-threshold): the
    * corpus is coarse-clustered with the q69 fixed-point quantizer, and
    * near-duplicate detection runs WITHIN each cell only — a vector is
    * dropped when an earlier (smaller-id) same-cell vector sits above the
    * cosine threshold. This is the embedding-space analogue of q24's
    * blocked Jaccard: clustering replaces the all-pairs O(n²) cosine scan
    * with Σ|cell|² within-cell comparisons, and nlist is the scale lever
    * (recall vs the global pair set is the documented SemDeDup trade —
    * cross-cell near-dups are invisible by design; q27's SRP-LSH is the
    * high-recall alternative on the same data).
    *
    * Scale shape mirrors q82 (the other corpus×corpus entry): the pair
    * join is a CO-PARTITIONED shuffle-merge equi join on cell (each side
    * shuffles once; a broadcast would be corpus-sized), and the
    * drop-resolution is a partial+final groupBy on the dropped id (min/
    * max/count all map-side combinable), so no full-partition window ever
    * sees the candidate set. Hashability: same fixed-point coarse train as
    * q74/q78/q82, exact IEEE cosine rounded 6dp, integer witness ids.
    * Threshold 0.45, deliberately BELOW q27's 0.57: the sf0.01 gate corpus
    * tops out at pairwise cosine 0.513 (no planted near-dups at that
    * scale), so 0.57 would make the oracle vacuously empty — 0.45 sits
    * under the observed top pairs and keeps actual drop rows inside the
    * hash gate (OperatorSpec asserts non-emptiness at sf0.001). */
  private val SemDedupTau = 0.45

  def q83SemDedup(s: SparkSession, d: String): DataFrame = {
    val emb = embWithNorm(s, d).filter(col("nrm") > 0).select("vec_id", "e", "nrm")
    val assigned = emb.crossJoin(broadcast(ccRow(knnCents(emb, corpusNList(s, d)))))
      .withColumn("cell", expr(s"$coarseArgminExpr.cent_id"))
      .select("vec_id", "e", "nrm", "cell")
    val keep = assigned.select(col("vec_id").as("keep_id"), col("cell"),
      col("e").as("ea"), col("nrm").as("na"))
    val cand = assigned.select(col("vec_id").as("drop_id"), col("cell"),
      col("e").as("eb"), col("nrm").as("nb"))
    keep.hint("shuffle_merge").join(cand.hint("shuffle_merge"), Seq("cell"))
      .filter(col("keep_id") < col("drop_id"))
      .withColumn("cos_sim", round(expr("graft_dot(ea, eb)") / (col("na") * col("nb")), 6))
      .filter(col("cos_sim") >= SemDedupTau)
      .groupBy(col("drop_id"), col("cell"))
      .agg(min("keep_id").as("witness_id"), max("cos_sim").as("max_sim"),
        count(lit(1)).cast("long").as("n_witnesses"))
      .select("drop_id", "cell", "witness_id", "max_sim", "n_witnesses")
      .orderBy("drop_id")
  }

  lazy val q83Sql: String = {
    val kdist = "list_inner_product(x.e, x.e) - 2 * list_inner_product(x.e, c.ce) + list_inner_product(c.ce, c.ce)"
    s"""WITH e AS (
       |  SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
       |  WHERE sqrt(list_inner_product(e, e)) > 0),
       |kseed AS (SELECT vec_id AS cent_id, e AS ce FROM e WHERE vec_id < $corpusNListSql),
       |ka0 AS (
       |  SELECT x.vec_id, x.e, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |  FROM e x CROSS JOIN kseed c),
       |kmx AS (
       |  SELECT cell, i,
       |         SUM(CAST(floor(e[CAST(i + 1 AS INTEGER)] * $CentFixedScale) AS BIGINT)) AS fs,
       |         COUNT(*) AS fn
       |  FROM (SELECT cent_id AS cell, unnest(range(0, len(e))) AS i, e FROM ka0 WHERE rn = 1)
       |  GROUP BY cell, i),
       |kmean AS (
       |  SELECT cell, list((CAST(fs AS DOUBLE) / fn) / $CentFixedScale.0 ORDER BY i) AS ce_new
       |  FROM kmx GROUP BY cell),
       |kcents AS (
       |  SELECT s.cent_id, COALESCE(m.ce_new, s.ce) AS ce
       |  FROM kseed s LEFT JOIN kmean m ON s.cent_id = m.cell),
       |kassign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT x.vec_id, c.cent_id AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |    FROM e x CROSS JOIN kcents c)
       |  WHERE rn = 1)
       |SELECT b.vec_id AS drop_id, kb.cell AS cell,
       |       MIN(a.vec_id) AS witness_id,
       |       MAX(round(list_inner_product(a.e, b.e) / (a.nrm * b.nrm), 6)) AS max_sim,
       |       COUNT(*) AS n_witnesses
       |FROM kassign ka JOIN kassign kb ON ka.cell = kb.cell AND ka.vec_id < kb.vec_id
       |JOIN e a ON a.vec_id = ka.vec_id
       |JOIN e b ON b.vec_id = kb.vec_id
       |WHERE round(list_inner_product(a.e, b.e) / (a.nrm * b.nrm), 6) >= $SemDedupTau
       |GROUP BY b.vec_id, kb.cell
       |ORDER BY drop_id""".stripMargin
  }

  /** The residual-IVF oracle CTE chain ending at `adc(query_id,
    * neighbor_id, adc_fixed)` — shared by q75 (rank + n_cand) and q160
    * (the artifact-served variant minus the tombstoned ids), the
    * ivfPqAdcCtes convention applied to the residual family. */
  private lazy val residualAdcCtes: String = {
    val dist = "list_inner_product(x.se, x.se) - 2 * list_inner_product(x.se, c.ce) + list_inner_product(c.ce, c.ce)"
    val kdist = "list_inner_product(x.e, x.e) - 2 * list_inner_product(x.e, c.ce) + list_inner_product(c.ce, c.ce)"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |kseed AS (SELECT vec_id AS cent_id, e AS ce FROM e WHERE vec_id < $IvfNList),
       |ka0 AS (
       |  SELECT x.vec_id, x.e, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |  FROM e x CROSS JOIN kseed c),
       |kmx AS (
       |  SELECT cell, i,
       |         SUM(CAST(floor(e[CAST(i + 1 AS INTEGER)] * $CentFixedScale) AS BIGINT)) AS fs,
       |         COUNT(*) AS fn
       |  FROM (SELECT cent_id AS cell, unnest(range(0, len(e))) AS i, e FROM ka0 WHERE rn = 1)
       |  GROUP BY cell, i),
       |kmean AS (
       |  SELECT cell, list((CAST(fs AS DOUBLE) / fn) / $CentFixedScale.0 ORDER BY i) AS ce_new
       |  FROM kmx GROUP BY cell),
       |kcents AS (
       |  SELECT s.cent_id, COALESCE(m.ce_new, s.ce) AS ce
       |  FROM kseed s LEFT JOIN kmean m ON s.cent_id = m.cell),
       |kassign AS (
       |  SELECT vec_id, cell, ce, re FROM (
       |    SELECT x.vec_id, c.cent_id AS cell, c.ce,
       |           list_transform(range(0, len(x.e)),
       |             i -> x.e[CAST(i + 1 AS INTEGER)] - c.ce[CAST(i + 1 AS INTEGER)]) AS re,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |    FROM e x CROSS JOIN kcents c)
       |  WHERE rn = 1),
       |rsub AS (
       |  SELECT vec_id, CAST(m AS INTEGER) AS m, cell,
       |         list_slice(re, CAST(m * $PqSub + 1 AS INTEGER), CAST(m * $PqSub + $PqSub AS INTEGER)) AS se
       |  FROM kassign, (SELECT unnest(range(0, $PqM)) AS m)),
       |seeds AS (SELECT m, vec_id AS cent_id, se AS ce FROM rsub WHERE vec_id < $PqK),
       |pa0 AS (
       |  SELECT x.vec_id, x.m, x.se, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m
       |                            ORDER BY $dist, c.cent_id) AS rn
       |  FROM rsub x JOIN seeds c USING (m)),
       |pmx AS (
       |  SELECT m, cent_id AS cell, i,
       |         SUM(CAST(floor(se[CAST(i + 1 AS INTEGER)] * $CentFixedScale) AS BIGINT)) AS fs,
       |         COUNT(*) AS fn
       |  FROM (SELECT m, cent_id, unnest(range(0, len(se))) AS i, se FROM pa0 WHERE rn = 1)
       |  GROUP BY m, cent_id, i),
       |pmean AS (
       |  SELECT m, cell, list((CAST(fs AS DOUBLE) / fn) / $CentFixedScale.0 ORDER BY i) AS ce_new
       |  FROM pmx GROUP BY m, cell),
       |pcents AS (
       |  SELECT s.m, s.cent_id, COALESCE(mn.ce_new, s.ce) AS ce
       |  FROM seeds s LEFT JOIN pmean mn ON s.m = mn.m AND s.cent_id = mn.cell),
       |cd AS (
       |  SELECT vec_id AS neighbor_id, m, cent_id AS code FROM (
       |    SELECT x.vec_id, x.m, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m
       |                              ORDER BY $dist, c.cent_id) AS rn
       |    FROM rsub x JOIN pcents c USING (m))
       |  WHERE rn = 1),
       |kq AS (
       |  SELECT query_id, cell, qre FROM (
       |    SELECT x.vec_id AS query_id, c.cent_id AS cell,
       |           list_transform(range(0, len(x.e)),
       |             i -> x.e[CAST(i + 1 AS INTEGER)] - c.ce[CAST(i + 1 AS INTEGER)]) AS qre,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |    FROM e x CROSS JOIN kcents c WHERE x.vec_id < $AdcQueries)
       |  WHERE rn <= $IvfNProbe),
       |qsub AS (
       |  SELECT query_id, cell, CAST(m AS INTEGER) AS m,
       |         list_slice(qre, CAST(m * $PqSub + 1 AS INTEGER), CAST(m * $PqSub + $PqSub AS INTEGER)) AS se
       |  FROM kq, (SELECT unnest(range(0, $PqM)) AS m)),
       |lut AS (
       |  SELECT x.query_id, x.cell, c.m, c.cent_id,
       |         CAST(floor(($dist) * $CentFixedScale) AS BIGINT) AS term
       |  FROM (SELECT query_id, cell, m, se FROM qsub) x JOIN pcents c USING (m)),
       |adc AS (
       |  SELECT l.query_id, kx.vec_id AS neighbor_id, CAST(SUM(l.term) AS BIGINT) AS adc_fixed
       |  FROM (SELECT vec_id, cell FROM kassign) kx
       |  JOIN cd ON cd.neighbor_id = kx.vec_id
       |  JOIN lut l ON l.cell = kx.cell AND l.m = cd.m AND l.cent_id = cd.code
       |  WHERE l.query_id <> kx.vec_id
       |  GROUP BY l.query_id, kx.vec_id)""".stripMargin
  }

  lazy val q75Sql: String =
    s"""$residualAdcCtes
       |SELECT query_id, neighbor_id, adc_fixed, n_cand, rn FROM (
       |  SELECT query_id, neighbor_id, adc_fixed,
       |         CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_cand,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |                                 ORDER BY adc_fixed, neighbor_id) AS BIGINT) AS rn
       |  FROM adc)
       |WHERE rn <= $AdcK ORDER BY query_id, rn""".stripMargin

  lazy val q160Sql: String =
    s"""$residualAdcCtes
       |SELECT query_id, neighbor_id, adc_fixed, n_cand, rn FROM (
       |  SELECT query_id, neighbor_id, adc_fixed,
       |         CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_cand,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |                                 ORDER BY adc_fixed, neighbor_id) AS BIGINT) AS rn
       |  FROM adc
       |  WHERE NOT (neighbor_id % 7 = 3 AND neighbor_id >= $AdcQueries))
       |WHERE rn <= $AdcK ORDER BY query_id, rn""".stripMargin

  /** q163's oracle: the residual chain with the COLD-CELL MERGE modeled
    * relationally (the merge, unlike the split's 2-means, has no driver-
    * iterative step): occupancy over the full cell universe → the
    * [[MergeColdCells]] (count, id)-smallest cells under the 100% share
    * tier fold → their members reassign by nearest-survivor argmin and
    * re-encode under the FROZEN codebooks → the probe side ranks over the
    * SURVIVING centroids. Unreferenced CTEs of the shared prefix (the
    * pre-merge probe/adc) are never evaluated by DuckDB. */
  lazy val q163Sql: String = {
    val dist = "list_inner_product(x.se, x.se) - 2 * list_inner_product(x.se, c.ce) + list_inner_product(c.ce, c.ce)"
    val kdist = "list_inner_product(x.e, x.e) - 2 * list_inner_product(x.e, c.ce) + list_inner_product(c.ce, c.ce)"
    s"""$residualAdcCtes,
       |occ AS (
       |  SELECT c.cent_id, COUNT(k.vec_id) AS n
       |  FROM kcents c LEFT JOIN kassign k ON k.cell = c.cent_id
       |  GROUP BY c.cent_id),
       |tot AS (SELECT SUM(n) AS t FROM occ),
       |cold AS (
       |  SELECT cent_id FROM occ, tot
       |  WHERE (n * 1000000) // t < 1000000
       |  ORDER BY n, cent_id LIMIT $MergeColdCells),
       |scents AS (
       |  SELECT cent_id, ce FROM kcents
       |  WHERE cent_id NOT IN (SELECT cent_id FROM cold)),
       |moved AS (
       |  SELECT vec_id, cell, re FROM (
       |    SELECT x.vec_id, c.cent_id AS cell,
       |           list_transform(range(0, len(x.e)),
       |             i -> x.e[CAST(i + 1 AS INTEGER)] - c.ce[CAST(i + 1 AS INTEGER)]) AS re,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |    FROM e x CROSS JOIN scents c
       |    WHERE x.vec_id IN (
       |      SELECT vec_id FROM kassign WHERE cell IN (SELECT cent_id FROM cold)))
       |  WHERE rn = 1),
       |mrsub AS (
       |  SELECT vec_id, CAST(m AS INTEGER) AS m,
       |         list_slice(re, CAST(m * $PqSub + 1 AS INTEGER), CAST(m * $PqSub + $PqSub AS INTEGER)) AS se
       |  FROM moved, (SELECT unnest(range(0, $PqM)) AS m)),
       |mcdm AS (
       |  SELECT vec_id AS neighbor_id, m, cent_id AS code FROM (
       |    SELECT x.vec_id, x.m, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m
       |                              ORDER BY $dist, c.cent_id) AS rn
       |    FROM mrsub x JOIN pcents c USING (m))
       |  WHERE rn = 1),
       |mcd AS (
       |  SELECT cd.neighbor_id, cd.m, cd.code FROM cd
       |  JOIN kassign k ON cd.neighbor_id = k.vec_id
       |  WHERE k.cell NOT IN (SELECT cent_id FROM cold)
       |  UNION ALL SELECT neighbor_id, m, code FROM mcdm),
       |massign AS (
       |  SELECT vec_id, cell FROM kassign
       |  WHERE cell NOT IN (SELECT cent_id FROM cold)
       |  UNION ALL SELECT vec_id, cell FROM moved),
       |mkq AS (
       |  SELECT query_id, cell, qre FROM (
       |    SELECT x.vec_id AS query_id, c.cent_id AS cell,
       |           list_transform(range(0, len(x.e)),
       |             i -> x.e[CAST(i + 1 AS INTEGER)] - c.ce[CAST(i + 1 AS INTEGER)]) AS qre,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |    FROM e x CROSS JOIN scents c WHERE x.vec_id < $AdcQueries)
       |  WHERE rn <= $IvfNProbe),
       |mqsub AS (
       |  SELECT query_id, cell, CAST(m AS INTEGER) AS m,
       |         list_slice(qre, CAST(m * $PqSub + 1 AS INTEGER), CAST(m * $PqSub + $PqSub AS INTEGER)) AS se
       |  FROM mkq, (SELECT unnest(range(0, $PqM)) AS m)),
       |mlut AS (
       |  SELECT x.query_id, x.cell, c.m, c.cent_id,
       |         CAST(floor(($dist) * $CentFixedScale) AS BIGINT) AS term
       |  FROM (SELECT query_id, cell, m, se FROM mqsub) x JOIN pcents c USING (m)),
       |madc AS (
       |  SELECT l.query_id, kx.vec_id AS neighbor_id, CAST(SUM(l.term) AS BIGINT) AS adc_fixed
       |  FROM massign kx
       |  JOIN mcd ON mcd.neighbor_id = kx.vec_id
       |  JOIN mlut l ON l.cell = kx.cell AND l.m = mcd.m AND l.cent_id = mcd.code
       |  WHERE l.query_id <> kx.vec_id
       |  GROUP BY l.query_id, kx.vec_id)
       |SELECT query_id, neighbor_id, adc_fixed, n_cand, rn FROM (
       |  SELECT query_id, neighbor_id, adc_fixed,
       |         CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_cand,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |                                 ORDER BY adc_fixed, neighbor_id) AS BIGINT) AS rn
       |  FROM madc)
       |WHERE rn <= $AdcK ORDER BY query_id, rn""".stripMargin
  }

  /** The full IVF-PQ oracle CTE chain (PQ train → codes → LUTs → coarse
    * train → cell assignment → probe cells → ADC candidate distances),
    * ending with `adc(query_id, neighbor_id, adc_fixed)` — shared verbatim
    * by q74 (rank + n_cand), q86 (shortlist + exact refine) and q116 (the
    * ANN-armed hybrid fusion) so the gates can never drift on the
    * candidate pipeline. */
  private[graft] lazy val ivfPqAdcCtes: String = {
    val dist = "list_inner_product(x.se, x.se) - 2 * list_inner_product(x.se, c.ce) + list_inner_product(c.ce, c.ce)"
    val kdist = "list_inner_product(x.e, x.e) - 2 * list_inner_product(x.e, c.ce) + list_inner_product(c.ce, c.ce)"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |sub AS (
       |  SELECT vec_id, CAST(m AS INTEGER) AS m,
       |         list_slice(e, CAST(m * $PqSub + 1 AS INTEGER), CAST(m * $PqSub + $PqSub AS INTEGER)) AS se
       |  FROM e, (SELECT unnest(range(0, $PqM)) AS m)),
       |seeds AS (SELECT m, vec_id AS cent_id, se AS ce FROM sub WHERE vec_id < $PqK),
       |pa0 AS (
       |  SELECT x.vec_id, x.m, x.se, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m
       |                            ORDER BY $dist, c.cent_id) AS rn
       |  FROM sub x JOIN seeds c USING (m)),
       |pmx AS (
       |  SELECT m, cent_id AS cell, i,
       |         SUM(CAST(floor(se[CAST(i + 1 AS INTEGER)] * $CentFixedScale) AS BIGINT)) AS fs,
       |         COUNT(*) AS fn
       |  FROM (SELECT m, cent_id, unnest(range(0, len(se))) AS i, se FROM pa0 WHERE rn = 1)
       |  GROUP BY m, cent_id, i),
       |pmean AS (
       |  SELECT m, cell, list((CAST(fs AS DOUBLE) / fn) / $CentFixedScale.0 ORDER BY i) AS ce_new
       |  FROM pmx GROUP BY m, cell),
       |pcents AS (
       |  SELECT s.m, s.cent_id, COALESCE(mn.ce_new, s.ce) AS ce
       |  FROM seeds s LEFT JOIN pmean mn ON s.m = mn.m AND s.cent_id = mn.cell),
       |cd AS (
       |  SELECT vec_id AS neighbor_id, m, cent_id AS code FROM (
       |    SELECT x.vec_id, x.m, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m
       |                              ORDER BY $dist, c.cent_id) AS rn
       |    FROM sub x JOIN pcents c USING (m))
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT x.vec_id AS query_id, c.m, c.cent_id,
       |         CAST(floor(($dist) * $CentFixedScale) AS BIGINT) AS term
       |  FROM sub x JOIN pcents c USING (m) WHERE x.vec_id < $AdcQueries),
       |kseed AS (SELECT vec_id AS cent_id, e AS ce FROM e WHERE vec_id < $IvfNList),
       |ka0 AS (
       |  SELECT x.vec_id, x.e, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |  FROM e x CROSS JOIN kseed c),
       |kmx AS (
       |  SELECT cell, i,
       |         SUM(CAST(floor(e[CAST(i + 1 AS INTEGER)] * $CentFixedScale) AS BIGINT)) AS fs,
       |         COUNT(*) AS fn
       |  FROM (SELECT cent_id AS cell, unnest(range(0, len(e))) AS i, e FROM ka0 WHERE rn = 1)
       |  GROUP BY cell, i),
       |kmean AS (
       |  SELECT cell, list((CAST(fs AS DOUBLE) / fn) / $CentFixedScale.0 ORDER BY i) AS ce_new
       |  FROM kmx GROUP BY cell),
       |kcents AS (
       |  SELECT s.cent_id, COALESCE(m.ce_new, s.ce) AS ce
       |  FROM kseed s LEFT JOIN kmean m ON s.cent_id = m.cell),
       |kassign AS (
       |  SELECT vec_id AS neighbor_id, cent_id AS cell FROM (
       |    SELECT x.vec_id, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |    FROM e x CROSS JOIN kcents c)
       |  WHERE rn = 1),
       |kq AS (
       |  SELECT query_id, cent_id AS cell FROM (
       |    SELECT x.vec_id AS query_id, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |    FROM e x CROSS JOIN kcents c WHERE x.vec_id < $AdcQueries)
       |  WHERE rn <= $IvfNProbe),
       |adc AS (
       |  SELECT q.query_id, kx.neighbor_id, CAST(SUM(l.term) AS BIGINT) AS adc_fixed
       |  FROM kassign kx
       |  JOIN kq q ON q.cell = kx.cell AND q.query_id <> kx.neighbor_id
       |  JOIN cd ON cd.neighbor_id = kx.neighbor_id
       |  JOIN lut l ON l.query_id = q.query_id AND l.m = cd.m AND l.cent_id = cd.code
       |  GROUP BY q.query_id, kx.neighbor_id)""".stripMargin
  }

  lazy val q74Sql: String =
    s"""$ivfPqAdcCtes
       |SELECT query_id, neighbor_id, adc_fixed, n_cand, rn FROM (
       |  SELECT query_id, neighbor_id, adc_fixed,
       |         CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_cand,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |                                 ORDER BY adc_fixed, neighbor_id) AS BIGINT) AS rn
       |  FROM adc)
       |WHERE rn <= $AdcK ORDER BY query_id, rn""".stripMargin

  /** q110: FILTERED ANN — metadata predicate + vector search in ONE
    * operator, the RAG-serving primitive ("retrieve the top-k most
    * similar documents FROM SOURCE X / within license Y / labeled Z"):
    * q74's full IVF-PQ pipeline with the predicate pushed INTO the code
    * table via a left-semi join BEFORE candidate generation — the
    * filtered-IVF design. Pre-filter semantics (not post-rank): k results
    * are the best among MATCHING vectors, so selective predicates still
    * return k rows where a post-filter of an unfiltered top-k would
    * return ~k·selectivity (the classic filtered-search bug), and n_cand
    * counts matching candidates only.
    *
    * Scale shape: the predicate lands on a 9-byte-scale code-table row
    * (never an embedding); the semi join keys vec_id — broadcast while
    * the predicate subset is small, shuffle at scale — and everything
    * downstream is q74's audited serving plan unchanged. The oracle is
    * q74's CTE chain with the same predicate applied to the candidate
    * rows before ranking — identical row set by construction. */
  def q110FilteredAnn(s: SparkSession, d: String): DataFrame = {
    val (emb, subs, seedsPq) = pqParts(s, d)
    val (cents, books, codeTable) = ivfPqIndex(emb, subs, seedsPq)
    val keep = Tables.spread(s, Tables.embeddings(s, d), "vec_id")
      .filter(col("label") % 3 === 0).select("vec_id")
    ivfPqSearchFrom(cents, books,
      codeTable.join(keep, Seq("vec_id"), "left_semi"),
      emb.filter(col("vec_id") < AdcQueries).select("vec_id", "e"))
  }

  lazy val q110Sql: String =
    s"""$ivfPqAdcCtes
       |SELECT query_id, neighbor_id, adc_fixed, n_cand, rn FROM (
       |  SELECT query_id, neighbor_id, adc_fixed,
       |         CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_cand,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |                                 ORDER BY adc_fixed, neighbor_id) AS BIGINT) AS rn
       |  FROM adc
       |  WHERE neighbor_id IN (SELECT vec_id FROM embeddings WHERE label % 3 = 0))
       |WHERE rn <= $AdcK ORDER BY query_id, rn""".stripMargin

  /** q127: TOMBSTONE DELETES for the ANN index — the vector half of the
    * q126 delete contract, and the missing CRUD piece next to the append
    * family: FAISS `remove_ids` / Lucene live-docs semantics under the
    * FROZEN quantizer (centroids/codebooks are NEVER retrained by a
    * delete — the [[ivfPqAppend]] no-retrain contract's mirror; a delete
    * that retrained would change every existing code). The persisted
    * artifacts (cents/books/codes) stay byte-immutable; the delete is one
    * tiny tombstone file under the artifact root, and serving anti-joins
    * the 9-byte code table against the tombstone union BEFORE candidate
    * generation — q110's pre-filter seam with a negative predicate, so
    * k live results come back (not ~k·(1−delete rate)) and `n_cand`
    * counts live candidates only. Embeddings are never touched at delete
    * or serve time.
    *
    * The oracle pins exactly these semantics: q74's full CTE chain (the
    * frozen-quantizer train included) with the delete predicate applied
    * before ranking. Note the contrast with q126: the lexical delete is
    * rebuild-equivalent (exact additive algebra); the ANN delete is
    * deliberately NOT (a rebuild would retrain on survivors) — frozen-
    * quantizer live-docs IS the specified behavior, so the oracle states
    * it, not a rebuild. Eager at construction (writes the artifacts +
    * tombstone), the q101/q113 convention. */
  def q127AnnTombstoneServed(s: SparkSession, d: String): DataFrame = {
    val root = s"${Artifacts.datasetScratch(d)}/ivftomb"
    val (emb, subs, seedsPq) = pqParts(s, d)
    val (cents, books, codeTable) = ivfPqIndex(emb, subs, seedsPq)
    writeIvfArtifacts(root, cents, books, codeTable,
      "t0" -> emb.filter(col("vec_id") % 7 === 3 && col("vec_id") >= AdcQueries)
        .select("vec_id"))
    IvfCodec.FlatPq.searchRoot(s, root,
      emb.filter(col("vec_id") < AdcQueries).select("vec_id", "e"), IvfNProbe, AdcK)
  }

  /** Physical reclamation for a tombstoned IVF-PQ artifact — the vector
    * analogue of [[graft.ops.Retrieval.lexIndexCompact]]'s delete
    * handling: copy-on-write to a NEW root with deleted rows dropped from
    * the code table and NO tombstones dir (cents/books are FILE-copied
    * unchanged — the frozen-quantizer contract means compaction never
    * retrains either, so no Spark job rewrites them). After compaction a plain serve (no delete logic) is
    * identical to the tombstoned serve of the old root: the anti-join was
    * the only thing the tombstone changed. Merely copying segments while
    * dropping the tombstones would RESURRECT deleted vectors — same
    * failure mode the lexical compactor guards. */
  def ivfCodesCompact(s: SparkSession, root: String, outRoot: String): Unit = {
    require(outRoot != root,
      "compaction is copy-on-write: outRoot must be a new artifact root")
    Artifacts.copyFrozen(s, root, outRoot, IvfCents.name, IvfBooks.name,
      Artifacts.ResidualMarker)
    IvfCodes.write(liveCodes(s, root), outRoot)
  }

  /** The delete set of an IVF-PQ root ([[Artifacts.VecTombstones]]),
    * shared by serving (q127/q136/q138), compaction, and the split. */
  private[graft] def tombstoneUnion(s: SparkSession, root: String): Option[DataFrame] =
    Artifacts.VecTombstones.union(s, root)

  /** The code table of an IVF-PQ root minus its tombstoned vectors. */
  private[graft] def liveCodes(s: SparkSession, root: String): DataFrame = {
    val codes = IvfCodes.read(s, root)
    tombstoneUnion(s, root)
      .map(del => codes.join(del, Seq("vec_id"), "left_anti")).getOrElse(codes)
  }

  /** Carry `root`'s delete set into `outRoot` as ONE deduplicated
    * tombstone file — the split/merge rewrites' aux copy. */
  private def copyTombstones(s: SparkSession, root: String, outRoot: String): Unit =
    tombstoneUnion(s, root)
      .foreach(del => Artifacts.VecTombstones.write(del.distinct(), outRoot, "t0"))

  /** Code rows per cell over the FULL cell universe: every `cent_id` with
    * its code-row count, 0 for an empty cell (a centroid with no code rows
    * is the q132 "empty cells silently waste nlist" finding — it must show
    * at 0 or a merge could never reclaim it). One aggregate over the codes
    * and the cents together; nlist rows come to the driver (index
    * metadata). A code row routed to no centroid counts nowhere. */
  private def cellOccupancy(s: SparkSession, root: String): Seq[(Long, Long)] =
    IvfCodes.read(s, root)
      .select(col("cell").as("cent_id"), lit(1L).as("n"), lit(false).as("is_cent"))
      .unionByName(IvfCents.read(s, root)
        .select(col("cent_id"), lit(0L).as("n"), lit(true).as("is_cent")))
      .groupBy("cent_id").agg(sum("n").as("n"), max("is_cent").as("is_cent"))
      .filter(col("is_cent")).select("cent_id", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** The split's hot pick: the `m` largest cells of `occ` by (count desc,
    * id); an empty cell is never split. */
  private def hottest(occ: Seq[(Long, Long)], m: Int): Seq[Long] =
    occ.filter(_._2 > 0L).sortBy { case (c, n) => (-n, c) }.take(m).map(_._1)

  /** The merge's cold pick: the `m` smallest cells of `occ` by (count,
    * id), empty cells first. */
  private def coldest(occ: Seq[(Long, Long)], m: Int): Seq[Long] =
    occ.sortBy { case (c, n) => (n, c) }.take(m).map(_._1)

  /** THE REBALANCE REWRITE — one body for the split and the merge, both PQ
    * codecs, the direct entries and the policy steps — copy-on-write from
    * `root` into `outRoot`. The `picked` cells' code rows join `emb` once
    * into cached (cell, vec_id, e) members (only picked-cell members are
    * ever read); `route` maps the members and the centroids that keep
    * their rows to the members' new (vec_id, cell, e) routing, the
    * centroid rows that replace the picked cells', and its own result. The
    * codec rewrites the rerouted rows ([[PqCodec.reroute]]): a flat code
    * only changes `cell`, a residual code re-encodes. Every other code and
    * centroid row is carried byte-identical, books and the variant marker
    * are copied as files, and tombstones transfer as their deduplicated
    * union (a delete is vec_id keyed, independent of routing). Picked
    * cells that hold no code rows are pure metadata: no member is read.
    * `occ` is the caller's [[cellOccupancy]] of `root`; `kind` names the
    * picked cells in the coverage error. */
  private def rebalance[A](s: SparkSession, codec: PqCodec, root: String, outRoot: String,
      emb: DataFrame, kind: String, picked: Seq[Long], occ: Seq[(Long, Long)])(
      route: (DataFrame, DataFrame) => (DataFrame, Seq[(Long, Seq[Double])], A)): A = {
    require(outRoot != root,
      "a cell rebalance is copy-on-write: outRoot must be a new artifact root")
    import s.implicits._
    val cents = IvfCents.read(s, root)
    val codes = IvfCodes.read(s, root)
    val rows = codes.filter(col("cell").isin(picked: _*))
    val pickedRows = occ.collect { case (c, n) if picked.contains(c) => n }.sum
    val members = rows.select("vec_id", "cell")
      .join(emb.select("vec_id", "e"), Seq("vec_id"))
      .select("cell", "vec_id", "e")
    if (pickedRows > 0L) {
      members.cache()
      // LOUD coverage check: routing needs the raw vector of EVERY picked
      // row — an emb missing appended vec_ids would silently DROP their
      // code rows from the rewritten artifact (the inner join above), and
      // an emb with duplicate vec_ids would duplicate them. BOTH counts
      // must match: total-only would let a missing id and a duplicated id
      // cancel out (offsetting errors)
      val cov = members.agg(count(lit(1)).as("n"),
        countDistinct(col("vec_id")).as("d")).head()
      require(cov.getLong(0) == pickedRows && cov.getLong(1) == pickedRows,
        s"emb must cover every $kind-cell vec_id exactly once: joined ${cov.getLong(0)} " +
          s"rows / ${cov.getLong(1)} distinct of $pickedRows $kind rows")
    }
    val kept = cents.filter(!col("cent_id").isin(picked: _*))
    val (moved, newCents, result) = route(members, kept)
    val centsOut = kept.unionByName(newCents.toDF("cent_id", "ce"))
    val rerouted = if (pickedRows == 0L) rows
      else codec.reroute(rows, moved, centsOut, IvfBooks.read(s, root))
    IvfCents.write(centsOut, outRoot)
    IvfCodes.write(codes.filter(!col("cell").isin(picked: _*)).unionByName(rerouted), outRoot)
    Artifacts.copyFrozen(s, root, outRoot, IvfBooks.name, Artifacts.ResidualMarker)
    copyTombstones(s, root, outRoot)
    // released only after the codes write, which reads the cached members
    members.unpersist(false)
    result
  }

  /** ARTIFACT-LEVEL HOT-CELL SPLIT — q141's maintenance action applied to
    * the persisted q74-family index (cents/books/codes under `root`),
    * copy-on-write into `outRoot`: the `splitCells` largest cells split by
    * the SAME local fixed-point 2-means ([[localTwoMeans]], shared kernel).
    * The root's codec ([[IvfCodec.of]]) rewrites the moved rows: the flat
    * variant keeps its codes payload byte-identical and updates `cell`
    * (PQ codes of raw vectors are independent of routing); the residual
    * variant (q75) re-encodes EVERY member of a split cell under the
    * frozen books (sub-0 too: its parent centroid moved), and the staged
    * root is audited before the call returns ([[PqCodec.audit]]). Books
    * stay byte-identical.
    *
    * The split needs the hot cells' RAW vectors (codes are lossy): `emb`
    * supplies them via one join against the hot routing rows — only
    * hot-cell members are ever read, ≈ splitCells·n/nlist vectors.
    *
    * New cell ids start past the largest cell id. Sub-cell 0 keeps the
    * parent id with its UPDATED centroid (routing quality for future
    * appends); a sub-cell that received no members writes no centroid row
    * — covering both the single-member hot cell and the degenerate
    * multi-member cell whose 2-means landed everything in one half (no
    * empty cell is ever written).
    *
    * The exactness gate (OperatorSpec): FULL-PROBE serving from the split
    * artifact ≡ full-probe serving pre-split bit-for-bit — a split changes
    * only WHERE rows are routed, never what the index contains — plus
    * per-split mass conservation and untouched-row byte-identity. At
    * normal nprobe the split is the standard IVF approximation trade:
    * finer cells, smaller probed candidate sets. */
  def ivfCellSplit(s: SparkSession, root: String, outRoot: String,
      emb: DataFrame, splitCells: Int = SplitHotCells): Unit = {
    val codec = IvfCodec.of(s, root)
    val occ = cellOccupancy(s, root)
    splitHot(s, codec, root, outRoot, emb, hottest(occ, splitCells), occ)
    codec.audit(s, outRoot, emb, "split")
  }

  /** The split's routing over [[rebalance]]: each hot cell's members go
    * to the 2-means half they landed in. Returns per-hot-cell (kept,
    * moved) counts for the policy's no-progress guard. */
  private def splitHot(s: SparkSession, codec: PqCodec, root: String, outRoot: String,
      emb: DataFrame, hotCells: Seq[Long], occ: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val maxId = occ.map(_._1).max
    val newIdOf = hotCells.zipWithIndex
      .map { case (c, i) => c -> (maxId + 1 + i) }.toMap
    rebalance(s, codec, root, outRoot, emb, "hot", hotCells, occ) { (members, _) =>
      val (finalLocal, updCs) = localTwoMeans(members, hotCells)
      // per-hot-cell (kept, moved) counts — a tiny agg over the CACHED hot
      // members (never the corpus): gates which centroid rows are written
      // below, and the policy's progress test reads them instead of
      // re-scanning the corpus-sized staged codes table
      val subCountRows = finalLocal.groupBy("cell", "sub").count().collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val newIdExpr = hotCells.foldLeft(lit(-1L)) { (acc, c) =>
        when(col("cell") === c, lit(newIdOf(c))).otherwise(acc) }
      val moved = finalLocal.select(col("vec_id"),
        when(col("sub") === 0, col("cell")).otherwise(newIdExpr).as("cell"), col("e"))
      // parent id ← sub-0 centroid, new id ← sub-1 centroid — each written
      // ONLY when that half received ≥ 1 member. The 2-means can land a
      // degenerate multi-member cell entirely in one half (identical
      // vectors, coinciding seeds); writing the other half's centroid
      // anyway would land an EMPTY cell in cents — harmless for serving
      // but one dead centroid accrued per partial landing
      val updRows: Seq[(Long, Seq[Double])] = hotCells.flatMap { c =>
        updCs(c).collect { case (sub, ce) if subCountRows.getOrElse((c, sub), 0L) > 0 =>
          (if (sub == 0L) c else newIdOf(c), ce) } }
      (moved, updRows, hotCells.map { c =>
        c -> ((subCountRows.getOrElse((c, 0L), 0L), subCountRows.getOrElse((c, 1L), 0L)))
      }.toMap)
    }
  }

  /** SHARE-TIERED SPLIT STEP of [[maybeMaintainIvfVersioned]] — the
    * q132→q141 audit→maintain loop: the occupancy check is one nlist-row
    * agg over `cur`; at max cell share ≤ `maxSharePpm` (ppm of corpus
    * rows, the q132 unit) it is a no-op. Past the tier it splits the
    * over-tier cells copy-on-write into `out`. Occupancy counts PHYSICAL
    * code rows, which is why the window compacts first. Returns true iff
    * a split was staged. */
  private def splitStep(s: SparkSession, base: String, cur: String, out: String,
      emb: DataFrame, maxSharePpm: Long): Boolean = {
    // a cell's share n·10⁶/total never exceeds 10⁶, so at the 100% tier
    // no cell can be over it: skip the corpus-sized occupancy scan
    if (maxSharePpm >= 1000000L) return false
    val occ = cellOccupancy(s, cur)
    val total = occ.map(_._2).sum
    if (total == 0L) return false
    // hot = the top-m cells AMONG THOSE OVER THE TIER (not the global
    // top-m): the policy exists to shrink over-tier lists — splitting an
    // under-tier neighbor because the over-tier one is irreducible would
    // grow the cell count forever without touching the problem
    val hotCells = hottest(
      occ.filter { case (_, n) => n * 1000000L / total > maxSharePpm }, SplitHotCells)
    if (hotCells.isEmpty) return false
    // REFUSAL MEMO (beside the pointer — it outlives versions): an
    // irreducible hot set (identical-vector lists — the 2-means can't
    // separate them) would otherwise re-run the full split attempt
    // (2-means + corpus-sized codes rewrite) on EVERY window while the tier
    // stays exceeded. The memo records the refused (cell, count)
    // signature; while occupancy is unchanged the attempt is skipped for
    // free. Appends and compactions change a PHYSICAL count and re-arm the
    // attempt; a delete alone only writes a tombstone file, so deletes
    // re-arm only once compacted. That staleness is benign: a tombstoned
    // identical-vector list is still irreducible until its rows actually
    // leave the codes table.
    val memo = s"$base/$SplitRefusedMemo"
    val sig = hotCells.map(c => s"$c:${occ.toMap.apply(c)}")
    if (Artifacts.readLines(s, memo) == sig) return false
    // the root's codec reroutes the members (a residual root re-encodes
    // them), and audits the staged version before it can publish
    val codec = IvfCodec.of(s, cur)
    val subCounts = splitHot(s, codec, cur, out, emb, hotCells, occ)
    // NO-PROGRESS GUARD, per split cell: a cell actually split iff BOTH
    // halves are non-empty (all-in-one-half means the 2-means was
    // degenerate for that cell — e.g. identical vectors, coinciding
    // seeds). If NO hot cell split, publishing would change nothing and
    // the tier would re-fire forever; refuse and memoize. A partial split
    // (some cells real, some degenerate) lands: occupancy changes, so the
    // next call re-evaluates honestly.
    if (!subCounts.values.exists { case (keep, move) => keep > 0 && move > 0 }) {
      Artifacts.writeLines(s, memo, sig)
      return false
    }
    codec.audit(s, out, emb, "split")
    Artifacts.delete(s, memo)
    true
  }

  /** Name of the split step's refusal memo, beside the base's pointer. */
  private val SplitRefusedMemo = "_SPLIT_REFUSED"

  /** q142: THE SPLIT ARTIFACT SERVED, ORACLE-GATED — the catalog face of
    * [[ivfCellSplit]]: build the q74-family artifacts, split the
    * hot cells copy-on-write, then serve top-k from the SPLIT artifact at
    * FULL PROBE (nprobe = post-split cell count). Full-probe IVF serving
    * degenerates to the flat ADC scan by construction — every cell's rows
    * are candidates — so the entry closes under EXACTLY q73's oracle, and
    * the gate catches any corruption the split could introduce anywhere in
    * the rewrite (a moved row routed to a missing cell never becomes a
    * candidate; a mutated codes payload or codebook changes adc_fixed; a
    * dropped/duplicated row changes the top-k) while staying DuckDB-
    * expressible without re-deriving the 2-means in SQL. Normal-nprobe
    * serving from the split index is the production path (finer cells →
    * smaller probed candidate sets — the point of splitting); its
    * approximation shift is the standard IVF trade and is exercised by the
    * OperatorSpec full-probe/mass/byte-identity gates. Eager writes, the
    * q127 convention; the probe side is the eval-sized query batch. */
  def q142SplitServed(s: SparkSession, d: String): DataFrame =
    rebalancedFullProbe(s, d, s"${Artifacts.datasetScratch(d)}/ivfsplit", "split")(
      ivfCellSplit(s, _, _, _))

  /** q142/q144's shape: the q74-family artifacts built at `root`,
    * rebalanced copy-on-write into `root/out`, served at FULL probe
    * (PlanSpec pins the `out` dir names). */
  private def rebalancedFullProbe(s: SparkSession, d: String, root: String, out: String)(
      rebalance: (String, String, DataFrame) => Unit): DataFrame = {
    val (emb, subs, seedsPq) = pqParts(s, d)
    val (cents, books, codeTable) = ivfPqIndex(emb, subs, seedsPq)
    writeIvfArtifacts(root, cents, books, codeTable)
    rebalance(root, s"$root/$out", emb.select("vec_id", "e"))
    IvfCodec.FlatPq.searchRoot(s, s"$root/$out",
      emb.filter(col("vec_id") < AdcQueries).select("vec_id", "e"),
      nprobe = IvfCents.read(s, s"$root/$out").count().toInt, AdcK)
      .select("query_id", "neighbor_id", "adc_fixed", "rn")
  }

  /** How many of the coldest cells q144 merges (the bottom-m mirror of
    * [[SplitHotCells]] — deterministic, always exercises the machinery;
    * the production knob is [[maybeMaintainIvfVersioned]]'s floor tier). */
  private val MergeColdCells = 2

  /** ARTIFACT-LEVEL UNDERFULL-CELL MERGE — the INVERSE of the q141/q142
    * split, completing the maintenance algebra (split alone grows nlist
    * monotonically under churn: q132 reports empty/underfull cells, the
    * split adds ids, nothing reclaimed the tail until this). The
    * `mergeCells` SMALLEST cells — empty cells first: a centroid with no
    * code rows is pure dead nlist — fold into their members' NEAREST
    * SURVIVING centroid, copy-on-write into `outRoot`: one assign pass
    * ([[assignCells]], the gated q69 kernel) for the MOVED members only,
    * books byte-identical, untouched cells byte-immutable. Merged
    * centroids leave `cents` — nlist actually shrinks. The root's codec
    * ([[IvfCodec.of]]) rewrites the moved rows, as in [[ivfCellSplit]]: a
    * flat code keeps its payload, a residual code re-encodes against the
    * member's new centroid (survivors' centroids are untouched, so only
    * moved members change) and the staged root is audited. Returns the
    * merged cells.
    *
    * The merge needs the moved members' RAW vectors (codes are lossy, and
    * nearest-survivor is a per-MEMBER assignment — routing each vector by
    * its own geometry, not by its dead cell's centroid): `emb` supplies
    * them via one equi-join against the cold routing rows — only cold-cell
    * members are ever read (≈ mergeCells·n/nlist vectors, usually far
    * fewer: cold cells are cold).
    *
    * Exactness gate (the q142 argument in reverse): FULL-PROBE serving
    * from the merged artifact ≡ full-probe pre-merge bit-for-bit — a merge
    * changes only WHERE rows are routed, never what the index contains.
    * At normal nprobe it is the standard coarse-quantization trade in the
    * opposite direction (coarser where the corpus is thin — exactly where
    * the probe budget was being wasted on near-empty lists). */
  def ivfCellMerge(s: SparkSession, root: String, outRoot: String,
      emb: DataFrame, mergeCells: Int = MergeColdCells): Seq[Long] = {
    val codec = IvfCodec.of(s, root)
    val occ = cellOccupancy(s, root)
    val cold = coldest(occ, mergeCells)
    mergeCold(s, codec, root, outRoot, emb, cold, occ)
    codec.audit(s, outRoot, emb, "merge")
    cold
  }

  /** The merge's routing over [[rebalance]]: each cold member goes to its
    * nearest surviving centroid. */
  private def mergeCold(s: SparkSession, codec: PqCodec, root: String, outRoot: String,
      emb: DataFrame, coldCells: Seq[Long], occ: Seq[(Long, Long)]): Unit = {
    require(occ.exists { case (c, _) => !coldCells.contains(c) },
      "cell merge needs >= 1 surviving cell: refusing to fold the whole index")
    rebalance(s, codec, root, outRoot, emb, "cold", coldCells, occ) { (members, survivors) =>
      (assignCells(members, survivors).select("vec_id", "cell", "e"), Nil, ()) }
  }

  /** SHARE-TIERED MERGE STEP of [[maybeMaintainIvfVersioned]] — the
    * reclamation half of the q132→q141 audit→maintain loop: cells whose
    * share of `cur`'s rows falls below `minSharePpm` (EMPTY cells — share
    * 0 — first) fold into their nearest surviving centroids, coldest-first,
    * at most [[MergeColdCells]] per window (bounded maintenance slices).
    * No refusal memo is needed (the split's degenerate case has no
    * analogue: a merge of a nonempty cold set always changes occupancy,
    * and an all-cold index is refused below). Returns true iff a merge was
    * staged. */
  private def mergeStep(s: SparkSession, cur: String, out: String,
      emb: DataFrame, minSharePpm: Long): Boolean = {
    val occ = cellOccupancy(s, cur)
    val total = occ.map(_._2).sum
    if (total == 0L) return false
    val cold = coldest(
      occ.filter { case (_, n) => n * 1000000L / total < minSharePpm }, MergeColdCells)
    if (cold.isEmpty) return false
    if (cold.size == occ.size) return false // all-cold: merge is the wrong lever
    val codec = IvfCodec.of(s, cur)
    mergeCold(s, codec, cur, out, emb, cold, occ)
    codec.audit(s, out, emb, "merge")
    true
  }

  /** q144: THE MERGE ARTIFACT SERVED, ORACLE-GATED — the catalog face of
    * [[ivfCellMerge]], closing the index lifecycle's algebra
    * (append q70 / delete q127 / compact / split q142 / MERGE): build the
    * q74-family artifacts, fold the [[MergeColdCells]] coldest cells into
    * their nearest survivors copy-on-write, then serve top-k from the
    * MERGED artifact at FULL PROBE. The q142 argument verbatim, in
    * reverse: full-probe IVF serving degenerates to the flat ADC scan, so
    * the entry closes under EXACTLY q73's oracle and catches any
    * corruption the merge could introduce (a moved row routed to a dropped
    * centroid never becomes a candidate; a dropped/duplicated row or a
    * mutated payload changes the top-k). Production probing stays
    * nprobe-bounded over the SHRUNK cell set — the point of merging.
    * Eager writes, the q127/q142 convention. */
  def q144MergeServed(s: SparkSession, d: String): DataFrame =
    rebalancedFullProbe(s, d, s"${Artifacts.datasetScratch(d)}/ivfmerge", "merged") {
      (root, out, emb) => ivfCellMerge(s, root, out, emb); () }

  // --------------------------------------------------------------- q158
  /** q158: FLEET-FORM VERSIONED IVF MAINTENANCE, ORACLE-GATED — the
    * vector mirror of q148's lexical lifecycle, closing the round-16 gap
    * (the [[maybeMaintainIvfVersioned]] wrapper was spec-gated only):
    * build the q74-family artifacts INTO a version dir, plant the q127
    * delete set as tombstones, publish through the [[RootPointer]]
    * protocol, then run the versioned maintenance window — resolve,
    * stage the compaction as the next version (two tombstone files over
    * the smallest tier force the compactor to ACT, so a publish always
    * happens; the split tier stays live), publish, retire the old root
    * after grace — and serve top-k from whatever [[RootPointer.resolve]]
    * returns.
    *
    * Oracle: q127's EXACTLY — compaction must make the plain serve (no
    * delete logic anywhere on the serve path) IDENTICAL to the old
    * root's tombstoned serve at the SAME nprobe, so the gate catches
    * resurrection (a compaction that copies segments but drops
    * tombstones), any staging/publish corruption, and a resolve that lands
    * on an incomplete root. The split tier is deliberately set AT 100% (a cell cannot strictly exceed it)
    * (geometry-PRESERVING window): q127's oracle models nprobe-bounded
    * probing over the original k-means cells, so only the
    * routing-invariant policy (compaction) may act here — the
    * geometry-changing policies have their own full-probe gates
    * (q142/q144), and OperatorSpec covers their composition. OperatorSpec
    * adds the mid-window reader claim: a frame planned against the
    * PRE-maintenance resolve still serves identical rows AFTER
    * maintenance publishes and retirement runs (published roots are
    * immutable; grace keeps them). */
  def q158IvfVersionedServed(s: SparkSession, d: String): DataFrame = {
    val base = s"${Artifacts.datasetScratch(d)}/ivfver"
    val (emb, subs, seedsPq) = pqParts(s, d)
    val (cents, books, codeTable) = ivfPqIndex(emb, subs, seedsPq)
    val v = RootPointer.nextVersion(s, base)
    // two tombstone batches (the q113 ingest shape) so the count exceeds
    // the smallest legal compaction tier and the window deterministically ACTs
    val dels = emb.filter(col("vec_id") % 7 === 3 && col("vec_id") >= AdcQueries)
      .select("vec_id")
    writeIvfArtifacts(s"$base/$v", cents, books, codeTable,
      "t0" -> dels.filter(col("vec_id") % 2 === 0),
      "t1" -> dels.filter(col("vec_id") % 2 =!= 0))
    RootPointer.publish(s, base, v)
    maybeMaintainIvfVersioned(s, base, emb.select("vec_id", "e"),
      maxTombstones = 1, maxSharePpm = 1000000L)
    RootPointer.retireOld(s, base, keep = 2)
    IvfCodec.FlatPq.searchRoot(s, RootPointer.resolve(s, base),
      emb.filter(col("vec_id") < AdcQueries).select("vec_id", "e"), IvfNProbe, AdcK)
  }

  /** VERSIONED IVF MAINTENANCE — the combined pass a long-running index
    * runs, as ONE [[RootPointer.maintain]] window over `base`, so a fleet
    * of readers never coordinates with (or even notices) it. Three
    * chained copy-on-write steps, each reading the previous acting step's
    * version:
    *  1. compaction ([[ivfCodesCompact]]) when the published root carries
    *     more than `maxTombstones` tombstone files — reclamation BEFORE
    *     rebalance, so the split's and merge's occupancy counts LIVE rows
    *     (uncompacted tombstones inflate a cell's physical share: a
    *     hot-looking dead list could split, a mostly-dead list could dodge
    *     its merge);
    *  2. the split ([[splitStep]]) past the `maxSharePpm` ceiling;
    *  3. the merge ([[mergeStep]]) below the `minSharePpm` floor (0 = off).
    * A split never produces an under-floor half the same pass folds back
    * (the 2-means halves a cell ABOVE the split tier, and policy tiers
    * satisfy floor ≪ ceiling/2 — the OperatorSpec composition case pins a
    * planted skew surviving the pass). Compaction and appends are exact on
    * a residual root; its split and merge take the re-encoding cores and
    * audit the staged version before it can publish. The last acting
    * step's version publishes; published roots stay immutable, and
    * [[RootPointer.retireOld]] reclaims them after the caller's grace
    * window. Call it between ingest batches (one writer per base).
    * Returns (compacted, split, merged). */
  def maybeMaintainIvfVersioned(s: SparkSession, base: String, emb: DataFrame,
      maxTombstones: Int, maxSharePpm: Long,
      minSharePpm: Long = 0L): (Boolean, Boolean, Boolean) = {
    require(maxTombstones >= 1, s"maxTombstones must be >= 1, got $maxTombstones")
    require(maxSharePpm >= 1 && maxSharePpm <= 1000000,
      s"maxSharePpm must be in [1, 1000000], got $maxSharePpm")
    require(minSharePpm >= 0 && minSharePpm <= 1000000,
      s"minSharePpm must be in [0, 1000000], got $minSharePpm")
    val Seq(compacted, split, merged) = RootPointer.maintain(s, base)(
      (cur, out) => Artifacts.VecTombstones.count(s, cur) > maxTombstones &&
        { ivfCodesCompact(s, cur, out); true },
      (cur, out) => splitStep(s, base, cur, out, emb, maxSharePpm),
      (cur, out) => minSharePpm > 0L && mergeStep(s, cur, out, emb, minSharePpm))
    (compacted, split, merged)
  }

  lazy val q127Sql: String =
    s"""$ivfPqAdcCtes
       |SELECT query_id, neighbor_id, adc_fixed, n_cand, rn FROM (
       |  SELECT query_id, neighbor_id, adc_fixed,
       |         CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_cand,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |                                 ORDER BY adc_fixed, neighbor_id) AS BIGINT) AS rn
       |  FROM adc
       |  WHERE NOT (neighbor_id % 7 = 3 AND neighbor_id >= $AdcQueries))
       |WHERE rn <= $AdcK ORDER BY query_id, rn""".stripMargin

  lazy val q86Sql: String =
    s"""$ivfPqAdcCtes,
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY adc_fixed, neighbor_id) AS arn
       |    FROM adc)
       |  WHERE arn <= $RefineR),
       |refine AS (
       |  SELECT s.query_id, s.neighbor_id,
       |         CAST(floor((list_inner_product(q.e, q.e)
       |                     - 2 * list_inner_product(q.e, n.e)
       |                     + list_inner_product(n.e, n.e)) * $CentFixedScale) AS BIGINT) AS exact_fixed
       |  FROM short s
       |  JOIN e q ON q.vec_id = s.query_id
       |  JOIN e n ON n.vec_id = s.neighbor_id)
       |SELECT query_id, neighbor_id, exact_fixed, rn FROM (
       |  SELECT query_id, neighbor_id, exact_fixed,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |                                 ORDER BY exact_fixed, neighbor_id) AS BIGINT) AS rn
       |  FROM refine)
       |WHERE rn <= $AdcK ORDER BY query_id, rn""".stripMargin

  lazy val q73Sql: String = {
    val dist = "list_inner_product(x.se, x.se) - 2 * list_inner_product(x.se, c.ce) + list_inner_product(c.ce, c.ce)"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |sub AS (
       |  SELECT vec_id, CAST(m AS INTEGER) AS m,
       |         list_slice(e, CAST(m * $PqSub + 1 AS INTEGER), CAST(m * $PqSub + $PqSub AS INTEGER)) AS se
       |  FROM e, (SELECT unnest(range(0, $PqM)) AS m)),
       |seeds AS (SELECT m, vec_id AS cent_id, se AS ce FROM sub WHERE vec_id < $PqK),
       |a0 AS (
       |  SELECT x.vec_id, x.m, x.se, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m
       |                            ORDER BY $dist, c.cent_id) AS rn
       |  FROM sub x JOIN seeds c USING (m)),
       |mx AS (
       |  SELECT m, cent_id AS cell, i,
       |         SUM(CAST(floor(se[CAST(i + 1 AS INTEGER)] * $CentFixedScale) AS BIGINT)) AS fs,
       |         COUNT(*) AS fn
       |  FROM (SELECT m, cent_id, unnest(range(0, len(se))) AS i, se FROM a0 WHERE rn = 1)
       |  GROUP BY m, cent_id, i),
       |mean AS (
       |  SELECT m, cell, list((CAST(fs AS DOUBLE) / fn) / $CentFixedScale.0 ORDER BY i) AS ce_new
       |  FROM mx GROUP BY m, cell),
       |cents AS (
       |  SELECT s.m, s.cent_id, COALESCE(mn.ce_new, s.ce) AS ce
       |  FROM seeds s LEFT JOIN mean mn ON s.m = mn.m AND s.cent_id = mn.cell),
       |a1 AS (
       |  SELECT x.vec_id, x.m, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m
       |                            ORDER BY $dist, c.cent_id) AS rn
       |  FROM sub x JOIN cents c USING (m)),
       |cd AS (SELECT vec_id AS neighbor_id, m, cent_id AS code FROM a1 WHERE rn = 1),
       |lut AS (
       |  SELECT x.vec_id AS query_id, c.m, c.cent_id,
       |         CAST(floor(($dist) * $CentFixedScale) AS BIGINT) AS term
       |  FROM sub x JOIN cents c USING (m) WHERE x.vec_id < $AdcQueries),
       |adc AS (
       |  SELECT l.query_id, cd.neighbor_id, CAST(SUM(l.term) AS BIGINT) AS adc_fixed
       |  FROM cd JOIN lut l ON cd.m = l.m AND cd.code = l.cent_id
       |  WHERE l.query_id <> cd.neighbor_id
       |  GROUP BY l.query_id, cd.neighbor_id)
       |SELECT query_id, neighbor_id, adc_fixed, rn FROM (
       |  SELECT query_id, neighbor_id, adc_fixed,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |                                 ORDER BY adc_fixed, neighbor_id) AS BIGINT) AS rn
       |  FROM adc)
       |WHERE rn <= $AdcK ORDER BY query_id, rn""".stripMargin
  }

  /** PlanSpec probe: the q72 ENCODE path with fixed codebooks — must be
    * pure map-side (no hash-partition Exchange, no Window). */
  private[graft] def q72EncodeProbe(s: SparkSession, d: String): DataFrame = {
    val (emb, _, seeds) = pqParts(s, d)
    pqEncode(emb, seeds)
  }

  /** PlanSpec probe: the incremental ingest path ([[ivfPqAppend]]) under
    * untrained seed artifacts, so no training shuffle clouds the lineage —
    * what remains must be the pure map-side assign+encode shape. */
  private[graft] def q74AppendProbe(s: SparkSession, d: String): DataFrame = {
    val (emb, _, seeds) = pqParts(s, d)
    ivfPqAppend(seedCents(emb, IvfNList), seeds, emb)
  }

  /** PlanSpec probe: OPQ ingest under untrained artifacts — a (v, vv) row
    * taken from a single vector instead of the trained mean, so no
    * training shuffle clouds the lineage. Rotation + assign + encode must
    * remain pure map-side. */
  private[graft] def q77AppendProbe(s: SparkSession, d: String): DataFrame = {
    val (emb, _, seeds) = pqParts(s, d)
    val hh = emb.filter(col("vec_id") === 0)
      .select(col("e").as("v"), expr("graft_dot(e, e)").as("vv"))
    opqAppend(hh, seedCents(emb, IvfNList), seeds, emb)
  }

  /** PlanSpec probe: SQ8 ingest under untrained (seed) centroids — the
    * assign+encode pass must be pure map-side under the one centroid
    * broadcast. */
  private[graft] def q78AppendProbe(s: SparkSession, d: String): DataFrame = {
    val emb = embWithNorm(s, d).filter(col("nrm") > 0).select("vec_id", "e", "nrm")
    IvfCodec.Sq8.encode(seedCents(emb, IvfNList), None, emb)
  }

  lazy val q72Sql: String = {
    val dist = "list_inner_product(x.se, x.se) - 2 * list_inner_product(x.se, c.ce) + list_inner_product(c.ce, c.ce)"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |sub AS (
       |  SELECT vec_id, CAST(m AS INTEGER) AS m,
       |         list_slice(e, CAST(m * $PqSub + 1 AS INTEGER), CAST(m * $PqSub + $PqSub AS INTEGER)) AS se
       |  FROM e, (SELECT unnest(range(0, $PqM)) AS m)),
       |seeds AS (SELECT m, vec_id AS cent_id, se AS ce FROM sub WHERE vec_id < $PqK),
       |a0 AS (
       |  SELECT x.vec_id, x.m, x.se, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m
       |                            ORDER BY $dist, c.cent_id) AS rn
       |  FROM sub x JOIN seeds c USING (m)),
       |mx AS (
       |  SELECT m, cent_id AS cell, i,
       |         SUM(CAST(floor(se[CAST(i + 1 AS INTEGER)] * $CentFixedScale) AS BIGINT)) AS fs,
       |         COUNT(*) AS fn
       |  FROM (SELECT m, cent_id, unnest(range(0, len(se))) AS i, se FROM a0 WHERE rn = 1)
       |  GROUP BY m, cent_id, i),
       |mean AS (
       |  SELECT m, cell, list((CAST(fs AS DOUBLE) / fn) / $CentFixedScale.0 ORDER BY i) AS ce_new
       |  FROM mx GROUP BY m, cell),
       |cents AS (
       |  SELECT s.m, s.cent_id, COALESCE(mn.ce_new, s.ce) AS ce
       |  FROM seeds s LEFT JOIN mean mn ON s.m = mn.m AND s.cent_id = mn.cell),
       |a1 AS (
       |  SELECT x.vec_id, x.m, c.cent_id,
       |         CAST(floor(($dist) * $CentFixedScale) AS BIGINT) AS df,
       |         ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m
       |                            ORDER BY $dist, c.cent_id) AS rn
       |  FROM sub x JOIN cents c USING (m))
       |SELECT vec_id,
       |       md5(string_agg(CAST(cent_id AS VARCHAR), ',' ORDER BY m)) AS code_fp,
       |       CAST(SUM(df) AS BIGINT) AS err_fixed
       |FROM a1 WHERE rn = 1
       |GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  /** PlanSpec probe: `assignCells` exactly as q69 runs it (seed centroids,
    * full embedding side). The guard asserts no hash-partition Exchange and
    * no Window anywhere — nothing in the assignment may shuffle embeddings. */
  private[graft] def q69AssignProbe(s: SparkSession, d: String): DataFrame = {
    val emb = embWithNorm(s, d).select("vec_id", "e")
    assignCells(emb, seedCents(emb, IvfNList))
  }

  /** q71 oracle, generated per round so the SQL can never drift from
    * `LloydRounds`: round r assigns against c(r−1) (seed for r=1), emits
    * (round, cell, n_members, fixed-point inertia), and rounds < last also
    * unroll the fixed-point mean update — the literal SQL form of
    * `fixedPointUpdate`. */
  lazy val q71Sql: String = {
    val dist = "list_inner_product(x.e, x.e) - 2 * list_inner_product(x.e, c.ce) + list_inner_product(c.ce, c.ce)"
    val ctes = (1 to LloydRounds).map { r =>
      val prev = if (r == 1) "seed" else s"c${r - 1}"
      val assign =
        s"""a$r AS (
           |  SELECT vec_id, e, cell, dist FROM (
           |    SELECT x.vec_id, x.e, c.cent_id AS cell, $dist AS dist,
           |           ROW_NUMBER() OVER (PARTITION BY x.vec_id
           |                              ORDER BY $dist, c.cent_id) AS rn
           |    FROM e x CROSS JOIN $prev c)
           |  WHERE rn = 1)""".stripMargin
      val update = if (r == LloydRounds) "" else
        s""",
           |m$r AS (
           |  SELECT cell, i,
           |         SUM(CAST(floor(e[CAST(i + 1 AS INTEGER)] * $CentFixedScale) AS BIGINT)) AS fs,
           |         COUNT(*) AS fn
           |  FROM (SELECT cell, unnest(range(0, len(e))) AS i, e FROM a$r)
           |  GROUP BY cell, i),
           |c$r AS (
           |  SELECT s.cent_id, COALESCE(m.ce_new, s.ce) AS ce
           |  FROM $prev s LEFT JOIN (
           |    SELECT cell, list((CAST(fs AS DOUBLE) / fn) / $CentFixedScale.0 ORDER BY i) AS ce_new
           |    FROM m$r GROUP BY cell) m ON s.cent_id = m.cell)""".stripMargin
      assign + update
    }.mkString(",\n")
    val stats = (1 to LloydRounds).map { r =>
      s"""  SELECT CAST($r AS BIGINT) AS round, cell, COUNT(*) AS n_members,
         |         CAST(SUM(CAST(floor(dist * $CentFixedScale) AS BIGINT)) AS BIGINT) AS inertia_fixed
         |  FROM a$r GROUP BY cell""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |seed AS (SELECT vec_id AS cent_id, e AS ce FROM e WHERE vec_id < $IvfNList),
       |$ctes
       |SELECT round, cell, n_members, inertia_fixed FROM (
       |$stats)
       |ORDER BY round, cell""".stripMargin
  }

  // lazy: interpolates CentFixedScale, declared further down the object
  // body — a strict val here would capture its pre-init 0
  /** The q69 trained-IVF CTE chain through the final assignment (`a1`) —
    * shared verbatim with [[q132Sql]] so the balance audit can never
    * quantize differently from the gated index it audits. */
  private[graft] lazy val ivfTrainCtes: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |seed AS (SELECT vec_id AS cent_id, e AS ce FROM e WHERE vec_id < $IvfNList),
       |a0 AS (
       |  SELECT x.vec_id, x.e, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
       |           list_inner_product(x.e, x.e) - 2 * list_inner_product(x.e, c.ce)
       |             + list_inner_product(c.ce, c.ce), c.cent_id) AS rn
       |  FROM e x CROSS JOIN seed c),
       |asg0 AS (SELECT vec_id, e, cent_id AS cell FROM a0 WHERE rn = 1),
       |mx AS (
       |  SELECT cell, i,
       |         SUM(CAST(floor(e[CAST(i + 1 AS INTEGER)] * $CentFixedScale) AS BIGINT)) AS fs,
       |         COUNT(*) AS fn
       |  FROM (SELECT cell, unnest(range(0, len(e))) AS i, e FROM asg0)
       |  GROUP BY cell, i),
       |mean AS (
       |  SELECT cell, list((CAST(fs AS DOUBLE) / fn) / $CentFixedScale.0 ORDER BY i) AS ce_new
       |  FROM mx GROUP BY cell),
       |cents AS (
       |  SELECT s.cent_id, COALESCE(m.ce_new, s.ce) AS ce
       |  FROM seed s LEFT JOIN mean m ON s.cent_id = m.cell),
       |a1 AS (
       |  SELECT x.vec_id, x.e, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
       |           list_inner_product(x.e, x.e) - 2 * list_inner_product(x.e, c.ce)
       |             + list_inner_product(c.ce, c.ce), c.cent_id) AS rn
       |  FROM e x CROSS JOIN cents c)""".stripMargin

  lazy val q69Sql: String =
    s"""$ivfTrainCtes,
       |idx AS (SELECT vec_id AS neighbor_id, e AS en,
       |               sqrt(list_inner_product(e, e)) AS nn, cent_id AS cell
       |        FROM a1 WHERE rn = 1),
       |qp AS (
       |  SELECT x.vec_id AS query_id, x.e AS eq,
       |         sqrt(list_inner_product(x.e, x.e)) AS nq, c.cent_id AS cell,
       |         ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
       |           list_inner_product(x.e, x.e) - 2 * list_inner_product(x.e, c.ce)
       |             + list_inner_product(c.ce, c.ce), c.cent_id) AS rn
       |  FROM e x CROSS JOIN cents c WHERE x.vec_id < $IvfNQueries),
       |cand AS (
       |  SELECT q.query_id, i.neighbor_id,
       |         round(list_inner_product(q.eq, i.en) / (q.nq * i.nn), 6) AS cos_sim
       |  FROM (SELECT query_id, eq, nq, cell FROM qp WHERE rn <= $IvfNProbe) q
       |  JOIN idx i USING (cell)
       |  WHERE q.query_id <> i.neighbor_id),
       |ivf_k AS (
       |  SELECT query_id, neighbor_id, n_cand FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY cos_sim DESC, neighbor_id) AS rn,
       |           COUNT(*) OVER (PARTITION BY query_id) AS n_cand
       |    FROM cand)
       |  WHERE rn <= $IvfK),
       |exact_k AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |             round(list_inner_product(q.e, n.e) /
       |                   (sqrt(list_inner_product(q.e, q.e)) * sqrt(list_inner_product(n.e, n.e))), 6) DESC,
       |             n.vec_id) AS rn
       |    FROM e q JOIN e n ON q.vec_id <> n.vec_id
       |    WHERE q.vec_id < $IvfNQueries)
       |  WHERE rn <= $IvfK)
       |SELECT i.query_id, CAST(MAX(i.n_cand) AS BIGINT) AS n_cand,
       |       CAST(SUM(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / $IvfK AS recall
       |FROM ivf_k i LEFT JOIN exact_k x
       |  ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id
       |GROUP BY i.query_id ORDER BY i.query_id""".stripMargin

  /** Int8 scalar quantization of the embedding column — the storage/serving
    * compression every large ANN index runs (4× smaller than float32, SIMD
    * dot products downstream). Per-vector symmetric max-abs scaling:
    * q_i = floor(x_i · 127 / max|x|). Pure map-side expressions — zero
    * shuffle at any scale; the quantized vector is fingerprinted (md5 of the
    * int list) for the gate, a consumer would keep the array.
    *
    * Engine-portability: x is float32 widened to double (exact), and the
    * scale step is one IEEE multiply + divide + floor — all correctly
    * rounded in both engines, so the int codes are bit-identical; no
    * accumulation order is involved. All-zero vectors (no scale) are
    * excluded by contract. Max-magnitude elements (|x| = max|x|) emit ±127
    * DIRECTLY rather than through the quotient: algebraically their
    * quotient IS ±127, but the two rounded IEEE ops can land one ulp off in
    * EITHER direction — a ulp low on a positive max floors to 126, a ulp
    * low on a negative max floors to -128 — so a computed code would make
    * "the max element saturates" adversarial-input-dependent. The remaining
    * elements keep the [-127, 127] clamp (|x| < max|x| puts their quotient
    * strictly inside ±127 mathematically; one rounding can still touch the
    * boundary, where floor is ±127 and only the -128 corner needs the
    * clamp). `n_sat` counts saturated codes (±127); with the special case
    * n_sat ≥ 1 holds unconditionally (asserted in OperatorSpec), in BOTH
    * engines identically. */
  def q58Quantize(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.embeddings(s, d), "vec_id")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("max_abs", expr("array_max(transform(e, x -> abs(x)))"))
      .filter(col("max_abs") > 0)
      .withColumn("q", expr(
        "transform(e, x -> CAST(CASE WHEN abs(x) = max_abs THEN IF(x >= 0.0D, 127.0D, -127.0D) " +
          "ELSE greatest(-127.0D, least(127.0D, floor(x * 127.0 / max_abs))) END AS INT))"))
      .select(col("vec_id"),
        round(col("max_abs"), 6).as("max_abs_r"),
        md5(concat_ws(",", expr("transform(q, v -> CAST(v AS STRING))"))).as("q_fp"),
        expr("size(filter(q, v -> v = 127 OR v = -127))").cast("long").as("n_sat"))
      .orderBy("vec_id")

  val q58Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |m AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS max_abs FROM e),
      |q AS (SELECT vec_id, max_abs,
      |             list_transform(e, x -> CAST(CASE WHEN abs(x) = max_abs
      |                                              THEN (CASE WHEN x >= 0 THEN 127.0 ELSE -127.0 END)
      |                                              ELSE greatest(-127.0, least(127.0, floor(x * 127.0 / max_abs)))
      |                                         END AS INTEGER)) AS q
      |      FROM m WHERE max_abs > 0)
      |SELECT vec_id, round(max_abs, 6) AS max_abs_r,
      |       md5(array_to_string(list_transform(q, v -> CAST(v AS VARCHAR)), ',')) AS q_fp,
      |       CAST(len(list_filter(q, v -> v = 127 OR v = -127)) AS BIGINT) AS n_sat
      |FROM q ORDER BY vec_id""".stripMargin

  /** Per-class embedding centroids in order-independent fixed-point — the
    * distributed vector mean behind SemDeDup-style semantic dedup and k-means
    * (the `trainCentroids` update step is this reduction with float `avg`).
    * Float accumulation order differs across partition layouts, which is why
    * the Lloyd trainer is sbt-gated; HERE the sum is exact: each component is
    * fixed-pointed map-side (`floor(x·10⁶)` — one correctly-rounded IEEE
    * multiply, then integers), so the centroid sums are bit-identical on any
    * cluster layout AND cross-engine, making the vector mean oracle-gatable.
    *
    * Scale shape: posexplode is map-side (rows = n·dim but each is 24 bytes),
    * the groupBy(label, i) is a partial+final sum — shuffle traffic is
    * |labels|·dim rows PER PARTITION, independent of corpus size (PlanSpec
    * asserts the two-phase agg). The mean is s_fixed/n downstream; the sums
    * are emitted instead of dividing so no rounding-mode choice leaks into
    * the gate. */
  private[graft] val CentFixedScale = 1000000L

  def q64Centroids(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.embeddings(s, d), "vec_id")
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("i", "v")))
      .groupBy(col("label"), col("i"))
      .agg(sum(floor(col("v") * lit(CentFixedScale.toDouble)).cast("long")).as("s_fixed"),
        count(lit(1)).as("n"))
      .select(col("label"), col("i").cast("long").as("i"), col("s_fixed"), col("n"))
      .orderBy("label", "i")

  val q64Sql: String =
    s"""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |x AS (SELECT label, unnest(range(0, len(e))) AS i, e FROM e)
       |SELECT label, CAST(i AS BIGINT) AS i,
       |       CAST(SUM(CAST(floor(e[CAST(i + 1 AS INTEGER)] * $CentFixedScale) AS BIGINT)) AS BIGINT) AS s_fixed,
       |       COUNT(*) AS n
       |FROM x GROUP BY label, i ORDER BY label, i""".stripMargin

  /** q131: TRIANGLE COUNT + LOCAL CLUSTERING COEFFICIENT over the MUTUAL
    * kNN graph — the graph-density audit that tells a curation pipeline
    * whether its semantic neighborhoods are tight communities (high
    * coefficient → SemDeDup/label-prop operate on real clusters) or hub
    * noise (low → the k in q82 is reaching past the data's natural
    * neighborhood size). Graph: undirected edge {a,b} iff EACH is in the
    * OTHER's top-k (mutual-kNN — the symmetrization that drops asymmetric
    * hub edges), canonicalized a < b. Per node: degree, triangle count,
    * and clust_coef = 2·T / (deg·(deg−1)) (rounded 6dp; 0 when deg < 2).
    * Nodes with no mutual edge have no neighborhood to audit and are
    * absent by construction.
    *
    * Scale shape: the expensive subtree is q82's audited candidate kernel
    * + bounded top-k — everything after runs on n·k-bounded integer edge
    * rows. Mutual degree is ≤ k BY CONSTRUCTION (each mutual edge spends
    * one of its endpoint's k top-k slots), so the classic triangle-count
    * skew problem — wedge fan-out quadratic in hub degree, the reason
    * general-graph implementations degree-order their orientation — is
    * structurally absent: the id-ordered orientation (x < y < z, each
    * triangle emitted once) bounds per-node wedges at k²/2 ≈ 12 rows.
    * Both joins are equi-joins on node keys over the k-bounded edge list;
    * the edge frame is cached once (referenced four times: two wedge
    * sides, the closing semi-join, and degree). */
  def q131TriangleCount(s: SparkSession, d: String): DataFrame =
    triangleCountFrom(knnEdges(s, d).select("query_id", "neighbor_id"))

  /** The mutual-kNN triangle/clustering kernel over ANY directed top-k
    * edge frame (query_id, neighbor_id) — freshly built (q131) or served
    * from the persisted edge artifact (q135); only integer edge rows cross
    * the interface, the [[q94PageRankFrom]]/[[q84LabelPropFrom]]
    * substitution convention. */
  private def triangleCountFrom(tk: DataFrame): DataFrame = {
    // Mutuality as COUNTING, not a self-join: canonicalize each directed
    // edge to (lo, hi) and keep pairs seen twice — (a→b) AND (b→a) both
    // collapse onto the same canonical key, and per-query neighbor lists
    // are distinct so count=2 ⇔ mutual. One shuffle of the n·k edge rows
    // on the canonical key, and the edge list is referenced ONCE, so the
    // Σ|cell| kNN kernel structurally cannot execute twice (the mirrored
    // self-join formulation re-ran it per side — measured 13.3 s vs
    // 10.4 s at 100k vectors, BASELINE.md round-14 anchors).
    val und = tk
      .select(least(col("query_id"), col("neighbor_id")).as("a"),
        greatest(col("query_id"), col("neighbor_id")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") === 2)
      .select("a", "b")
      .cache()
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val tri = und.as("e1").join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"), "left_semi")
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val pern = tri.select(col("x").as("v"))
      .unionAll(tri.select(col("y").as("v")))
      .unionAll(tri.select(col("z").as("v")))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
    deg.join(pern, Seq("v"), "left")
      .select(col("v").as("vec_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("clust_coef",
        when(col("deg") >= 2,
          round(col("n_tri") * lit(2.0) / (col("deg") * (col("deg") - 1)), 6))
          .otherwise(lit(0.0)))
      .orderBy("vec_id")
  }

  lazy val q131Sql: String =
    s"""$knnCandCtes,
       |tke AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY cos_sim DESC, neighbor_id) AS rn
       |    FROM cand)
       |  WHERE rn <= $AdcK),
       |und AS (
       |  SELECT f.query_id AS a, f.neighbor_id AS b
       |  FROM tke f JOIN tke r
       |    ON f.query_id = r.neighbor_id AND f.neighbor_id = r.query_id
       |  WHERE f.query_id < f.neighbor_id),
       |deg AS (
       |  SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
       |  FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
       |  GROUP BY v),
       |tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM und e1 JOIN und e2 ON e1.b = e2.a
       |  WHERE EXISTS (SELECT 1 FROM und e3 WHERE e3.a = e1.a AND e3.b = e2.b)),
       |pern AS (
       |  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tri
       |  FROM (SELECT x AS v FROM tri UNION ALL
       |        SELECT y AS v FROM tri UNION ALL
       |        SELECT z AS v FROM tri)
       |  GROUP BY v)
       |SELECT deg.v AS vec_id, deg.deg,
       |       COALESCE(pern.n_tri, 0) AS n_tri,
       |       CASE WHEN deg.deg >= 2
       |            THEN round(CAST(COALESCE(pern.n_tri, 0) AS DOUBLE) * 2.0
       |                       / (deg.deg * (deg.deg - 1)), 6)
       |            ELSE 0.0 END AS clust_coef
       |FROM deg LEFT JOIN pern ON deg.v = pern.v
       |ORDER BY vec_id""".stripMargin

  /** q132: IVF CELL-BALANCE AUDIT — the index-health report that closes
    * the serving-ops triple (q79 recall, q109 distribution drift, and now
    * occupancy): per cell of q69's trained inverted index, the member
    * count, its parts-per-million share of the corpus, and its size rank.
    * This is the number an IVF operator actually pages on: probe latency
    * is driven by the LARGEST probed cells (a cell holding 10× its fair
    * share makes every query probing it 10× slower than budgeted), and
    * empty cells silently waste nlist — both are invisible in recall
    * numbers alone. Empty cells are REPORTED (count 0 via the left join
    * from the centroid set), not dropped — they are the audit's point.
    *
    * Training and assignment are EXACTLY q69's chain (same seed, same
    * one fixed-point Lloyd round, shared [[assignCells]] kernel; the
    * oracle composes the same [[ivfTrainCtes]] prefix as q69Sql), so the
    * audit can never quantize differently from the gated index it audits.
    * share_ppm is pure integer (n_vecs·10⁶ div total, the q55
    * convention); size_rank breaks ties by cell id.
    *
    * Scale shape: assignment is the audited map-side broadcast-centroid
    * pass (no embedding ever shuffles); the rollup is a partial+final agg
    * with nlist groups; everything after — the empty-cell join, the
    * share, the rank window — runs on nlist rows (the one global window
    * is over nlist rows, not the corpus, at any data size). */
  def q132IvfBalance(s: SparkSession, d: String): DataFrame = {
    val emb = embWithNorm(s, d).select("vec_id", "e")
    val cents = knnCents(emb, IvfNList)
    val counts = assignCells(emb, cents)
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val tot = counts.agg(sum(col("n_vecs")).as("total"))
    val w = Window.orderBy(col("n_vecs").desc, col("cell"))
    cents.select(col("cent_id").as("cell"))
      .join(counts, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
      .crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr("n_vecs * 1000000 div total"))
      .withColumn("size_rank", row_number().over(w).cast("long"))
      .select("cell", "n_vecs", "share_ppm", "size_rank")
      .orderBy("cell")
  }

  lazy val q132Sql: String =
    s"""$ivfTrainCtes,
       |asg AS (SELECT vec_id, cent_id AS cell FROM a1 WHERE rn = 1),
       |counts AS (
       |  SELECT c.cent_id AS cell, CAST(COUNT(a.vec_id) AS BIGINT) AS n_vecs
       |  FROM cents c LEFT JOIN asg a ON a.cell = c.cent_id
       |  GROUP BY c.cent_id),
       |tot AS (SELECT SUM(n_vecs) AS total FROM counts)
       |SELECT cell, n_vecs,
       |       CAST(n_vecs * 1000000 // total AS BIGINT) AS share_ppm,
       |       CAST(ROW_NUMBER() OVER (ORDER BY n_vecs DESC, cell) AS BIGINT) AS size_rank
       |FROM counts CROSS JOIN tot
       |ORDER BY cell""".stripMargin

  /** q135: TRIANGLES SERVED FROM THE PERSISTED GRAPH ARTIFACT — the
    * q101/q105 recipe applied to the third graph analytic, closing the
    * round-14 gap (q131 rebuilt the kNN kernel in-query): build the edge
    * artifact once via [[knnGraphArtifact]], read the n·k integer rows
    * back, and run [[triangleCountFrom]] — mutual-edge counting, wedge
    * join, closing semi-join — over the ROUND-TRIPPED frame under EXACTLY
    * q131's oracle. Serve-time cost is the k-bounded integer-edge passes
    * only (~2 s marginal at 100k per the BASELINE.md round-14 seam
    * decomposition); PlanSpec pins the no-kernel lineage like q101's.
    * Eager at construction (writes the artifact), the q101/q113
    * convention. */
  def q135TriangleServed(s: SparkSession, d: String): DataFrame = {
    val root = s"${Artifacts.datasetScratch(d)}/graph_tri"
    knnGraphArtifact(s, d, root, withCells = false)
    triangleCountFrom(GraphEdges.read(s, root).select("query_id", "neighbor_id"))
  }

  /** q136: PREDICATE + TOMBSTONE ANN SERVE — the two pre-filters a real
    * RAG serve applies AT ONCE: q110 gates the metadata predicate and
    * q127 the delete predicate separately, but a production query is
    * "top-k most similar LIVE documents matching the filter". Both land
    * on the 9-byte code-table rows BEFORE candidate generation — the
    * predicate as a left-semi join (q110's seam), the tombstone union as
    * a left-anti join (q127's) — so k results come back that are both
    * live and matching (a post-filter of an unfiltered top-k would return
    * ~k·selectivity·(1−delete rate)), and n_cand counts live matching
    * candidates only. Order of the two joins is irrelevant (both are
    * row-subset filters on the same key); OperatorSpec asserts the
    * pre-filter ≡ post-filtering the FULL unfiltered candidate list under
    * both predicates — the identity that makes the composition exact.
    * Artifacts stay byte-immutable under the frozen quantizer; eager at
    * construction (writes artifacts + tombstone), the q127 convention.
    * Oracle: q74's chain with BOTH predicates applied before ranking. */
  def q136FilteredTombstoneAnn(s: SparkSession, d: String): DataFrame = {
    val root = s"${Artifacts.datasetScratch(d)}/ivffiltomb"
    val (emb, subs, seedsPq) = pqParts(s, d)
    val (cents, books, codeTable) = ivfPqIndex(emb, subs, seedsPq)
    writeIvfArtifacts(root, cents, books, codeTable,
      "t0" -> emb.filter(col("vec_id") % 7 === 3 && col("vec_id") >= AdcQueries)
        .select("vec_id"))
    val keep = Tables.spread(s, Tables.embeddings(s, d), "vec_id")
      .filter(col("label") % 3 === 0).select("vec_id")
    val live = liveCodes(s, root).join(keep, Seq("vec_id"), "left_semi")
    ivfPqSearchFrom(IvfCents.read(s, root), IvfBooks.read(s, root),
      live, emb.filter(col("vec_id") < AdcQueries).select("vec_id", "e"))
  }

  lazy val q136Sql: String =
    s"""$ivfPqAdcCtes
       |SELECT query_id, neighbor_id, adc_fixed, n_cand, rn FROM (
       |  SELECT query_id, neighbor_id, adc_fixed,
       |         CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_cand,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |                                 ORDER BY adc_fixed, neighbor_id) AS BIGINT) AS rn
       |  FROM adc
       |  WHERE neighbor_id IN (SELECT vec_id FROM embeddings WHERE label % 3 = 0)
       |    AND NOT (neighbor_id % 7 = 3 AND neighbor_id >= $AdcQueries))
       |WHERE rn <= $AdcK ORDER BY query_id, rn""".stripMargin

  /** How many of the largest cells q141 splits. A top-m rule rather than a
    * share threshold: maintenance jobs run "split the k hottest lists"
    * (deterministic, always exercises the machinery), and the audit output
    * shows whether the split actually helped. */
  private val SplitHotCells = 2

  /** q141: HOT-CELL SPLIT — the maintenance ACTION the q132 balance audit
    * motivates, closing the audit→maintain loop for the IVF serving
    * family: take the [[SplitHotCells]] largest cells of the q132-audited
    * index (same train/assign chain, shared CTEs — the split can never
    * quantize differently from the audit), run a LOCAL fixed-point 2-means
    * inside each (seeds = the cell's min/max-vec_id members; one
    * assign→update→assign round of exactly the gated Lloyd arithmetic —
    * [[fixedPointUpdate]] on a composite (cell,sub) key), and re-emit the
    * balance audit over the post-split cell set. Sub-cell 0 keeps the
    * parent's id; sub-cell 1 gets id nlist−1+rank — `parent` makes the
    * lineage auditable. Untouched cells keep their assignment UNCHANGED
    * (the FAISS-style invariant: splitting list c moves only list c's
    * vectors, so the rest of the index — codes, postings, graph edges —
    * stays byte-immutable and serving needs no pause).
    *
    * Scale shape: hotness is a window over nlist rows; the 2-means touches
    * ONLY hot-cell members (≈ m·n/nlist vectors, map-side against ≤ 2m
    * broadcast sub-centroids — no embedding ever shuffles except the
    * (cell,sub,dim) fixed-point partial agg, which is 2m·dim rows out);
    * the final audit is the q132 rollup over nlist+m rows. At 100 TB a
    * nightly split pass costs one scan of the hot lists, not a retrain. */
  /** Local fixed-point 2-means inside each hot cell — q141's kernel,
    * shared with [[ivfCellSplit]] so the gated entry and the
    * artifact maintenance can never split differently. `members` must
    * carry (cell, vec_id, e) for hot-cell rows only, cached by the caller
    * (scanned three times: seed agg, update agg, final assign). Returns
    * the final per-vector assignment (cell, vec_id, e, sub) and the
    * updated sub-centroids per cell (sub 0 = the min-vec_id seed's half).
    *
    * Seeds are each cell's min/max-vec_id members (single-member cell →
    * one seed, sub 1 stays empty), fetched in ONE min_by/max_by agg
    * (vec_id unique — deterministic). The 2-means STATE is ≤ 2m vectors —
    * index metadata — so it lives on the driver and rides into each
    * assignment pass as a literal centroid array: both local assigns are
    * pure map-side projections via the gated graft_near_cells kernel
    * (identical dot(e,e)−2dot(e,ce)+dot(ce,ce) IEEE chain, tie-break
    * (dist, sub)); the mean update sums floor(v·10⁶) longs per
    * (cell, sub, dim) in one distributed agg (order-independent,
    * bit-identical on any layout), the ≤ 2m·dim result rows come to the
    * driver, and the division is the same two correctly-rounded IEEE ops
    * as fixedPointUpdate's. An earlier formulation ran collect_list +
    * broadcast-join per assign and a distributed mean update — five AQE
    * stage materializations for ≤ 2m·dim values (BASELINE.md round-15
    * continuation records the 8.1 → 3.56 s iteration). */
  private[graft] def localTwoMeans(members: DataFrame, hotCells: Seq[Long])
      : (DataFrame, Map[Long, Seq[(Long, Seq[Double])]]) = {
    val seedVecs: Seq[(Long, Long, Seq[Double])] =
      members.groupBy("cell")
        .agg(min("vec_id").as("lo"), max("vec_id").as("hi"),
          expr("min_by(e, vec_id)").as("loe"), expr("max_by(e, vec_id)").as("hie"))
        .collect().flatMap { r =>
          val c = r.getLong(0)
          if (r.getLong(1) == r.getLong(2)) Seq((c, 0L, r.getSeq[Double](3)))
          else Seq((c, 0L, r.getSeq[Double](3)), (c, 1L, r.getSeq[Double](4)))
        }.toSeq
    def csLiteral(entries: Seq[(Long, Seq[Double])]): Column =
      array(entries.map { case (id, v) =>
        struct(lit(id).as("cent_id"), array(v.map(lit): _*).as("ce"))
      }: _*)
    def localAssign(csOf: Map[Long, Seq[(Long, Seq[Double])]]): DataFrame = {
      val csCol = hotCells.foldLeft(lit(null).cast(
        "array<struct<cent_id: bigint, ce: array<double>>>")) { (acc, c) =>
        when(col("cell") === c, csLiteral(csOf(c))).otherwise(acc) }
      members.withColumn("cs", csCol)
        .withColumn("m2", expr("element_at(graft_near_cells(e, cs, 1), 1)"))
        .select(col("cell"), col("vec_id"), col("e"), col("m2.cent_id").as("sub"))
    }
    val seedCs: Map[Long, Seq[(Long, Seq[Double])]] =
      seedVecs.groupBy(_._1).map { case (c, rs) =>
        c -> rs.sortBy(_._2).map(t => (t._2, t._3)) }
    val asg0 = localAssign(seedCs)
    val mx = asg0.select(col("cell"), col("sub"), posexplode(col("e")).as(Seq("i", "v")))
      .groupBy("cell", "sub", "i")
      .agg(sum(floor(col("v") * lit(CentFixedScale.toDouble)).cast("long")).as("fs"),
        count(lit(1)).as("fn"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getInt(2), r.getLong(3), r.getLong(4))))
      .groupBy(_._1)
      .map { case (k, rs) =>
        k -> rs.map(_._2).sortBy(_._1)
          .map { case (_, fs, fn) => (fs.toDouble / fn) / CentFixedScale.toDouble }
          .toSeq }
    // sub-centroids with no assigned members keep their seed (the
    // fixedPointUpdate coalesce)
    val updCs: Map[Long, Seq[(Long, Seq[Double])]] =
      seedCs.map { case (c, entries) =>
        c -> entries.map { case (sub, ce) => (sub, mx.getOrElse((c, sub), ce)) } }
    (localAssign(updCs), updCs)
  }

  def q141CellSplit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = embWithNorm(s, d).select("vec_id", "e")
    val cents = knnCents(emb, IvfNList).cache()
    val asg = assignCells(emb, cents).select("vec_id", "e", "cell")
    // hot pick: the occupancy table is nlist rows — index METADATA, not
    // data — so it comes to the driver (the q63 cut-point convention) and
    // every downstream use is a literal filter/map instead of a join (the
    // first formulation broadcast-joined the hot set five times: six AQE
    // stage materializations for frames of ≤ nlist rows). The same pass
    // fills the cents cache.
    // slim (vec_id, cell) assignment cached once: the occupancy agg fills
    // it, the untouched arm re-reads it — the corpus argmin runs twice in
    // total (here and the members fill), never per-arm
    val asgSlim = asg.select("vec_id", "cell").cache()
    val occ = asgSlim.groupBy("cell").agg(count(lit(1)).as("n_vecs")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val hotCells: Seq[Long] = occ.sortBy { case (c, n) => (-n, c) }
      .take(SplitHotCells).map(_._1).toSeq
    val newIdOf: Map[Long, Long] =
      hotCells.zipWithIndex.map { case (c, i) => c -> (IvfNList + i.toLong) }.toMap
    val newIdExpr = hotCells.foldLeft(lit(-1L)) { (acc, c) =>
      when(col("cell") === c, lit(newIdOf(c))).otherwise(acc) }
    // the hot-cell member subset (≈ m·n/nlist rows) is consumed by three
    // arms (seed pick, both local assigns) — cache it so the corpus-wide
    // argmin pass behind it runs once, the standard move for an iterative
    // maintenance job
    val members = asg.filter(col("cell").isin(hotCells: _*)).cache()
    val (finalLocal, _) = localTwoMeans(members, hotCells)
    val mapped = finalLocal.select(col("vec_id"),
      when(col("sub") === 0, col("cell")).otherwise(newIdExpr).as("cell"))
    val untouched = asgSlim.filter(!col("cell").isin(hotCells: _*))
    val finalAsg = untouched.unionByName(mapped)
    // post-split cell universe (empties included, the q132 convention):
    // trained cell ids (from the cached nlist-row centroid frame) plus one
    // new id per split — a driver-built literal table
    val cellIds = cents.select("cent_id").collect().map(_.getLong(0)).toSeq.sorted
    val allCells = (cellIds.map(c => (c, c)) ++
      hotCells.map(c => (newIdOf(c), c))).toDF("cell", "parent")
    val total = occ.map(_._2).sum // mass is conserved: Σ post-split ≡ Σ occ
    val counts2 = finalAsg.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val w = Window.orderBy(col("n_vecs").desc, col("cell"))
    allCells.join(broadcast(counts2), Seq("cell"), "left")
      .select(col("cell"), col("parent"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
      .withColumn("share_ppm", expr(s"n_vecs * 1000000 div ${total}L"))
      .withColumn("size_rank", row_number().over(w).cast("long"))
      .select("cell", "parent", "n_vecs", "share_ppm", "size_rank")
      .orderBy("cell")
  }

  lazy val q141Sql: String =
    s"""$ivfTrainCtes,
       |asg AS (SELECT vec_id, e, cent_id AS cell FROM a1 WHERE rn = 1),
       |cnt AS (SELECT cell, COUNT(*) AS n_vecs FROM asg GROUP BY cell),
       |hot AS (SELECT cell, hrk FROM (
       |  SELECT cell, CAST(ROW_NUMBER() OVER (ORDER BY n_vecs DESC, cell) AS BIGINT) AS hrk
       |  FROM cnt) WHERE hrk <= $SplitHotCells),
       |mem AS (SELECT a.vec_id, a.e, a.cell FROM asg a JOIN hot h USING (cell)),
       |sid AS (SELECT cell, MIN(vec_id) AS lo, MAX(vec_id) AS hi FROM mem GROUP BY cell),
       |s2 AS (SELECT m.cell, CASE WHEN m.vec_id = s.lo THEN 0 ELSE 1 END AS sub, m.e AS ce
       |       FROM mem m JOIN sid s USING (cell)
       |       WHERE m.vec_id = s.lo OR m.vec_id = s.hi),
       |b0 AS (SELECT m.vec_id, m.e, m.cell, s.sub,
       |         ROW_NUMBER() OVER (PARTITION BY m.vec_id ORDER BY
       |           list_inner_product(m.e, m.e) - 2 * list_inner_product(m.e, s.ce)
       |             + list_inner_product(s.ce, s.ce), s.sub) AS rn
       |       FROM mem m JOIN s2 s USING (cell)),
       |asgb AS (SELECT vec_id, e, cell, sub FROM b0 WHERE rn = 1),
       |mxb AS (SELECT cell, sub, i,
       |          SUM(CAST(floor(e[CAST(i + 1 AS INTEGER)] * $CentFixedScale) AS BIGINT)) AS fs,
       |          COUNT(*) AS fn
       |        FROM (SELECT cell, sub, unnest(range(0, len(e))) AS i, e FROM asgb)
       |        GROUP BY cell, sub, i),
       |meanb AS (SELECT cell, sub, list((CAST(fs AS DOUBLE) / fn) / $CentFixedScale.0 ORDER BY i) AS ce_new
       |          FROM mxb GROUP BY cell, sub),
       |cb AS (SELECT s.cell, s.sub, COALESCE(m.ce_new, s.ce) AS ce
       |       FROM s2 s LEFT JOIN meanb m ON s.cell = m.cell AND s.sub = m.sub),
       |b1 AS (SELECT m.vec_id, m.cell, c.sub,
       |         ROW_NUMBER() OVER (PARTITION BY m.vec_id ORDER BY
       |           list_inner_product(m.e, m.e) - 2 * list_inner_product(m.e, c.ce)
       |             + list_inner_product(c.ce, c.ce), c.sub) AS rn
       |       FROM mem m JOIN cb c USING (cell)),
       |fin AS (
       |  SELECT a.vec_id, a.cell FROM asg a LEFT JOIN hot h USING (cell)
       |  WHERE h.cell IS NULL
       |  UNION ALL
       |  SELECT b.vec_id,
       |         CASE WHEN b.sub = 0 THEN b.cell ELSE $IvfNList - 1 + h.hrk END AS cell
       |  FROM (SELECT vec_id, cell, sub FROM b1 WHERE rn = 1) b JOIN hot h USING (cell)),
       |cells AS (
       |  SELECT c.cent_id AS cell, c.cent_id AS parent FROM cents c
       |  LEFT JOIN hot h ON c.cent_id = h.cell WHERE h.cell IS NULL
       |  UNION ALL SELECT cell, cell FROM hot
       |  UNION ALL SELECT $IvfNList - 1 + hrk AS cell, cell AS parent FROM hot),
       |cnt2 AS (SELECT cell, COUNT(*) AS n FROM fin GROUP BY cell),
       |tot AS (SELECT SUM(n) AS total FROM cnt2)
       |SELECT cl.cell, cl.parent, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_vecs,
       |       CAST(COALESCE(c.n, 0) * 1000000 // total AS BIGINT) AS share_ppm,
       |       CAST(ROW_NUMBER() OVER (ORDER BY COALESCE(c.n, 0) DESC, cl.cell) AS BIGINT) AS size_rank
       |FROM cells cl LEFT JOIN cnt2 c USING (cell) CROSS JOIN tot
       |ORDER BY cl.cell""".stripMargin

  // ---------------------------------------------------------------- q149
  /** Anchors mined per batch (q149) — the contrastive-training batch is
    * tiny relative to the corpus; the corpus side streams, the anchors
    * broadcast. */
  private val MineAnchors = 8
  private val HardNegK = 5

  /** q149: CONTRASTIVE PAIR MINING (hard-negative mining) — the
    * training-data op behind embedding-model fine-tuning (contrastive /
    * triplet losses need, per anchor, a positive and the HARDEST
    * negatives — the most similar vectors that are NOT in the anchor's
    * positive group). Positive groups here are the q69/q83 fixed-point
    * coarse cells (the label proxy available on this corpus — in
    * production the group key is supervision or q53's near-dup clusters,
    * and this entry is agnostic to which). Output per anchor: the top-1
    * same-cell neighbor (`role='pos'`) and the top-[[HardNegK]]
    * different-cell neighbors (`role='neg'`), cosine-ranked.
    *
    * Scale shape: the ANCHOR side broadcasts (a mining batch is
    * eval-sized; the corpus side never re-partitions for it), cosine is
    * map-side over the broadcast pair, and the per-(anchor, role) top-k
    * is a WindowGroupLimit-pruned window — rank pruning happens before
    * the window shuffle, so the exchange carries ≤ (k+1)·|anchors| rows
    * per partition, not the corpus. The cell assignment reuses the
    * audited q83 broadcast-quantizer pass. At 100 TB: anchors·corpus
    * map-side work, one anchors-keyed bounded exchange — the same shape
    * as q95's query-side broadcast. Mirrors the mining loops in
    * contrastive curation pipelines (reference has no analogue; this is
    * catalog surface beyond it). */
  def q149HardNegatives(s: SparkSession, d: String): DataFrame =
    miningRanked(miningAssigned(s, d))

  /** q149's quantizer half: the corpus with its coarse cell (the audited
    * q83 broadcast pass) — the build side the served variant persists. */
  private[graft] def miningAssigned(s: SparkSession, d: String): DataFrame = {
    val emb = embWithNorm(s, d).filter(col("nrm") > 0).select("vec_id", "e", "nrm")
    emb.crossJoin(broadcast(ccRow(knnCents(emb, corpusNList(s, d)))))
      .withColumn("cell", expr(s"$coarseArgminExpr.cent_id"))
      .select("vec_id", "e", "nrm", "cell")
  }

  /** q149's mining half over any `(vec_id, e, nrm, cell)` frame — shared
    * by the self-contained entry and the artifact-served q153, so the two
    * can never rank differently. */
  private[graft] def miningRanked(assigned: DataFrame): DataFrame = {
    val anchors = assigned.filter(col("vec_id") < MineAnchors)
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nq"), col("cell").as("qcell"))
    val cands = assigned.select(col("vec_id").as("neighbor_id"),
      col("e").as("en"), col("nrm").as("nn"), col("cell").as("ncell"))
    val w = Window.partitionBy("query_id", "role")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    cands.join(broadcast(anchors), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(
        expr("graft_dot(eq, en)") / (col("nq") * col("nn")), 6))
      .withColumn("role",
        when(col("qcell") === col("ncell"), lit("pos")).otherwise(lit("neg")))
      .withColumn("rn", row_number().over(w).cast("long"))
      // conjunct form, not the equivalent (pos∧rn≤1)∨(neg∧rn≤k): the
      // top-level `rn <= k` bound is what InferWindowGroupLimit extracts
      // to prune the rank map-side before the window exchange
      .filter(col("rn") <= HardNegK &&
        (col("role") === "neg" || col("rn") <= 1))
      .select("query_id", "role", "rn", "neighbor_id", "cos_sim")
      .orderBy("query_id", "role", "rn")
  }

  /** q153: MINING SERVED FROM THE PERSISTED LABEL ARTIFACT — the serving
    * decomposition applied to q149 (the q101/q135 convention): the
    * quantizer pass runs ONCE and persists its (vec_id, cell) assignment
    * (in production this is the cell column the IVF code table already
    * carries — the label artifact is free); every subsequent mining batch
    * joins the raw vectors to the ROUND-TRIPPED cells and runs only the
    * broadcast-anchor ranking. At 100 TB mining batches arrive
    * continuously (each training epoch wants fresh hard negatives), so
    * paying the corpus-sized quantizer per batch is the q133 anti-pattern
    * this entry closes. Eager artifact write at construction (priced, the
    * q127 convention); gated under q149's OWN oracle through the
    * round-trip — the strongest form of the serving contract; PlanSpec
    * pins that the serve lineage scans the artifact and runs NO quantizer
    * kernel. */
  def q153MiningServed(s: SparkSession, d: String): DataFrame = {
    val root = Artifacts.datasetScratch(d)
    MineCells.write(miningAssigned(s, d).select("vec_id", "cell"), root)
    val emb = embWithNorm(s, d).filter(col("nrm") > 0).select("vec_id", "e", "nrm")
    miningRanked(emb.join(MineCells.read(s, root), Seq("vec_id"))
      .select("vec_id", "e", "nrm", "cell"))
  }

  /** q153's persisted label artifact: one (vec_id, cell) row per vector. */
  private[graft] val MineCells = Artifacts.FileSet("cells_mine", StructType(Seq(
    StructField("vec_id", LongType), StructField("cell", LongType))))

  lazy val q149Sql: String = {
    val kdist = "list_inner_product(x.e, x.e) - 2 * list_inner_product(x.e, c.ce) + list_inner_product(c.ce, c.ce)"
    val sim = "round(list_inner_product(q.e, n.e) / (q.nrm * n.nrm), 6)"
    s"""WITH e AS (
       |  SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
       |  WHERE sqrt(list_inner_product(e, e)) > 0),
       |kseed AS (SELECT vec_id AS cent_id, e AS ce FROM e WHERE vec_id < $corpusNListSql),
       |ka0 AS (
       |  SELECT x.vec_id, x.e, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |  FROM e x CROSS JOIN kseed c),
       |kmx AS (
       |  SELECT cell, i,
       |         SUM(CAST(floor(e[CAST(i + 1 AS INTEGER)] * $CentFixedScale) AS BIGINT)) AS fs,
       |         COUNT(*) AS fn
       |  FROM (SELECT cent_id AS cell, unnest(range(0, len(e))) AS i, e FROM ka0 WHERE rn = 1)
       |  GROUP BY cell, i),
       |kmean AS (
       |  SELECT cell, list((CAST(fs AS DOUBLE) / fn) / $CentFixedScale.0 ORDER BY i) AS ce_new
       |  FROM kmx GROUP BY cell),
       |kcents AS (
       |  SELECT s.cent_id, COALESCE(m.ce_new, s.ce) AS ce
       |  FROM kseed s LEFT JOIN kmean m ON s.cent_id = m.cell),
       |kassign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT x.vec_id, c.cent_id AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY $kdist, c.cent_id) AS rn
       |    FROM e x CROSS JOIN kcents c)
       |  WHERE rn = 1)
       |SELECT query_id, role, rn, neighbor_id, cos_sim FROM (
       |  SELECT q.vec_id AS query_id,
       |         CASE WHEN kq.cell = kn.cell THEN 'pos' ELSE 'neg' END AS role,
       |         n.vec_id AS neighbor_id, $sim AS cos_sim,
       |         CAST(ROW_NUMBER() OVER (
       |           PARTITION BY q.vec_id, CASE WHEN kq.cell = kn.cell THEN 'pos' ELSE 'neg' END
       |           ORDER BY $sim DESC, n.vec_id) AS BIGINT) AS rn
       |  FROM e q JOIN e n ON q.vec_id <> n.vec_id
       |  JOIN kassign kq ON kq.vec_id = q.vec_id
       |  JOIN kassign kn ON kn.vec_id = n.vec_id
       |  WHERE q.vec_id < $MineAnchors)
       |WHERE (role = 'pos' AND rn <= 1) OR (role = 'neg' AND rn <= $HardNegK)
       |ORDER BY query_id, role, rn""".stripMargin
  }

  // ---------------------------------------------------------------- q151
  /** q151 threshold: the gate corpus has no planted cross-slice near-dups
    * (max train×eval cosine is 0.382 at sf0.001 / 0.493 at sf0.01), so
    * q83's 0.45 would make the sf0.001 spec corpus vacuous; 0.35 keeps
    * actual flag rows inside the hash gate at BOTH spec scales (2 rows at
    * sf0.001, 7 at sf0.01 — measured before the threshold was committed). */
  private val DecontTau = 0.35
  /** Eval slice: vec_id ≡ 7 (mod 100) — a deterministic ~1% held-out set. */
  private val DecontEvalMod = 100
  private val DecontEvalRem = 7

  /** q151: SEMANTIC DECONTAMINATION — the embedding-space analogue of
    * q54's 8-gram rule (GPT-3/PaLM-style decontamination catches exact
    * text overlap; paraphrased or translated eval leakage needs the
    * EMBEDDING test): a train vector is flagged when its cosine against
    * ANY held-out eval vector reaches [[DecontTau]]. Output per flagged
    * train doc: the smallest offending eval id, the max similarity, and
    * how many eval vectors it collides with — the audit row a curation
    * pipeline quarantines on (q68's find→apply pairing applies verbatim:
    * an anti-join of the flagged ids is the clean-export half).
    *
    * Scale shape = q54's broadcast discipline, in embedding space: the
    * eval set is tiny BY DEFINITION (benchmarks are thousands of rows,
    * the train corpus is the 100 TB side), so it collapses to a one-row
    * collect_list broadcast and the whole flag computation is ONE
    * map-side higher-order fold over the train scan — zero shuffles
    * beyond the output sort (PlanSpec pins it). min/max/count over the
    * hit array are order-free, so the row is hash-stable on any
    * partition layout. At larger eval sets the q83 cell-bucketed join is
    * the drop-in replacement (same output contract). */
  def q151SemanticDecon(s: SparkSession, d: String): DataFrame = {
    val emb = embWithNorm(s, d).filter(col("nrm") > 0)
    semanticDeconFrom(
      emb.filter(col("vec_id") % DecontEvalMod =!= DecontEvalRem),
      emb.filter(col("vec_id") % DecontEvalMod === DecontEvalRem),
      DecontTau).orderBy("vec_id")
  }

  /** The q151 core under explicit train/eval frames (both shaped
    * (vec_id, e, nrm)) — the seam for the scale probe, where the eval
    * set stays FIXED-size while the train corpus grows (the gated
    * entry's mod-slice is a gate-corpus convenience; a real benchmark
    * suite does not grow with the train set). Un-ordered. */
  private[graft] def semanticDeconFrom(train: DataFrame, ev: DataFrame,
      tau: Double): DataFrame = {
    val evAgg = ev.agg(collect_list(struct(col("vec_id").as("eid"),
      col("e").as("ee"), col("nrm").as("en"))).as("ev"))
    // the per-row fold over the broadcast eval array goes through the
    // native CosineHits pass (VectorFunctions — bit-identical to the
    // filter/transform + array_min/array_max HOF chain it replaced; the
    // interpreted per-element lambdas walked a materialized 100-struct
    // array four times per train row and dominated the scan: 40.4 s →
    // 5.4 s at 100k×100, measured)
    train.crossJoin(broadcast(evAgg))
      .withColumn("h", expr(s"graft_cos_hits(e, nrm, ev, ${tau}D)"))
      .filter(col("h.n_over") > 0)
      .select(col("vec_id"), col("h.witness_eval_id").as("witness_eval_id"),
        col("h.max_sim").as("max_sim"), col("h.n_over").as("n_over"))
  }

  lazy val q151Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
       |  WHERE sqrt(list_inner_product(e, e)) > 0),
       |ev AS (SELECT vec_id AS eid, e AS ee, nrm AS en FROM e
       |       WHERE vec_id % $DecontEvalMod = $DecontEvalRem),
       |tr AS (SELECT * FROM e WHERE vec_id % $DecontEvalMod <> $DecontEvalRem)
       |SELECT t.vec_id, MIN(v.eid) AS witness_eval_id,
       |       MAX(round(list_inner_product(t.e, v.ee) / (t.nrm * v.en), 6)) AS max_sim,
       |       COUNT(*) AS n_over
       |FROM tr t JOIN ev v
       |  ON round(list_inner_product(t.e, v.ee) / (t.nrm * v.en), 6) >= $DecontTau
       |GROUP BY t.vec_id
       |ORDER BY vec_id""".stripMargin

  val catalog: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q28_ann_topk", q28AnnTopk _, Some(q28Sql)),
    ("q29_ann_lsh", q29AnnLsh _, Some(q29Sql)),
    ("q58_quantize", q58Quantize _, Some(q58Sql)),
    ("q64_centroids", q64Centroids _, Some(q64Sql)),
    ("q69_ivf_trained", q69IvfTrained _, Some(q69Sql)),
    ("q71_lloyd_trained", q71LloydTrained _, Some(q71Sql)),
    ("q72_pq_encode", q72PqEncode _, Some(q72Sql)),
    ("q73_adc_topk", q73AdcTopk _, Some(q73Sql)),
    ("q74_ivfpq_topk", q74IvfPqTopk _, Some(q74Sql)),
    ("q75_ivfpq_residual", q75IvfPqResidual _, Some(q75Sql)),
    ("q160_residual_served", q160ResidualServed _, Some(q160Sql)),
    ("q163_residual_rebalance", q163ResidualRebalanceServed _, Some(q163Sql)),
    // split tier through the versioned policy; full-probe + exact refine
    // closes under the brute-force oracle (geometry-blind by design — the
    // re-encode is gated by the pre-publish audit + the OperatorSpec
    // served ≡ direct-core differential)
    ("q165_residual_split", q165ResidualSplitServed _, Some(q165Sql)),
    ("q77_opq_ivfpq", q77OpqIvfPq _, Some(q77Sql)),
    ("q78_sq8_ivf", q78Sq8Ivf _, Some(q78Sql)),
    ("q79_ann_recall", q79AnnRecall _, Some(q79Sql)),
    ("q82_knn_graph", q82KnnGraph _, Some(q82Sql)),
    ("q83_semdedup", q83SemDedup _, Some(q83Sql)),
    ("q84_label_prop", q84LabelProp _, Some(q84Sql)),
    ("q86_adc_refine", q86AdcRefine _, Some(q86Sql)),
    ("q94_pagerank", q94PageRank _, Some(q94Sql)),
    ("q99_pca_power", q99PcaPower _, Some(q99Sql)),
    ("q100_corr_pairs", q100CorrPairs _, Some(q100Sql)),
    // served ≡ self-contained: the artifact round-trip is gated against
    // q94's own oracle, the strongest form of the serving contract
    ("q101_pagerank_served", q101PageRankServed _, Some(q94Sql)),
    ("q103_pagerank_dangling", q103PageRankDangling _, Some(q103Sql)),
    // served ≡ self-contained for the second graph analytic: gated against
    // q84's own oracle through the artifact round-trip
    ("q105_label_prop_served", q105LabelPropServed _, Some(q84Sql)),
    // the append algebra itself under the oracle: entry = one-sided fold
    // of the held-out tail, oracle = the full rebuild under frozen cents
    ("q106_graph_append", q106GraphAppend _, Some(q106Sql)),
    ("q109_embed_drift", q109EmbedDrift _, Some(q109Sql)),
    ("q110_filtered_ann", q110FilteredAnn _, Some(q110Sql)),
    // live-docs delete under the frozen quantizer: oracle = q74's chain
    // with the delete predicate applied before ranking (NOT a rebuild —
    // a rebuild would retrain; frozen-quantizer is the specified contract)
    ("q127_ann_tombstone", q127AnnTombstoneServed _, Some(q127Sql)),
    ("q131_triangle_count", q131TriangleCount _, Some(q131Sql)),
    ("q132_ivf_balance", q132IvfBalance _, Some(q132Sql)),
    // served ≡ self-contained for the third graph analytic: gated against
    // q131's own oracle through the edge-artifact round trip
    ("q135_triangle_served", q135TriangleServed _, Some(q131Sql)),
    ("q136_filtered_tombstone_ann", q136FilteredTombstoneAnn _, Some(q136Sql)),
    ("q141_cell_split", q141CellSplit _, Some(q141Sql)),
    // served ≡ flat: full-probe serving from the SPLIT artifact closes
    // under q73's own oracle (routing changes where, never what)
    ("q142_split_served", q142SplitServed _, Some(q73Sql)),
    // the same argument in reverse for the MERGE: full-probe serving from
    // the merged artifact degenerates to the flat ADC scan
    ("q144_merge_served", q144MergeServed _, Some(q73Sql)),
    ("q158_ivf_versioned", q158IvfVersionedServed _, Some(q127Sql)),
    ("q149_hard_negatives", q149HardNegatives _, Some(q149Sql)),
    ("q151_semantic_decon", q151SemanticDecon _, Some(q151Sql)),
    // served ≡ self-contained for the mining family: gated against q149's
    // own oracle through the label-artifact round trip
    ("q153_mining_served", q153MiningServed _, Some(q149Sql)),
  )
}
