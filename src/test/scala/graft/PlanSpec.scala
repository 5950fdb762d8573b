package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{AsOf, Dedup, Relational}
import graft.obs.Trace

/** Physical-plan regressions: the scale design claims (pushdown, pruning,
  * broadcast strategy, no nested loops in the bucketed as-of) asserted
  * against `explain` output, so a refactor can't silently trade them away.
  * String-matching explain output is blunt but version-stable enough for
  * the properties checked here.
  */
class PlanSpec extends AnyFunSuite with CacheHygiene {
  private val sf = "/root/testdata/sf0.001"
  private def spark = TestSpark.spark

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  /** First partition key of every ENGINE-introduced hash shuffle
    * (ENSURE_REQUIREMENTS) in a formatted plan. REPARTITION_BY_NUM
    * exchanges are excluded deliberately — that distribution is
    * `Tables.spread`'s intentional test-input spread (at scale the scan
    * arrives already partitioned). NOTE formatted explain prints exchange
    * arguments on their own `Arguments:` line, so a substring match on
    * "Exchange hashpartitioning" NEVER fires — rounds ≤7 shipped exactly
    * that vacuous pattern; every exchange-shape guard goes through this
    * helper now. */
  private def shuffleKeys(p: String): Seq[String] =
    "Arguments: hashpartitioning\\((\\w+)#[^\\n]*ENSURE_REQUIREMENTS".r
      .findAllMatchIn(p).map(_.group(1)).toSeq

  /** Physical nodes named exactly `op` in a formatted plan — counted on
    * the numbered `(n) op` detail headers, so `Window` never matches
    * `WindowGroupLimit`. */
  private def nodes(p: String, op: String): Int =
    s"(?m)^\\(\\d+\\) $op( \\[|$$)".r.findAllIn(p).length

  private val FallbackThreshold = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** Plan an IVF search built from a session at Spark's default
    * sort-fallback threshold, and pin the ONE top-k+count pass every IVF
    * search ranks through (Similarity.topkWithCount): the graft_topk
    * partial aggregate runs map-side as an ObjectHashAggregate, and
    * building the search raised the threshold — at the default 128 every
    * candidate row would funnel through a per-partition sort. */
  private def topkPassPlan(df: => org.apache.spark.sql.DataFrame): String = {
    spark.conf.unset(FallbackThreshold)
    val p = plan(df)
    assert(p.contains("partial_graft_topk"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(spark.conf.get(FallbackThreshold) == "4000000",
      "the IVF search left the sort-fallback threshold at Spark's default")
    p
  }

  // Tables.load's schema memo: a warm read of a single-file table plans
  // with no Spark job, and no change that can alter the inferred schema (a
  // rewritten file, a flipped conversion conf, a directory's contents) is
  // ever served a remembered one
  private def planJobs(body: => Unit): Int = Trace(spark.sparkContext)(body)._2.jobs

  test("Tables schema memo: a second load of a single-file table plans with no Spark job") {
    val first = Tables.orders(spark, sf)
    val (second, counts) = Trace(spark.sparkContext)(Tables.orders(spark, sf))
    assert(counts.jobs == 0, counts.toString)
    assert(second.schema == first.schema)
    assert(second.count() == first.count())
  }

  test("Tables schema memo: rewriting a single-file table makes the next load infer its new schema") {
    val dir = Files.createTempDirectory("graft_tables_memo")
    val t = dir.resolve("t.parquet")
    Files.copy(Paths.get(s"$sf/region.parquet"), t)
    assert(Tables.load(spark, dir.toString, "t").schema ==
      spark.read.parquet(s"$sf/region.parquet").schema)
    assert(planJobs(Tables.load(spark, dir.toString, "t")) == 0)
    Files.copy(Paths.get(s"$sf/nation.parquet"), t, StandardCopyOption.REPLACE_EXISTING)
    val (reread, counts) = Trace(spark.sparkContext)(Tables.load(spark, dir.toString, "t"))
    assert(counts.jobs >= 1, "the rewritten file was served the remembered schema")
    assert(reread.schema == spark.read.parquet(s"$sf/nation.parquet").schema)
    assert(reread.count() == spark.read.parquet(s"$sf/nation.parquet").count())
  }

  test("Tables schema memo: flipping nanosAsLong changes the memo key") {
    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.get(conf)
    Tables.events(spark, sf)
    assert(planJobs(Tables.events(spark, sf)) == 0)
    try {
      spark.conf.set(conf, (!before.toBoolean).toString)
      assert(planJobs(Tables.events(spark, sf)) >= 1,
        "a read under the other nanosAsLong value reused the remembered schema")
    } finally spark.conf.set(conf, before)
    assert(planJobs(Tables.events(spark, sf)) == 0)
  }

  test("Tables schema memo: a directory path infers on every read") {
    val dir = Files.createTempDirectory("graft_tables_memo_dir").toString
    spark.range(5).toDF("id").write.parquet(s"$dir/d.parquet")
    Tables.load(spark, dir, "d")
    assert(planJobs(Tables.load(spark, dir, "d")) >= 1)
    assert(planJobs(Tables.load(spark, dir, "d")) >= 1)
  }

  test("q01: filter is pushed to the parquet scan and columns are pruned") {
    val p = plan(Relational.q01ScanProject(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"), p)
    // pruned read schema: exactly the 4 projected columns reach the scan
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_comment"))
  }

  test("q08: dimension joins are broadcast, not shuffled") {
    val p = plan(Relational.q08JoinEqui(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bucketed as-of join plans as an equi hash join, never a nested loop") {
    val p = plan(AsOf.q39AsofBucketed(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("jaccard candidate join is an equi join on prefix tokens") {
    val p = plan(Dedup.q24DedupNgram(spark, sf))
    // the one nested loop allowed is the one-row in-plan budget gate
    assert(gateOnly(p), p)
  }

  test("embedding dedup candidate join is an equi join on LSH buckets") {
    val p = plan(Dedup.q27DedupEmbed(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("collapsed jaccard representative join stays equi") {
    val p = plan(Dedup.q42DedupCollapsed(spark, sf))
    // the one nested loop allowed is the one-row in-plan budget gate
    assert(gateOnly(p), p)
  }

  test("compute-heavy single-file queries keep their AQE-proof spread") {
    // REPARTITION_BY_NUM is the marker of an explicit-count repartition —
    // the only form AQE will never coalesce back to one task (Tables.spread).
    // Guards VERDICT r1 findings 2–3 against silent regression.
    import graft.ops.{Corpus, Skew, TextOps}
    val spreadQueries: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "q05" -> Relational.q05AggGroup(spark, sf),
      "q20" -> TextOps.q20TextStats(spark, sf),
      "q21" -> TextOps.q21LangId(spark, sf),
      "q23" -> Dedup.q23DedupExact(spark, sf),
      "q34" -> Corpus.q34CorpusClean(spark, sf),
      "q40" -> Skew.q40Rollup(spark, sf),
      "q49" -> TextOps.q49Redact(spark, sf))
    spreadQueries.foreach { case (name, df) =>
      assert(plan(df).contains("REPARTITION_BY_NUM"), s"$name lost its spread")
    }
  }

  test("q54 decontamination: eval grams broadcast, train grams never shuffle into the join") {
    import graft.ops.Corpus
    val p = plan(Corpus.q54Decontaminate(spark, sf))
    // the containment check must be a broadcast LEFT SEMI — at 100 TB the
    // train-side gram stream cannot afford a shuffle for it
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("REPARTITION_BY_NUM"), "q54 lost its spread")
    // column pruning: only doc_id + text reach the documents scan
    val rs = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(rs.contains("doc_id") && rs.contains("text") && !rs.contains("lang"), rs)
  }

  test("q55 source mix: per-source stats broadcast back, sampling stays map-side") {
    import graft.ops.Corpus
    val p = plan(Corpus.q55SourceMix(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only allowed cartesian is against the 1-row totals aggregate —
    // one node, which formatted explain prints twice (tree + details)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2, p)
  }

  test("q56 tfidf: df attach is an equi join (vocab stays partitioned), no nested loop") {
    import graft.ops.TextOps
    val p = plan(TextOps.q56Tfidf(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // df is a partial+final count over (doc, term) pairs
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("REPARTITION_BY_NUM"), "q56 lost its spread")
    // the rank<=k filter must push into the window as a group-limit so no
    // full per-doc term ranking is retained
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q57 substring spans: flagged grams return via a left-semi equi join") {
    val p = plan(Dedup.q57SubstrSpans(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("q60 substr clean: span apply is an equi left join + array lambda, no word explode") {
    val p = plan(Dedup.q60SubstrClean(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the cut is the array lambda — only the span subtree's gram explodes
    // (probe + df sides = 2 Generate nodes, each printed twice in formatted
    // output) may appear; a word-level explode of the corpus would add more
    assert("Generate".r.findAllIn(p).length <= 4, p)
  }

  test("q59 edit dedup: candidates come from an equi join on blocking keys") {
    val p = plan(Dedup.q59EditDedup(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("q45 pivot plans as partial+final aggregation with a pruned scan") {
    import graft.ops.Extras
    val p = plan(Extras.q45Pivot(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("user_id") && readSchema.contains("event_type"))
    assert(!readSchema.contains("props") && !readSchema.contains("value"), readSchema)
  }

  test("q47 full outer join is an equi join, never a nested loop") {
    val p = plan(Relational.q47FullOuter(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("FullOuter"), p)
  }

  test("q62 pack: the running token offset is a SHARD-partitioned window, never global") {
    import graft.ops.Corpus
    val p = plan(Corpus.q62PackSequences(spark, sf))
    // a global concatenation order would plan as windowspecdefinition() with
    // no partition keys = one-partition window — the scale killer q62 exists
    // to avoid. The shard key must be in the window spec.
    assert("windowspecdefinition\\(shard#".r.findFirstIn(p).isDefined, p)
    assert(p.contains("REPARTITION_BY_NUM"), "q62 lost its spread")
  }

  test("q63 quantile cut: histogram is partial+final, threshold broadcast back") {
    import graft.ops.Corpus
    val p = plan(Corpus.q63QuantileCut(spark, sf))
    // the value histogram aggregates map-side before its exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only nested loop is against the 1-row threshold aggregate (×2
    // prints) — the histQuantile refactor folded the corpus-count pass into
    // the histogram, so the second 1-row totals aggregate is gone
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2, p)
  }

  test("q67 grouped median: source-partitioned windows over the histogram, no global order") {
    import graft.ops.Corpus
    val p = plan(Corpus.q67GroupedMedian(spark, sf))
    // both windows must carry the source partition key
    assert("windowspecdefinition\\(source#".r.findFirstIn(p).isDefined, p)
    assert(!"windowspecdefinition\\(n_words#".r.findFirstIn(p).isDefined, p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q64 centroids: fixed-point sums aggregate partial+final, no window") {
    import graft.ops.Similarity
    val p = plan(Similarity.q64Centroids(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q65 bloom dedup: map-side probe, verify joins broadcast, corpus never shuffles") {
    val p = plan(Dedup.q65BloomDedup(spark, sf))
    // the probe is the codegen'd expression in a Filter, not a join
    assert(p.contains("graft_bloom_contains"), p)
    // exact verify: both containment joins are broadcast left-semi
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only nested loop is against the 1-row bloom aggregate (×2 prints)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2, p)
  }

  test("q66 variant: map-side extraction with a pruned scan") {
    import graft.ops.Extras
    val p = plan(Extras.q66Variant(spark, sf))
    // only the id + the semi-structured blob reach the scan
    val rs = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(rs.contains("event_id") && rs.contains("props"), rs)
    assert(!rs.contains("user_id") && !rs.contains("value"), rs)
    assert(shuffleKeys(p).isEmpty, shuffleKeys(p).toString)
  }

  test("q68 decont clean: flag and drop are both broadcast joins, train never shuffles") {
    import graft.ops.Corpus
    val p = plan(Corpus.q68DecontClean(spark, sf))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q70 incremental dedup probes one-sided: fresh filter is a left-semi, joins stay equi") {
    val p = plan(Dedup.q70DedupIncremental(spark, sf))
    // only FRESH prefixes enter the candidate join (the left-semi); the
    // candidate/verify joins are equi — nothing n², nothing corpus×corpus
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q69 cell assignment is map-side: no exchange ever carries an embedding") {
    import graft.ops.Similarity
    val p = plan(Similarity.q69AssignProbe(spark, sf))
    // the only exchange allowed is the single-partition collect of the
    // nlist-row centroid set; the corpus side reaches the argmin unshuffled
    assert(shuffleKeys(p).isEmpty, shuffleKeys(p).toString)
    assert(!p.contains("Window"), p)
    // one nested loop against the 1-row centroid aggregate (×2 prints)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2, p)
  }

  test("q71 lloyd trainer: no window, no sort-merge — broadcast passes + tiny aggs only") {
    import graft.ops.Similarity
    val p = plan(Similarity.q71LloydTrained(spark, sf))
    // per round: a map-side broadcast-centroid assignment (the q69 guard
    // covers its shape) + partial+final fixed-point aggs; nothing may
    // introduce a per-vector window or shuffle the corpus for a join
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    // every shuffle is a fixed-point stats agg keyed by cell — nlist-scale
    // rows; nothing ever hash-partitions a vector id
    val ks = shuffleKeys(p)
    assert(ks.nonEmpty && ks.forall(_ == "cell"), ks.toString)
  }

  test("q72 PQ encode is pure map-side: one broadcast codebook row, no shuffle") {
    import graft.ops.Similarity
    val p = plan(Similarity.q72EncodeProbe(spark, sf))
    assert(shuffleKeys(p).isEmpty, shuffleKeys(p).toString)
    assert(!p.contains("Window"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2, p)
  }

  test("q73 ADC scan: codebooks+LUTs broadcast, only the top-k window shuffles (triples, not embeddings)") {
    import graft.ops.Similarity
    val p = plan(Similarity.q73AdcTopk(spark, sf))
    assert(!p.contains("SortMergeJoin"), p)
    // every join is a tiny-side broadcast nested loop (codebook row under
    // codes AND luts, then the 10-row LUT set against the codes scan) —
    // bounded loosely; the real claim is the exchange assertion below
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 12, p)
    // hash exchanges: the per-query top-k on query_id (candidate triples,
    // never an embedding-carrying row) + the (m, cell)-keyed fixed-point
    // codebook training aggs (M·k-scale rows)
    val ks = shuffleKeys(p)
    assert(ks.contains("query_id"), ks.toString)
    assert(ks.toSet.subsetOf(Set("m", "query_id")), ks.toString)
  }

  test("q74 IVF-PQ: candidate join is a broadcast equi join on cell, top-k is the only hash exchange") {
    import graft.ops.Similarity
    val p = topkPassPlan(Similarity.q74IvfPqTopk(spark, sf))
    assert(!p.contains("SortMergeJoin"), p)
    // the cell gate must be an equi hash join with the (query, cell, LUT)
    // side broadcast — the corpus-code side streams through map-side
    assert(p.contains("BroadcastHashJoin"), p)
    // the ONE candidate-path exchange is the query_id top-k+count agg
    // (n_cand rides in it, so the candidate subtree runs once); the rest
    // are the (cell)/(m, cell)-keyed training aggs — tiny rows
    val ks = shuffleKeys(p)
    assert(ks.count(_ == "query_id") == 1, ks.toString)
    assert(ks.toSet.subsetOf(Set("cell", "m", "query_id")), ks.toString)
    // no window sorts the candidate stream: map tasks keep ≤k (score, id)
    // pairs per query inside the partial aggregate
    assert(!p.contains("Window"), p)
  }

  test("q74 append (incremental ingest) is pure map-side: two broadcast rows, no shuffle") {
    import graft.ops.Similarity
    val p = plan(Similarity.q74AppendProbe(spark, sf))
    // fresh vectors assign+encode inside their own tasks: the only joins
    // are against the two one-row artifact broadcasts — nothing may
    // shuffle the batch or window over it
    assert(shuffleKeys(p).isEmpty, shuffleKeys(p).toString)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q77/q78 append (incremental ingest) is pure map-side like q74's") {
    import graft.ops.Similarity
    // rotation + assign + encode under persisted artifacts: the only
    // joins are one-row broadcasts — nothing may shuffle the fresh batch
    Seq(Similarity.q77AppendProbe(spark, sf), Similarity.q78AppendProbe(spark, sf))
      .foreach { df =>
        val p = plan(df)
        assert(shuffleKeys(p).isEmpty, shuffleKeys(p).toString)
        assert(!p.contains("Window"), p)
        assert(!p.contains("SortMergeJoin"), p)
      }
  }

  test("q75 residual IVF-PQ keeps q74's shapes: broadcast cell gate, sole query_id exchange") {
    import graft.ops.Similarity
    val p = topkPassPlan(Similarity.q75IvfPqResidual(spark, sf))
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    val ks = shuffleKeys(p)
    assert(ks.count(_ == "query_id") == 1, ks.toString)
    assert(ks.toSet.subsetOf(Set("cell", "m", "query_id")), ks.toString)
    // same single top-k+count pass as q74: no window over the candidates
    assert(!p.contains("Window"), p)
  }

  test("q77 OPQ keeps q74's shapes; the only extra exchange is the 64-row mean agg") {
    import graft.ops.Similarity
    val p = topkPassPlan(Similarity.q77OpqIvfPq(spark, sf))
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
    // q74's exchange keys plus the rotation's dim-keyed fixed-point mean
    // (i — 64 rows out, corpus-size-independent); nothing may shuffle an
    // embedding-carrying row
    val ks = shuffleKeys(p)
    assert(ks.count(_ == "query_id") == 1, ks.toString)
    assert(ks.contains("i"), ks.toString)
    assert(ks.toSet.subsetOf(Set("cell", "m", "query_id", "i")), ks.toString)
  }

  test("q78 SQ8-IVF keeps q74's shapes: broadcast cell gate, query_id-only candidate exchanges") {
    import graft.ops.Similarity
    val p = topkPassPlan(Similarity.q78Sq8Ivf(spark, sf))
    assert(!p.contains("SortMergeJoin"), p)
    // the cell gate is an equi hash join with the (query, codes) side
    // broadcast; the int8 code table streams through map-side
    assert(p.contains("BroadcastHashJoin"), p)
    val ks = shuffleKeys(p)
    assert(ks.count(_ == "query_id") == 1, ks.toString)
    // coarse-train aggs are (cell[, i])-keyed — tiny fixed-size rows; no
    // exchange may ever carry an embedding-bearing candidate row
    assert(ks.toSet.subsetOf(Set("cell", "query_id")), ks.toString)
    assert(!p.contains("Window"), p)
  }

  test("q80 bucketed join: zero exchange on the join key — only the 5-row rollup shuffles") {
    import graft.sources.Sinks
    val p = plan(Sinks.q80BucketedJoin(spark, sf))
    // the on-disk hash layout stands in for both sides' shuffles: a
    // sort-merge join with no exchange under it, and the per-order agg
    // reuses the same partitioning (HashPartitioning(l_orderkey) satisfies
    // the (l_orderkey, o_orderpriority) clustering)
    assert(p.contains("SortMergeJoin"), p)
    val ks = shuffleKeys(p)
    assert(!ks.contains("l_orderkey") && !ks.contains("o_orderkey"), ks.toString)
    assert(ks.toSet.subsetOf(Set("o_orderpriority")), ks.toString)
  }

  test("redskins pipeline: no shuffle anywhere, ≤ 4 jobs, the golden shape and content") {
    import graft.pipeline.RedskinsPipeline
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val fixtures = getClass.getResource("/fixtures").getPath
    val df = RedskinsPipeline.run(
      RedskinsPipeline.loadNflCsv(spark, s"$fixtures/nfl"),
      RedskinsPipeline.loadElectionsCsv(spark, s"$fixtures/elections/elections.csv"),
      RedskinsPipeline.electionDaysDf(spark, 1976, 2020))
    val (rows, counts) = Trace(spark.sparkContext)(df.collect())
    // the three single-partition sources satisfy every dropDuplicates,
    // window and sort requirement: the 3 broadcasts plus the result
    assert(counts.jobs <= 4, counts.toString)
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case n => Seq(n)
    }
    val shuffles = nodes(df.queryExecution.executedPlan).collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty, df.queryExecution.executedPlan.toString)
    val wrong = rows.filterNot(_.getAs[Boolean]("prediction_results"))
      .map(_.getAs[java.sql.Date]("elec_date").toString.take(4)).toSet
    assert(rows.length == 12 && wrong == Set("2012", "2016") &&
      rows.forall(_.getAs[String]("team") == "Washington"), rows.mkString("\n"))
    // SHA-256 over the rows in output order, fields rendered with toString:
    // the golden parquet's content, pinned here where that file is absent
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toSeq.map(String.valueOf).mkString("\u0001") + "\n")
      .getBytes("UTF-8")))
    assert(md.digest().map("%02x".format(_)).mkString ==
      "92e7ab8b48fc4d011cbb9496667c36d4baa413702d65e7db2f0412bc92ff02a5")
  }

  test("q81 partition prune: only the 2 selected source directories are read, zero shuffle") {
    import graft.sources.Sinks
    val df = Sinks.q81PartitionPrune(spark, sf)
    val p = plan(df)
    // the predicate resolves at planning time against the directory listing
    assert(p.contains("PartitionFilters"), p)
    assert(p.contains("src3"), p)
    assert(shuffleKeys(p).isEmpty, shuffleKeys(p).toString)
    // NOTE inputFiles ignores partition pruning (it lists the relation's
    // whole FileIndex) — the proof that 18 of 20 directories were never
    // opened is the executed scan's numFiles metric
    df.collect()
    // AQE wraps completed stages in QueryStageExec leaves — recurse through
    // them to reach the scan node and its post-execution metrics
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(pl: SparkPlan): Seq[FileSourceScanExec] = pl.flatMap {
      case f: FileSourceScanExec => Seq(f)
      case q: QueryStageExec => scans(q.plan)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case _ => Nil
    }
    val ss = scans(df.queryExecution.executedPlan)
    assert(ss.nonEmpty, df.queryExecution.executedPlan.toString)
    val read = ss.head.metrics("numFiles").value
    val allFiles = df.inputFiles.length
    assert(read > 0 && read <= allFiles / 10 + 1, s"read $read of $allFiles files")
  }

  test("q82 kNN graph: co-partitioned cell join — both corpus sides shuffle by cell, nothing broadcasts a corpus side") {
    import graft.ops.Similarity
    val p = topkPassPlan(Similarity.q82KnnGraph(spark, sf))
    // queries = corpus, so the candidate join must be a shuffled merge join
    // on cell (one shuffle per side), not a broadcast
    assert(p.contains("SortMergeJoin"), p)
    // exact key SET: every shuffle is on cell (pair join + coarse-train
    // aggs) or query_id (the one bounded top-k+count agg), never an
    // embedding-bearing all-pairs key
    val ks = shuffleKeys(p)
    assert(ks.toSet == Set("cell", "query_id"), ks.toString)
    // top-k + n_cand are ONE partial+final ObjectHashAggregate pass over
    // the candidate stream (topkPassPlan) — no window sort of Σ|cell|
    // candidate rows, no second execution of the kernel for the count
    assert(!p.contains("Window"), p)
  }

  test("q83 semdedup: co-partitioned cell pair join; drop-resolution is a partial+final agg, not a window") {
    import graft.ops.Similarity
    val p = plan(Similarity.q83SemDedup(spark, sf))
    // corpus × corpus within-cell pairs: shuffled merge join on cell (one
    // shuffle per side, local join per cell) — a broadcast would be
    // corpus-sized, an inequality-only join would be a nested loop (the
    // BroadcastNestedLoopJoin Cross nodes that DO appear are the intended
    // one-row centroid-set broadcasts, same as every IVF entry)
    assert(p.contains("SortMergeJoin"), p)
    // EVERY engine shuffle is cell-keyed (pair join + coarse-train aggs):
    // the final drop-resolution groupBy(drop_id, cell) reuses the join's
    // cell partitioning (cell ⊆ group keys ⇒ no new exchange), and min/
    // max/count combine map-side — no full-partition window, no drop_id
    // shuffle, nothing ever re-shuffles the candidate set
    val ks = shuffleKeys(p)
    assert(ks.toSet == Set("cell"), ks.toString)
    assert(!p.contains("Window"), p)
  }

  test("q84 label prop: graph built once — final plan's scan count is independent of LpRounds") {
    import graft.ops.Similarity
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // NOTE formatted-explain strings are useless here: explain expands
    // every InMemoryRelation's RECOMPUTE lineage, so the printed text
    // still shows hundreds of scans. The executed plan is the claim —
    // InMemoryTableScan is a leaf; the parquet scans beneath it never run.
    val df = Similarity.q84LabelProp(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    val scans = ns.count(_.isInstanceOf[FileSourceScanExec])
    val cacheReads = ns.count(_.isInstanceOf[InMemoryTableScanExec])
    val smjs = ns.count(_.isInstanceOf[SortMergeJoinExec])
    // round 9's unmaterialized loop executed 102 parquet scans and 14
    // SortMergeJoins at LpRounds = 2 (the subtree tripled per round). With
    // `edges` persisted and `labels` cached per round, the final plan is
    // one node scan joined against the label cache — constants for ANY
    // LpRounds.
    assert(scans <= 2, s"parquet scans = $scans (expected ≤ 2): " +
      ns.collect { case f: FileSourceScanExec => f.nodeName + " " + f.output.map(_.name).mkString(",") }.mkString(" | "))
    assert(cacheReads >= 1, s"cache reads = $cacheReads (expected ≥ 1)")
    assert(smjs <= 2, s"SortMergeJoins = $smjs (expected ≤ 2)")
  }

  test("q84 vote round: equi joins + partial aggs — shuffles carry only neighbor_id/query_id keys") {
    import graft.ops.Similarity
    val sess = spark
    import sess.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (4L, 2L)).toDF("query_id", "neighbor_id")
    val labels = Seq((2L, 7L, 0L), (3L, 8L, 0L)).toDF("vec_id", "lbl", "rnd")
    // 3-row literals sit under autoBroadcastJoinThreshold, so with the
    // default config the plan can contain ZERO hash exchanges and the
    // subset assertion below passes vacuously — disable broadcast so the
    // at-scale exchange structure (both sides corpus-sized) is what's
    // planned and the key assertion bites
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = try plan(Similarity.lpVotes(edges, labels, 1))
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // per-round joins (edges ⋈ labels equi, anti vs labeled) and the two
    // vote aggs keep every exchange on neighbor_id or query_id — tiny
    // integer rows; nothing re-shuffles embeddings or collects
    val ks = shuffleKeys(p)
    assert(ks.nonEmpty, "no hash exchanges planned — assertion would be vacuous:\n" + p)
    assert(ks.toSet.subsetOf(Set("neighbor_id", "query_id")), ks.toString)
    assert(ks.contains("neighbor_id") && ks.contains("query_id"),
      s"expected both the vote join (neighbor_id) and the per-node agg (query_id) exchanges: $ks")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q94 pagerank: graph+outdeg built once — final plan's scan count is independent of PrRounds") {
    import graft.ops.Similarity
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // q84's executed-plan guard applied to the PageRank loop: the edge+
    // outdeg cache and the per-round rank caches mean the final job scans
    // parquet at most twice (node set + the last round's uncached inputs)
    // no matter how many rounds ran — an unmaterialized lineage re-derives
    // the whole recursion and the kNN kernel inside one plan
    val df = Similarity.q94PageRank(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    val scans = ns.count(_.isInstanceOf[FileSourceScanExec])
    val cacheReads = ns.count(_.isInstanceOf[InMemoryTableScanExec])
    assert(scans <= 2, s"parquet scans = $scans (expected ≤ 2): " +
      ns.collect { case f: FileSourceScanExec => f.nodeName + " " + f.output.map(_.name).mkString(",") }.mkString(" | "))
    assert(cacheReads >= 1, s"cache reads = $cacheReads (expected ≥ 1)")
  }

  test("q101 served pagerank: zero rebuild — no kNN kernel anywhere in the served lineage, edges scanned from the artifact") {
    import graft.ops.Similarity
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = Similarity.q101PageRankServed(spark, sf)
    df.collect()
    // walk INTO cached relations: the per-round caches would hide a kernel
    // re-run from a plain executed-plan stringification
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    val full = ns.map(_.toString).mkString("\n")
    assert(!full.contains("graft_near_cells"),
      "served lineage re-runs the coarse argmin — the build cost the artifact exists to amortize")
    assert(!full.contains("graft_topk"), "served lineage re-runs the bounded top-k")
    assert(ns.collect { case f: FileSourceScanExec => f }
      .exists(_.relation.location.rootPaths
        .exists(_.toString.contains(graft.ops.Artifacts.datasetScratch(sf)))),
      "expected a parquet scan rooted at the served edge artifact")
  }

  test("q105 served label-prop: zero rebuild — no kNN kernel anywhere in the served lineage, edges scanned from the artifact") {
    import graft.ops.Similarity
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = Similarity.q105LabelPropServed(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    val full = ns.map(_.toString).mkString("\n")
    assert(!full.contains("graft_near_cells"),
      "served lineage re-runs the coarse argmin — the build cost the artifact exists to amortize")
    assert(!full.contains("graft_topk"), "served lineage re-runs the bounded top-k")
    assert(ns.collect { case f: FileSourceScanExec => f }
      .exists(_.relation.location.rootPaths
        .exists(_.toString.contains(graft.ops.Artifacts.datasetScratch(sf)))),
      "expected a parquet scan rooted at the served edge artifact")
  }

  test("knnGraphAppend: every cell join broadcasts the fresh-derived side — the corpus never shuffles for candidates") {
    import graft.ops.Similarity
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.functions.{col, lit}
    graft.functions.VectorFunctions.register(spark)
    // a real artifact round-trip: edges + cents come from parquet, so the
    // append plan's lineage is clean of the build kernel (the production
    // serving contract — in-memory lineage would smuggle shuffle_merge
    // cell joins from the build into this assertion)
    val dir = java.nio.file.Files.createTempDirectory("knn_append_plan").toString
    Similarity.knnGraphArtifact(spark, sf, s"$dir/edges")
    val edges = spark.read.parquet(s"$dir/edges")
    val cents = spark.read.parquet(s"$dir/edges_cents")
    val base = Similarity.embWithNorm(spark, sf)
      .filter(col("nrm") > 0).select("vec_id", "e", "nrm")
    val fresh = base.limit(40)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("e"))
    val df = Similarity.knnGraphAppend(spark, base, edges, cents, fresh)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    val smj = ns.collect { case s: SortMergeJoinExec => s }
    assert(smj.isEmpty,
      s"append must never plan a corpus-shuffling merge join: ${smj.map(_.leftKeys).mkString(";")}")
    val cellBhj = ns.collect {
      case b: BroadcastHashJoinExec
        if b.leftKeys.exists(_.toString.contains("cell")) ||
          b.rightKeys.exists(_.toString.contains("cell")) => b
    }
    assert(cellBhj.size >= 2,
      s"expected both candidate cell joins to broadcast (fresh probes, fresh index); found ${cellBhj.size}")
  }

  test("q95 bm25: query terms broadcast onto tf, stats one-row attach, top-k group-limited") {
    import graft.ops.TextOps
    val p = plan(TextOps.q95Bm25(spark, sf))
    // the eval-set query-term table broadcasts onto the corpus tf table —
    // never the reverse, and never a real cartesian (the one BNLJ Cross is
    // the one-row corpus-stats attach, the established pattern)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // shuffles: df-count + tf↔df attach on term, score agg + final window
    // on query_id (doc_id never keys an exchange alone) — the token stream
    // itself is map-side (no doc_id-keyed token shuffle)
    val ks = shuffleKeys(p)
    assert(ks.nonEmpty && ks.toSet.subsetOf(Set("term", "query_id")), ks.toString)
    // per-query top-k prunes map-side
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q85 overlap join: bucketed expansion makes the range join EQUI — never a nested loop") {
    import graft.ops.AsOf
    val p = plan(AsOf.q85OverlapJoin(spark, sf))
    // the naive interval-overlap predicate has no equi key and Catalyst
    // would plan BroadcastNestedLoopJoin — the bucket column is the cure
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
    // the only engine shuffles are the sessionization windows on user_id
    // (the bucket join itself broadcasts at this sf; at scale it shuffles
    // on bkt — either satisfies the equi-join requirement)
    val ks = shuffleKeys(p)
    assert(ks.toSet.subsetOf(Set("user_id", "bkt")), ks.toString)
  }

  test("q79 recall eval: approximate side keeps q74's keys, exact side never all-pairs shuffles") {
    import graft.ops.Similarity
    val p = topkPassPlan(Similarity.q79AnnRecall(spark, sf))
    // the brute-force ground truth broadcasts the fixed query panel over
    // the corpus — a shuffled all-pairs join would be the 100-TB killer
    val ks = shuffleKeys(p)
    assert(ks.toSet.subsetOf(Set("cell", "m", "query_id")), ks.toString)
    // the approximate side is q74's single top-k+count pass, so the one
    // Window left is the exact side's brute-force rank; query_id exchanges:
    // one for the approximate top-k, three on the exact side and the join
    assert(nodes(p, "Window") == 1, p)
    assert(ks.count(_ == "query_id") == 4, ks.toString)
  }

  test("q86 refine: shortlist+queries broadcast onto the corpus, query_id-only candidate exchanges") {
    import graft.ops.Similarity
    val p = topkPassPlan(Similarity.q86AdcRefine(spark, sf))
    assert(!p.contains("SortMergeJoin"), p)
    // the refine join must stream the corpus embeddings map-side under the
    // broadcast shortlist — a shuffled refine join moves every embedding
    assert(p.contains("BroadcastHashJoin"), p)
    // q74's one query_id exchange (the shortlist top-k pass) + the final
    // exact-rank top-k; everything else is the tiny training aggs
    val ks = shuffleKeys(p)
    assert(ks.count(_ == "query_id") == 2, ks.toString)
    assert(ks.toSet.subsetOf(Set("cell", "m", "query_id")), ks.toString)
    // the shortlist has no window; the exact re-rank's is the only one,
    // and its rank filter prunes map-side
    assert(nodes(p, "Window") == 1, p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q87 cube: all grouping sets from ONE Expand + partial/final agg pass") {
    import graft.ops.Skew
    val p = plan(Skew.q87Cube(spark, sf))
    assert(p.contains("Expand"), p)
    // one hash exchange keyed by the grouping columns — not one job per set
    val ks = shuffleKeys(p)
    assert(ks.toSet == Set("l_returnflag"), ks.toString)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q88 z-order: interleave is map-side, only the per-bucket agg shuffles") {
    val p = plan(graft.sources.Sinks.q88ZorderLayout(spark, sf))
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    val ks = shuffleKeys(p)
    assert(ks.toSet.subsetOf(Set("bucket")), ks.toString)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q89 zscore: moments are partial+final, stats broadcast back, no window") {
    import graft.ops.Corpus
    val p = plan(Corpus.q89GroupZscore(spark, sf))
    // the group stats must NOT be a window over the events (one task per
    // event_type at scale); they aggregate partial+final and broadcast back
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val ks = shuffleKeys(p)
    assert(ks.toSet.subsetOf(Set("event_type")), ks.toString)
  }

  test("q90 bigrams: built inside the token array (no self-join), count is partial+final, top-k is TakeOrdered") {
    import graft.ops.TextOps
    val p = plan(TextOps.q90BigramTopk(spark, sf))
    assert(!p.contains("Join"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    val ks = shuffleKeys(p)
    assert(ks.toSet.subsetOf(Set("bigram")), ks.toString)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q91 weighted sample: map-side priorities, top-k with zero hash exchange") {
    import graft.ops.Corpus
    val p = plan(Corpus.q91WeightedSample(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(shuffleKeys(p).isEmpty, shuffleKeys(p).toString)
    assert(!p.contains("Window"), p)
  }

  test("q92 heavy hitters: bounded-sketch agg + broadcast candidates — the vocabulary never shuffles") {
    import graft.ops.TextOps
    val p = plan(TextOps.q92HeavyHitters(spark, sf))
    // pass 1: the MG sketch is a typed imperative aggregate — partial
    // sketches (≤ 2T entries each) through a single-partition merge, never
    // a per-token hash exchange
    assert(p.contains("ObjectHashAggregate"), p)
    // pass 2: candidates broadcast back; only candidate-matched rows reach
    // the exact-count shuffle
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val ks = shuffleKeys(p)
    assert(ks.toSet.subsetOf(Set("token")), ks.toString)
  }

  test("q96 hll: one corpus scan feeds both branches; sketches are partial-agg'd, never a bucket shuffle") {
    import graft.ops.TextOps
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = TextOps.q96HllDistinct(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    // the merged '_all_' row derives from the cached per-source sketches —
    // the documents scan happened ONCE, during cache materialization
    assert(ns.count(_.isInstanceOf[FileSourceScanExec]) == 0,
      "final plan re-scanned parquet: the per-source sketch cache was bypassed")
    assert(ns.count(_.isInstanceOf[InMemoryTableScanExec]) >= 2,
      "expected both branches to read the per-source sketch cache")
    // the sketch aggregate is typed-imperative: partial per-partition
    // sketches merge through ObjectHashAggregate — the shuffle carries one
    // 4 KiB buffer per (partition, source), NEVER a per-bucket exchange
    val p = plan(TextOps.q96HllDistinct(spark, sf))
    assert(p.contains("ObjectHashAggregate"), p)
    val ks = shuffleKeys(p)
    assert(ks.toSet.subsetOf(Set("source")), ks.toString)
  }

  test("q97 continuation: two-phase distinct agg (pair dedup then token count), top-k is TakeOrdered") {
    import graft.ops.TextOps
    val p = plan(TextOps.q97Continuation(spark, sf))
    // count+countDistinct over one column plans as the two-phase distinct
    // aggregate: partial (tok, prev) dedup map-side before its exchange,
    // final count keyed tok — never a full-vocabulary window or self-join
    assert("HashAggregate".r.findAllIn(p).length >= 4, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p)
    val ks = shuffleKeys(p)
    assert(ks.nonEmpty && ks.toSet.subsetOf(Set("tok", "prev")), ks.toString)
  }

  test("q110 filtered ANN: the predicate lands on the code table as a semi join — embeddings never shuffle for the filter") {
    import graft.ops.Similarity
    val p = plan(Similarity.q110FilteredAnn(spark, sf))
    // the filtered-IVF shape: a LeftSemi against the predicate subset,
    // applied to 9-byte code rows before candidate generation; the rest
    // is q74's audited serving plan (broadcast LUT probes, query_id-only
    // hash exchanges)
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    val ks = shuffleKeys(p)
    // cell/m exchanges belong to the q74 index build (fixed-point train
    // aggs); query_id to the serve-side top-k; vec_id would be the semi
    // join at scale. A doc/embedding-keyed exchange outside these is red.
    assert(ks.nonEmpty &&
      ks.toSet.subsetOf(Set("query_id", "vec_id", "cell", "m")), ks.toString)
  }

  test("q104 trigram KN: in-array n-gram builds — type-keyed exchanges only, no token-stream self-join, top-k is TakeOrdered") {
    import graft.ops.TextOps
    val p = plan(TextOps.q104KneserNey3(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
    val ks = shuffleKeys(p)
    // every engine-introduced exchange keys a TYPE table (bigram/trigram
    // stats or their join keys) — never doc_id or a raw-token key
    // _groupingexpression = struct-field grouping keys (b.prev/g.prev2 …)
    // get an internal alias in the exchange, the q98 convention
    assert(ks.nonEmpty &&
      ks.toSet.subsetOf(Set("prev", "prev2", "tok", "_groupingexpression")), ks.toString)
  }

  test("q107 KN doc scoring: per-doc types aggregated BEFORE the model join; doc/type-keyed exchanges only") {
    import graft.ops.TextOps
    val p = plan(TextOps.q107KnDocScore(spark, sf))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
    val ks = shuffleKeys(p)
    assert(ks.nonEmpty &&
      ks.toSet.subsetOf(Set("prev", "tok", "doc_id", "_groupingexpression")), ks.toString)
  }

  test("q98 source overlap: no self-join on the gram key — set-collect + in-array pair expansion") {
    import graft.ops.TextOps
    val p = plan(TextOps.q98SourceOverlap(spark, sf))
    // a hot gram shared by s sources would contribute s² rows through a
    // gram-keyed self-join; the plan must instead collect the bounded
    // source set per gram and expand pairs inside the array
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("Join"), p)
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p) // collect_set
    val ks = shuffleKeys(p)
    // _groupingexpression = the (src_a, src_b) pair key (struct-field
    // grouping gets an internal alias in the exchange)
    assert(ks.nonEmpty &&
      ks.toSet.subsetOf(Set("gram", "source", "src_a", "_groupingexpression")),
      ks.toString)
  }

  test("q99 pca: covariance is ONE buffer aggregate, rounds read the cached cov, top-k is TakeOrdered") {
    import graft.ops.Similarity
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = Similarity.q99PcaPower(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    // the final projection job reads the corpus ONCE; mean + covariance
    // live in the one-row/4096-row caches, and the 64×64 power rounds
    // re-derive from the cov cache, never the corpus
    assert(ns.count(_.isInstanceOf[FileSourceScanExec]) <= 1,
      s"final plan re-scanned the corpus: " +
        ns.collect { case f: FileSourceScanExec => f.nodeName }.mkString(","))
    assert(ns.count(_.isInstanceOf[InMemoryTableScanExec]) >= 1,
      "expected the cov/mean caches in the final plan")
    val p = plan(Similarity.q99PcaPower(spark, sf))
    // the d² covariance is a typed-imperative buffer aggregate — one
    // 32 KiB array per partition through the shuffle, never an n·d² explode
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q05: aggregation is partial (map-side) then final") {
    val p = plan(Relational.q05AggGroup(spark, sf))
    // two HashAggregate nodes per agg: partial before the exchange, final after
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q17: global sort+limit plans as TakeOrderedAndProject, not a full sort") {
    val p = plan(Relational.q17SortLimit(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q113 served bm25: no tokenize/count kernel in the scoring lineage — tf/df/stats scanned from the lexical artifact") {
    import graft.ops.Retrieval
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = Retrieval.q113Bm25Served(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    val full = ns.map(_.toString).mkString("\n")
    // the sorted-run tf counter's signature: array_sort over the token
    // array. The served plan tokenizes ONLY the eval-query side (split +
    // slice, no array_sort) — a hit means the index was rebuilt, the cost
    // the artifact exists to amortize
    assert(!full.contains("array_sort"),
      "served lineage re-runs the sorted-run tf counter — lexical index was rebuilt, not served")
    val artifactScans = ns.collect { case f: FileSourceScanExec => f }
      .flatMap(_.relation.location.rootPaths.map(_.toString))
      .filter(_.contains("lexindex"))
    assert(Seq("tf", "df", "stats").forall(t =>
      artifactScans.exists(p => p.contains("lexindex") && p.endsWith(s"/$t"))),
      s"expected parquet scans rooted at lexindex segments' {tf,df,stats}; got $artifactScans")
  }

  test("q158 versioned serve: every parquet scan roots under the RESOLVED version dir — no pre-publish path, no tombstone logic") {
    import graft.ops.{RootPointer, Similarity}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = Similarity.q158IvfVersionedServed(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    val base = s"${graft.ops.Artifacts.datasetScratch(sf)}/ivfver"
    val resolved = RootPointer.resolve(spark, base)
    val scans = ns.collect { case f: FileSourceScanExec => f }
      .flatMap(_.relation.location.rootPaths.map(_.toString))
      .filter(_.contains("ivfver"))
    assert(scans.nonEmpty, "expected artifact scans under the versioned base")
    // the serve side may only read the version the pointer resolves: a
    // scan under any OTHER version dir means the reader escaped the
    // protocol (pre-publish path or a stale root past its grace window)
    val escapees = scans.filterNot(
      _.stripPrefix("file:").startsWith(resolved.stripPrefix("file:")))
    assert(escapees.isEmpty,
      s"serve scans escaped the resolved root $resolved: $escapees")
    // compaction already applied the deletes physically: no anti-join on
    // a tombstone scan may appear in the serve lineage
    assert(!scans.exists(_.contains("tombstones")),
      "compacted serve must not scan tombstones")
  }

  test("q160 residual serve: scans only the compacted artifacts — no train lineage, no tombstone scan, no raw-corpus read") {
    import graft.ops.Similarity
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = Similarity.q160ResidualServed(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    val scans = ns.collect { case f: FileSourceScanExec => f }
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    // the serve side reads the three compacted artifacts plus the
    // embeddings table (the QUERY side — eval vectors are input, not
    // index); it must NOT re-read tombstones (compaction applied them)
    // and must NOT carry the residual-training lineage (books/cents come
    // from parquet, not from pqTrain)
    val art = scans.filter(_.contains("ivfresid"))
    assert(Seq("cents", "books", "codes").forall(t => art.exists(_.endsWith(s"/$t"))),
      s"expected scans of the persisted residual trio; got $art")
    assert(!scans.exists(_.contains("tombstones")),
      "compacted residual serve must not scan tombstones")
    val full = ns.map(_.toString).mkString("\n")
    assert(!full.contains("graft_pq_near") || !full.contains("documents"),
      "serve lineage must not re-train/re-encode from the corpus")
  }

  test("q126 tombstone serve: corrections stay in the artifact — no re-tokenize; tombstone file scanned") {
    import graft.ops.Retrieval
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = Retrieval.q126TombstoneServed(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    val full = ns.map(_.toString).mkString("\n")
    // the delete corrections (tf semi/anti joins, df decrement, stats
    // longs) must be computed FROM the artifact, never by re-tokenizing
    // the corpus: no sorted-run tf counter in the lineage (q113's pin)
    assert(!full.contains("array_sort"),
      "tombstoned serve re-runs the tf counter — corrections were rebuilt, not derived from the artifact")
    val scans = ns.collect { case f: FileSourceScanExec => f }
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(scans.exists(p => p.contains("lextomb") && p.contains("tombstones")),
      s"expected a scan over the tombstone file; got ${scans.filter(_.contains("lextomb"))}")
  }

  test("q115 lex append: served lineage reads BOTH segments and never re-tokenizes the corpus") {
    import graft.ops.Retrieval
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = Retrieval.q115LexAppend(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    val full = ns.map(_.toString).mkString("\n")
    assert(!full.contains("array_sort"),
      "served lineage re-runs the sorted-run tf counter — index was rebuilt, not append-served")
    // the glob union resolves both immutable segments: base postings were
    // NOT rewritten by the append, and the fold reads seg0 + seg1
    val segs = ns.collect { case f: FileSourceScanExec => f }
      .flatMap(_.relation.location.rootPaths.map(_.toString))
      .filter(_.contains("lexappend"))
    Seq("seg0", "seg1").foreach(g => assert(segs.exists(_.contains(g)),
      s"expected a scan over lexappend/$g; got $segs"))
  }

  test("q117 phrase: map-side positional kernel — sorted-run shape, no quadratic per-term filter, no token self-join") {
    import graft.ops.Retrieval
    val p = plan(Retrieval.q117PhraseSearch(spark, sf))
    // the linear kernel's signature: one (term,pos) zip + array_sort per
    // doc. The quadratic alternative (per-distinct-term `size(filter(`)
    // and the token-stream self-join (SortMergeJoin over exploded tokens)
    // are the two regressions the long-doc anchors caught for tf (r12/r13)
    assert(p.contains("array_sort") && p.contains("zip_with"), p.take(800))
    assert(!p.contains("size(filter("),
      "quadratic per-term position filter in the phrase plan")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(800))
  }

  test("q121 proximity: pair fold stays inside the posting arrays — no token-stream self-join") {
    import graft.ops.Retrieval
    val p = plan(Retrieval.q121Proximity(spark, sf))
    // the within-slop pair count is an O(tf₁·tf₂) nested array fold per
    // (query, doc) row — bounded by in-doc term frequency. What must NOT
    // appear: a join of the exploded token stream against itself (the
    // q117 anti-pattern — corpus-sized shuffle per query term)
    assert(p.contains("aggregate(") && p.contains("array_sort"), p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(800))
  }

  test("q128 served collapse: no RDD-backed cluster kernel in the lineage — labels come from the parquet artifact") {
    import graft.ops.Retrieval
    import org.apache.spark.sql.execution.{ExternalRDDScanExec, FileSourceScanExec, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }
    def rddScans(ns: Seq[SparkPlan]) = ns.collect {
      case r: RDDScanExec => r: SparkPlan
      case r: ExternalRDDScanExec[_] => r: SparkPlan
    }
    // q124 runs the q53 star-contraction fixpoint (an RDD kernel — an
    // (External)RDDScanExec leaf); the served variant must NOT: its labels root at
    // the persisted artifact scan, so serve-time cost is the scored pass
    // + one doc-keyed join
    val sdf = Retrieval.q128CollapseServed(spark, sf)
    sdf.collect()
    val sNodes = nodes(sdf.queryExecution.executedPlan)
    assert(rddScans(sNodes).isEmpty,
      "served collapse lineage still contains the RDD cluster kernel")
    assert(sNodes.collect { case f: FileSourceScanExec => f }
      .flatMap(_.relation.location.rootPaths.map(_.toString))
      .exists(_.contains("clusters")),
      "served collapse does not scan the persisted cluster artifact")
    val fdf = Retrieval.q124ClusterCollapsed(spark, sf)
    fdf.collect()
    assert(rddScans(nodes(fdf.queryExecution.executedPlan)).nonEmpty,
      "detector stale: q124's fresh clustering no longer shows an RDD scan")
  }

  test("q125 fuzzy: SymSpell deletion-key equi-join — no nested-loop vocabulary edit-distance scan") {
    import graft.ops.Retrieval
    val p = plan(Retrieval.q125FuzzySearch(spark, sf))
    // the naive kernel — qterms × vocab with a levenshtein predicate — is
    // a BroadcastNestedLoopJoin/CartesianProduct over the whole
    // vocabulary; the SymSpell shape is equi-joins only (deletion keys,
    // then the tf probe), with levenshtein appearing as a FILTER on the
    // joined candidates
    assert(p.contains("levenshtein"), p.take(500))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "fuzzy match degenerated to a nested-loop vocabulary scan")
  }

  test("q120 served phrase: no positional-postings kernel in the match lineage — pp scanned from BOTH artifact segments") {
    import graft.ops.Retrieval
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = Retrieval.q120PhraseServed(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    val full = ns.map(_.toString).mkString("\n")
    // the positional-postings BUILD kernel's signature is the (term, pos)
    // pairing — zip_with(w, sequence(...)). (array_sort can't be the
    // marker here: the match kernel itself sorts the per-i collected
    // structs.) A zip_with hit means postings were rebuilt, not served.
    assert(!full.contains("zip_with"),
      "served lineage re-runs the positional-postings kernel — positions were rebuilt, not served")
    val segs = ns.collect { case f: FileSourceScanExec => f }
      .flatMap(_.relation.location.rootPaths.map(_.toString))
      .filter(_.contains("lexpos"))
    Seq("seg0/pp", "seg1/pp").foreach(g => assert(segs.exists(_.contains(g)),
      s"expected a scan over lexpos/$g; got $segs"))
  }

  test("q114 mmr: final plan holds ≤ MmrSelK window nodes (exponential-copy detector)") {
    import graft.ops.Retrieval
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    // round-13 defect: `sel` was rebuilt referencing itself twice per round
    // with no barrier, so the final plan carried ~2^(MmrSelK-1) copies of
    // the round-1 window subtree (9.96 s for 50 eval-sized rows). Since r20
    // the selection is a driver-side greedy over the collected eval-sized
    // decision tables (its result a LocalRelation leaf), so the final plan
    // must stay window-free and tiny; this detector also catches any future
    // re-distribution of the recursion without barriers.
    val df = Retrieval.q114MmrDiversified(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    val windows = ns.count(_.isInstanceOf[WindowExec])
    assert(windows <= Retrieval.MmrSelK,
      s"q114 final plan has $windows window nodes (> ${Retrieval.MmrSelK}) — " +
        "the selection recursion is re-deriving earlier rounds instead of reading its barriers")
    assert(ns.size <= 60,
      s"q114 final plan has ${ns.size} nodes — exponential lineage is back " +
        "(the barred plan is a checkpoint scan + final sort, ~10 nodes)")
  }

  test("q94 pagerank rounds: each round reads the previous round's cached frame, and the kNN edge kernel runs once, never per round") {
    import graft.ops.Similarity
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // the r19 verdict asked for committed storage/plan evidence that the
    // iterative graph rounds (q94/q101/q103/q84's shared shape) REUSE each
    // round's materialized frame instead of re-deriving prior rounds from
    // lineage. Walking the executed final plan THROUGH the cached plans
    // proves both claims at once: the final round must read the previous
    // ranks from an InMemoryTableScan (a recomputing recursion would
    // inline round r−1's join/agg lineage instead), and the kNN candidate
    // kernel (graft_topk) must appear exactly once in the whole recursive
    // walk — inside the edge cache — never once per round.
    spark.catalog.clearCache()
    val df = Similarity.q94PageRank(spark, sf)
    df.collect()
    // expand each DISTINCT cache's plan once (several rounds legitimately
    // scan the SAME edge cache — expanding it per reference would count
    // one kernel run many times)
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case m: InMemoryTableScanExec =>
        // key on the shared CachedRDDBuilder: relation instances are
        // copied per referencing plan, but one cache = one builder
        if (seen.add(m.relation.cacheBuilder)) m +: nodes(m.relation.cachedPlan)
        else Seq(m)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    val imts = ns.collect { case m: InMemoryTableScanExec => m }
    assert(imts.exists(_.output.exists(_.name == "pr")),
      "the final round does not read the previous round's cached rank frame " +
        "— the recursion is recomputing lineage instead of reusing barriers")
    assert(imts.exists(_.output.exists(_.name == "outdeg")),
      "the edge list is not served from its cache")
    // per-NODE one-line strings (node.toString prints the whole subtree —
    // concatenating those would count every kernel node once per ancestor).
    // One kernel run = one partial + one final aggregate node (+ AQE may
    // re-print one); a per-round re-derivation would add a pair per round.
    val kernelNodes = ns.count(_.simpleString(1000).contains("graft_topk"))
    assert(kernelNodes <= 3,
      s"$kernelNodes graft_topk nodes in the recursive plan walk — rounds " +
        "are re-deriving the edge build instead of reading the cache")
    // a walk WITHOUT cachedPlan expansion: every kernel node must live
    // BEHIND a cache boundary, none in the live final plan
    def liveNodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => liveNodes(q.plan)
      case a: AdaptiveSparkPlanExec => liveNodes(a.executedPlan)
      case n => Seq(n)
    }
    assert(!liveNodes(df.queryExecution.executedPlan)
      .exists(_.simpleString(1000).contains("graft_topk")),
      "the final plan runs the kNN edge kernel LIVE — the edge cache is not serving")
    spark.catalog.clearCache()
  }

  test("q133 fully served retrieval: no tokenize kernel AND no cluster kernel — every arm reads its artifact") {
    import graft.ops.Retrieval
    import org.apache.spark.sql.execution.{ExternalRDDScanExec, FileSourceScanExec, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = Retrieval.q133RetrievalServed(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    val full = ns.map(_.toString).mkString("\n")
    // q113's pin: the sorted-run tf counter (array_sort over the token
    // array) must be absent — the served plan tokenizes ONLY the
    // eval-query side (split + slice)
    assert(!full.contains("array_sort"),
      "served lineage re-runs the sorted-run tf counter — lexical index was rebuilt, not served")
    // q128's pin: no RDD-backed cluster fixpoint in the served lineage
    val rdd = ns.collect {
      case r: RDDScanExec => r: SparkPlan
      case r: ExternalRDDScanExec[_] => r: SparkPlan
    }
    assert(rdd.isEmpty,
      "served lineage still contains the RDD cluster kernel — labels were rebuilt, not served")
    val scans = ns.collect { case f: FileSourceScanExec => f }
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    Seq("tf", "df", "stats").foreach(t => assert(
      scans.exists(p => p.contains("servedfull/") && p.endsWith(s"/$t")),
      s"expected a scan at the servedfull lexical segment's /$t; got $scans"))
    assert(scans.exists(p => p.contains("servedfull/") && p.contains("tombstones")),
      s"expected a scan over the tombstone file; got $scans")
    assert(scans.exists(_.contains("servedfull_clusters")),
      s"expected a scan over the cluster-label artifact; got $scans")
  }

  test("q142 split served: the serve reads the SPLIT artifact (cents/books/codes all post-split)") {
    import graft.ops.Similarity
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = Similarity.q142SplitServed(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case n => Seq(n)
    }
    val scans = nodes(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    Seq("cents", "books", "codes").foreach(t => assert(
      scans.exists(p => p.contains("ivfsplit/split/") && p.endsWith(s"/$t")),
      s"expected a scan at the split artifact's /$t; got $scans"))
    // the serve must NOT read the PRE-split artifacts (that would unsplit
    // the gate); the only non-split scans are the eval query batch
    assert(!scans.exists(p => p.contains("ivfsplit/") && !p.contains("/split/")),
      s"serve read a pre-split artifact: $scans")
  }

  test("q144 merge served: the serve reads the MERGED artifact (cents/books/codes all post-merge)") {
    import graft.ops.Similarity
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = Similarity.q144MergeServed(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case n => Seq(n)
    }
    val scans = nodes(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    Seq("cents", "books", "codes").foreach(t => assert(
      scans.exists(p => p.contains("ivfmerge/merged/") && p.endsWith(s"/$t")),
      s"expected a scan at the merged artifact's /$t; got $scans"))
    // the serve must NOT read the PRE-merge artifacts (that would unmerge
    // the gate); the only non-merged scans are the eval query batch
    assert(!scans.exists(p => p.contains("ivfmerge/") && !p.contains("/merged/")),
      s"serve read a pre-merge artifact: $scans")
  }

  test("q137 subword tokenizer: the greedy fold is map-side — zero engine-introduced hash shuffles") {
    import graft.ops.TextOps
    val p = plan(TextOps.q137SubwordTokens(spark, sf))
    // the budget counter's whole point is composing into q55/q62 for free:
    // per-word greedy matching runs inside the token array (one projection),
    // so the only exchange is the final output sort — any hash shuffle
    // means the tokenizer grew a join or agg it doesn't need
    assert(shuffleKeys(p).isEmpty,
      s"q137 plan has engine hash shuffles on ${shuffleKeys(p)} — the greedy fold must stay map-side")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(600))
  }

  test("q140 subword pack: the running offset stays a SHARD-partitioned window under the subword counter") {
    import graft.ops.TextOps
    val p = plan(TextOps.q140PackSubword(spark, sf))
    // the counter swap must not cost the packer its scale shape: the q62
    // pin verbatim — shard in the window spec, never a global window
    assert("windowspecdefinition\\(shard#".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(600))
  }

  test("q141 cell split: the local 2-means touches only hot-cell members, literal driver-side state") {
    import graft.ops.Similarity
    val p = plan(Similarity.q141CellSplit(spark, sf))
    // the maintenance state (hot set, seed/sub-centroid vectors — index
    // METADATA, ≤ 2m·dim values) rides as literal filters/arrays, so the
    // corpus side never joins anything corpus-sized: an embedding-carrying
    // SortMergeJoin or a cross join of the corpus against itself would
    // mean the split lost its locality; the one join left is the nlist+m
    // row audit attach, broadcast
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r.findFirstIn(p).isDefined,
      "the audit-attach join must broadcast")
  }

  /** One-row gate attaches (the in-plan candidate-mass budget — a
    * broadcast nested loop whose build side is ONE row, the adjudicated
    * scalar-attach convention) are allowed; what must never appear is a
    * corpus-sized nested loop. Proxy: at most ONE BNLJ instance (counted
    * by its numbered details header — the tree line would double-count),
    * and that one must carry the gate's raise (assert_true prints as its
    * desugared `raise_error(USER_RAISED_EXCEPTION, ...)` condition).
    * Plan-wide co-occurrence alone would be vacuous now that every
    * guarded query always carries the gate — a second, corpus-sized BNLJ
    * sneaking in beside it must still fail. */
  private def gateOnly(p: String): Boolean = {
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size
    !p.contains("CartesianProduct") &&
      (bnlj == 0 ||
        (bnlj == 1 && p.contains("raise_error(USER_RAISED_EXCEPTION")))
  }

  test("q134 phash: banded candidates come from an equi join; hamming verify sits under the dedup") {
    import graft.multimodal.MultimodalOps
    val p = plan(MultimodalOps.q134PhashNearDup(spark, sf))
    // candidates = equi join on (band, value) — never an all-pairs scan
    // (the only nested loop allowed is the one-row budget-gate attach)
    assert(gateOnly(p), "phash candidate generation degenerated to all-pairs")
    // the verify-before-dedup ordering (the round-15 measured fix): the
    // hamming filter must appear in the plan BELOW the pair-dedup
    // aggregate, i.e. the first hamming mention comes after (deeper than)
    // the dedup's HashAggregate in formatted bottom-up order — assert the
    // cheap proxy: a Filter on the hamming expression exists and the
    // dedup aggregate keys (a_id, b_id)
    assert(p.contains("bit_count"), p.take(600))
    // the hamming cut must run where candidates are PRODUCED — Catalyst
    // pushes it all the way into the join condition (`Join condition:
    // aggregate(zip_with(...bit_count...)) <= 8`); accept a plain Filter
    // condition too — what must NOT happen is the cut surfacing only
    // above the pair-dedup aggregate (the measured 31M-row shuffle bug)
    assert(p.linesIterator.exists(l =>
      (l.contains("Condition") || l.contains("Join condition")) &&
        l.contains("bit_count") && l.contains("<= 8")),
      "hamming cut is not applied at candidate production")
  }

  test("q143 wide-band phash: same audited plan shape as q134 — equi-join candidates, hamming cut at production") {
    import graft.multimodal.MultimodalOps
    val p = plan(MultimodalOps.q143PhashWideband(spark, sf))
    assert(gateOnly(p), "wide-band candidate generation degenerated to all-pairs")
    assert(p.linesIterator.exists(l =>
      (l.contains("Condition") || l.contains("Join condition")) &&
        l.contains("bit_count") && l.contains("<= 8")),
      "hamming cut is not applied at candidate production")
  }

  test("q145 subwords: vocab enters as a broadcast TABLE, never a literal — plan size independent of vocab size") {
    import graft.ops.TextOps
    val docs = Tables.spread(spark, Tables.documents(spark, sf), "doc_id")
      .select("doc_id", "text")
    def opt(three: Int): String =
      TextOps.subwordVocabCounts(docs, TextOps.genVocab(spark, three))
        .queryExecution.optimizedPlan.toString
    // 1,188 entries vs 18,252: the optimized plan may differ only in the
    // generator's range bound — q137's literal-array formulation would
    // grow the plan by one node PER ENTRY (the codegen blowup this entry
    // exists to avoid)
    val ps = opt(8); val pb = opt(26)
    assert(math.abs(ps.length - pb.length) <= 100,
      s"plan size grew with the vocab: ${ps.length} vs ${pb.length} chars")
    // production tier (round-18): past the 32k entries a real BPE
    // deployment ships, the plan may differ from a 1k table of the SAME
    // source shape only in the range bound — one distinct 4-char entry
    // per id, so only the generator's literal changes with the count
    def vocabN(n: Long) = spark.range(n).selectExpr(
      "char(97 + id % 26) || char(97 + (id DIV 26) % 26) || " +
        "char(97 + (id DIV 676) % 26) || char(97 + (id DIV 17576) % 26) AS v")
    def optN(n: Long): String =
      TextOps.subwordVocabCounts(
          Tables.spread(spark, Tables.documents(spark, sf), "doc_id")
            .select("doc_id", "text"), vocabN(n), Seq(2, 3, 4))
        .queryExecution.optimizedPlan.toString
    val p1k = optN(1000); val p37k = optN(37000)
    assert(math.abs(p37k.length - p1k.length) <= 100,
      s"plan size grew at the 32k tier: ${p37k.length} vs ${p1k.length} chars")
    // round-19: the serve kernel is the native graft_subword_count walk —
    // the vocab rides as ONE broadcast reference object inside the
    // expression (the RankSort convention), so no vocab entry may appear
    // in the plan text and no per-candidate join exists at all
    val ep = plan(TextOps.subwordVocabCounts(docs, TextOps.genVocab(spark)))
    assert(ep.contains("graft_subword_count"),
      "the serve must run the native longest-match kernel")
    assert(!ep.contains("aaa") && !ep.contains("zzz"),
      "vocab entries leaked into the plan as literals")
    // the attach join (counts back onto docs) is the one join allowed;
    // the per-candidate vocab join is gone with the explode
    assert(!ep.contains("Generate explode(slice"),
      "the candidate explode survived the native kernel")
  }

  test("q138 end-to-end RAG serve: no tokenize / no cluster kernel; lex, ivf, and label artifacts all scanned") {
    import graft.ops.Retrieval
    import org.apache.spark.sql.execution.{ExternalRDDScanExec, FileSourceScanExec, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = Retrieval.q138RagServed(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    val full = ns.map(_.toString).mkString("\n")
    assert(!full.contains("array_sort"),
      "served lineage re-runs the sorted-run tf counter — lexical index was rebuilt, not served")
    val rdd = ns.collect {
      case r: RDDScanExec => r: SparkPlan
      case r: ExternalRDDScanExec[_] => r: SparkPlan
    }
    assert(rdd.isEmpty,
      "served lineage still contains the RDD cluster kernel — labels were rebuilt, not served")
    val scans = ns.collect { case f: FileSourceScanExec => f }
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    Seq("tf", "df", "stats").foreach(t => assert(
      scans.exists(p => p.contains("ragserve/lex") && p.endsWith(s"/$t")),
      s"expected a scan at ragserve/lex/.../$t; got $scans"))
    assert(scans.exists(p => p.contains("ragserve/lex") && p.contains("tombstones")),
      "expected a scan over the lexical tombstone file")
    Seq("cents", "books", "codes").foreach(t => assert(
      scans.exists(p => p.contains("ragserve/ivf") && p.endsWith(s"/$t")),
      s"expected a scan at ragserve/ivf/$t; got $scans"))
    assert(scans.exists(p => p.contains("ragserve/ivf") && p.contains("tombstones")),
      "expected a scan over the vector tombstone file")
    assert(scans.exists(_.contains("ragserve/clusters")),
      "expected a scan over the cluster-label artifact")
  }

  test("q138 serve request stays within its stage budget, and the lexical delete correction plans without a job") {
    import graft.ops.Retrieval
    Retrieval.q138RagServed(spark, sf) // builds the artifacts
    val (df, planned) = Trace(spark.sparkContext)(Retrieval.q138Serve(spark, sf))
    // the only planning-time jobs left are schema inference on the six
    // undeclared reads (documents, embeddings, cents, books, codes,
    // clusters): the lexical segments and both tombstone sets declare theirs
    assert(planned.jobs <= 6, s"planning the serve ran ${planned.jobs} jobs")
    val (_, served) = Trace(spark.sparkContext)(df.collect())
    // 37 stages when the IVF top-k and n_cand were a window plus a
    // joined-back count (the candidate subtree ran twice) and each delete
    // correction was a fold + a delta agg + a join; 26 with one top-k+count
    // pass and one aggregate per correction; 17 once the fusion tail, the
    // IVF arm's final order and the one cc/cs row run inside one partition.
    // A serve plan that grows back fails here.
    assert(served.stages <= 17, s"one q138 serve ran ${served.stages} stages (budget 17)")
  }

  test("q138 serve and q111 fusion: no shuffle above the two arms' ranks; the serve's cc/cs rows aggregate without an Exchange SinglePartition") {
    import graft.ops.Retrieval
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case n => Seq(n)
    }
    // the operators from the root down to the union of the two arms
    def tail(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case q: QueryStageExec => tail(q.plan)
      case a: AdaptiveSparkPlanExec => tail(a.executedPlan)
      case u: UnionExec => Seq(u)
      case n => n +: n.children.flatMap(tail)
    }
    Retrieval.q138RagServed(spark, sf) // builds the artifacts
    for ((name, df) <- Seq("q138 serve" -> Retrieval.q138Serve(spark, sf),
        "q111 fusion" -> Retrieval.q111HybridRrf(spark, sf))) {
      df.collect()
      val top = tail(df.queryExecution.executedPlan)
      assert(top.count(_.isInstanceOf[UnionExec]) == 1, s"$name: no single union of the arms")
      val shuffles = top.collect { case e: ShuffleExchangeLike => e.outputPartitioning }
      assert(shuffles.isEmpty, s"$name: the fusion tail shuffles again: $shuffles")
    }
    val serve = Retrieval.q138Serve(spark, sf)
    serve.collect()
    val quant = nodes(serve.queryExecution.executedPlan).collect {
      case a: BaseAggregateExec if a.output.exists(o => o.name == "cc" || o.name == "cs") => a
    }
    assert(quant.flatMap(_.output.map(_.name)).toSet == Set("cc", "cs"),
      s"expected the cc and cs aggregates; got ${quant.map(_.output.map(_.name))}")
    quant.foreach { a =>
      val single = nodes(a).collect {
        case e: ShuffleExchangeLike if e.outputPartitioning == SinglePartition => e
      }
      assert(single.isEmpty,
        s"${a.output.map(_.name)} still aggregates through an Exchange SinglePartition")
    }
  }

  test("q147 complete RAG serve: artifact-only walk incl. positions and vectors; the only RDD leaf is the eval-sized MMR checkpoint") {
    import graft.ops.Retrieval
    import org.apache.spark.sql.execution.{ExternalRDDScanExec, FileSourceScanExec, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // the entry builds the artifacts and runs end-to-end
    val df = Retrieval.q147RagFull(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }
    // WALK 1 — the fused+collapsed serve frame (the entry composes exactly
    // this value; the MMR checkpoint truncates it out of the final plan):
    // both arms + collapse must be artifact-rooted, no tokenize kernel,
    // no RDD cluster kernel
    val fusedDf = Retrieval.q147Fused(spark, sf)
    fusedDf.collect()
    val fn = nodes(fusedDf.queryExecution.executedPlan)
    assert(!fn.map(_.toString).mkString("\n").contains("array_sort"),
      "served lineage re-runs the sorted-run tf counter — lexical index was rebuilt, not served")
    assert(fn.collect {
      case r: RDDScanExec => r: SparkPlan
      case r: ExternalRDDScanExec[_] => r: SparkPlan
    }.isEmpty, "served fused lineage contains an RDD kernel — something was rebuilt, not served")
    val fScans = fn.collect { case f: FileSourceScanExec => f }
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    Seq("tf", "df", "stats").foreach(t => assert(
      fScans.exists(p => p.contains("ragfull/lex") && p.endsWith(s"/$t")),
      s"expected a scan at ragfull/lex/.../$t; got $fScans"))
    Seq("cents", "books", "codes").foreach(t => assert(
      fScans.exists(p => p.contains("ragfull/ivf") && p.endsWith(s"/$t")),
      s"expected a scan at ragfull/ivf/$t; got $fScans"))
    assert(fScans.exists(_.contains("ragfull/clusters")),
      "expected a scan over the cluster-label artifact")
    // WALK 2 — the entry's final plan: the snippet arm reads the PERSISTED
    // positional postings, and the only RDD leaf permitted is the
    // eval-sized MMR selection (schema carries sel_rnk — a cluster/kNN
    // kernel leaf would carry other columns; since r20 the selection is a
    // LocalRelation, so normally there is NO RDD leaf at all)
    val ns = nodes(df.queryExecution.executedPlan)
    val rddBad = ns.collect {
      case r: RDDScanExec if !r.output.map(_.name).contains("sel_rnk") => r: SparkPlan
      case r: ExternalRDDScanExec[_] => r: SparkPlan
    }
    assert(rddBad.isEmpty,
      s"non-MMR RDD leaves in the served lineage: ${rddBad.map(_.nodeName)}")
    val scans = ns.collect { case f: FileSourceScanExec => f }
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(scans.exists(p => p.contains("ragfull/lex") && p.endsWith("/pp")),
      s"expected the snippet arm to scan the persisted positional postings; got $scans")
  }

  test("q135 served triangles: zero rebuild — no kNN kernel in the served lineage, edges scanned from the artifact") {
    import graft.ops.Similarity
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = Similarity.q135TriangleServed(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    val full = ns.map(_.toString).mkString("\n")
    assert(!full.contains("graft_near_cells"),
      "served lineage re-runs the coarse argmin — the build cost the artifact exists to amortize")
    assert(!full.contains("graft_topk"), "served lineage re-runs the bounded top-k")
    assert(ns.collect { case f: FileSourceScanExec => f }
      .exists(_.relation.location.rootPaths.exists(_.toString.contains("edges_tri"))),
      "expected a parquet scan rooted at the served edge artifact")
  }

  test("q153 served mining: no quantizer kernel in the serve lineage, cells scanned from the label artifact") {
    import graft.ops.Similarity
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = Similarity.q153MiningServed(spark, sf)
    df.collect()
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl.flatMap {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    val full = ns.map(_.toString).mkString("\n")
    assert(!full.contains("graft_near_cells"),
      "served mining re-runs the coarse argmin — the build cost the label artifact exists to amortize")
    assert(ns.collect { case f: FileSourceScanExec => f }
      .exists(_.relation.location.rootPaths.exists(_.toString.contains("cells_mine"))),
      "expected a parquet scan rooted at the served cell-label artifact")
    // the ranking half keeps q149's shape through the round trip
    assert(full.contains("WindowGroupLimit"), "served mining lost the rank pruning")
  }

  test("q149 mining: anchors broadcast onto the corpus stream; per-(anchor, role) top-k is group-limit pruned") {
    import graft.ops.Similarity
    val p = plan(Similarity.q149HardNegatives(spark, sf))
    // the only joins are broadcast theta joins (the one-row quantizer
    // attach + the eval-sized anchor batch) — the corpus side never
    // re-partitions for the mining pass
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // rank pruning fires BEFORE the window shuffle: the exchange carries
    // per-partition top-k survivors, not |anchors| × corpus rows
    assert(p.contains("WindowGroupLimit"), p)
    // hash shuffles: the quantizer's nlist-bounded cell aggregations (the
    // audited q69 build pass) plus the anchors-keyed window — nothing
    // corpus-keyed ever enters an exchange for the mining itself
    assert(shuffleKeys(p).toSet.subsetOf(Set("cell", "query_id")),
      shuffleKeys(p).toString)
  }

  test("q151 semantic decon: eval side is a one-row broadcast, the flag fold is map-side — train never hash-shuffles") {
    import graft.ops.Similarity
    val p = plan(Similarity.q151SemanticDecon(spark, sf))
    // q54's discipline in embedding space: the train scan flows straight
    // through the broadcast attach + higher-order fold; no join shuffle
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(shuffleKeys(p).isEmpty,
      s"train side must not hash-shuffle: ${shuffleKeys(p)}")
  }
}
