package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType
import graft.functions.{BloomAgg, BloomContains, CovAgg, DotProductD, HllAgg, HllMergeAgg, HllStats, MGAgg, MinHashAgg, NearCells, PqNearCells, SimHashAgg, SrpBuckets, TopKAgg}

/** Session-extension installer: a builder's
  * `.withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.GraftExtensions`) makes the engine's native
  * expressions available in every session — including pure-SQL clients —
  * without per-query registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - dot product of two array<double>"),
      (exprs: Seq[Expression]) => DotProductD(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      info("graft_minhash", "graft_minhash(h, k) - k-minhash signature aggregate"),
      (exprs: Seq[Expression]) => MinHashAgg(exprs.head, exprs(1) match {
        case Literal(i: Int, IntegerType) => i
        case other => throw new IllegalArgumentException(
          s"graft_minhash k must be an int literal, got $other")
      })))
    ext.injectFunction((
      FunctionIdentifier("graft_srp_buckets"),
      info("graft_srp_buckets",
        "graft_srp_buckets(e, tables, bits) - per-table SRP-LSH bucket ids of an array<double>"),
      (exprs: Seq[Expression]) => {
        def intLit(e: Expression, what: String): Int = e match {
          case Literal(i: Int, IntegerType) => i
          case other => throw new IllegalArgumentException(
            s"graft_srp_buckets $what must be an int literal, got $other")
        }
        val tables = intLit(exprs(1), "tables")
        val bits = intLit(exprs(2), "bits")
        // planes are md5-derived from the (tables × bits) shape alone, so the
        // pure-SQL surface needs no side-channel plane argument
        SrpBuckets(exprs(0),
          graft.ops.Similarity.srpPlanes(tables * bits).flatten.toSeq, tables, bits)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      info("graft_bloom_agg",
        "graft_bloom_agg(h, numBits, numHashes) - OR-merging Bloom membership sketch aggregate"),
      (exprs: Seq[Expression]) => {
        def intLit(e: Expression, what: String): Int = e match {
          case Literal(i: Int, IntegerType) => i
          case other => throw new IllegalArgumentException(
            s"graft_bloom_agg $what must be an int literal, got $other")
        }
        BloomAgg(exprs.head, intLit(exprs(1), "numBits"), intLit(exprs(2), "numHashes"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      info("graft_bloom_contains",
        "graft_bloom_contains(bloom, h) - probe a graft_bloom_agg filter"),
      (exprs: Seq[Expression]) => BloomContains(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      info("graft_simhash", "graft_simhash(mask, bits) - simhash signature aggregate"),
      (exprs: Seq[Expression]) => SimHashAgg(exprs.head, exprs(1) match {
        case Literal(i: Int, IntegerType) => i
        case other => throw new IllegalArgumentException(
          s"graft_simhash bits must be an int literal, got $other")
      })))
    ext.injectFunction((
      FunctionIdentifier("graft_topk"),
      info("graft_topk", "graft_topk(score, id, k) - bounded per-group top-k aggregate"),
      (exprs: Seq[Expression]) => TopKAgg(exprs(0), exprs(1), exprs(2) match {
        case Literal(i: Int, IntegerType) => i
        case other => throw new IllegalArgumentException(
          s"graft_topk k must be an int literal, got $other")
      })))
    ext.injectFunction((
      FunctionIdentifier("graft_mg"),
      info("graft_mg", "graft_mg(item, capacity) - Misra-Gries heavy-hitter sketch aggregate"),
      (exprs: Seq[Expression]) => MGAgg(exprs(0), exprs(1) match {
        case Literal(i: Int, IntegerType) => i
        case other => throw new IllegalArgumentException(
          s"graft_mg capacity must be an int literal, got $other")
      })))
    ext.injectFunction((
      FunctionIdentifier("graft_hll_agg"),
      info("graft_hll_agg", "graft_hll_agg(bucket, rho) - HLL register-sketch aggregate (binary)"),
      (exprs: Seq[Expression]) => HllAgg(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_hll_merge"),
      info("graft_hll_merge", "graft_hll_merge(sketch) - max-merge already-built HLL sketches"),
      (exprs: Seq[Expression]) => HllMergeAgg(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_hll_stats"),
      info("graft_hll_stats", "graft_hll_stats(sketch) - (v_empty, s_scaled) register stats"),
      (exprs: Seq[Expression]) => HllStats(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_cov"),
      info("graft_cov", "graft_cov(cx, d) - fixed-point d^2 second-moment sums aggregate"),
      (exprs: Seq[Expression]) => CovAgg(exprs(0), exprs(1) match {
        case Literal(i: Int, IntegerType) => i
        case other => throw new IllegalArgumentException(
          s"graft_cov d must be an int literal, got $other")
      })))
    ext.injectFunction((
      FunctionIdentifier("graft_near_cells"),
      info("graft_near_cells",
        "graft_near_cells(e, cents, k) - k nearest coarse cells of an array<double>"),
      (exprs: Seq[Expression]) => NearCells(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_pq_near"),
      info("graft_pq_near",
        "graft_pq_near(se, cs, m, k) - per-subspace PQ codeword argmin"),
      (exprs: Seq[Expression]) => PqNearCells(exprs(0), exprs(1), exprs(2), exprs(3))))
  }
}
