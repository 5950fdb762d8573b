package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.ops.{AsOf, Corpus, Dedup, Extras, Relational, Skew}
import graft.pipeline.RedskinsPipeline
import graft.sources.Sinks

/** catalog-interactive: an analyst's session over relational and
  * analytics catalog entries, one call at a time, each executed to a
  * `noop` sink. Per-query fixed cost (analysis, eager helper jobs,
  * scheduling, broadcasts) dominates; the data-parallel kernels do
  * little. Every round runs each interactive entry once, in a
  * seed-shuffled order.
  *
  * The entries are a fixed subset of the `Relational`, `Extras`, `AsOf`,
  * `Skew` and `Sinks` catalogs, the two curation entries (the q154 funnel
  * and the q53 clustering over a seeded `GenRealText` documents table),
  * plus the flagship `RedskinsPipeline.run` on the committed fixtures: the
  * full list of those modules needs about 45 s for its cold pass alone on
  * 4 cores, most of a run's budget.
  *
  * Layers: one span per call named after the module, with child spans
  * `<module>.plan` (the call that returns the DataFrame, including any
  * eager jobs it runs) and `<module>.exec` (the sink write).
  *
  * Set-up is one cold pass over every entry that writes each result to
  * parquet under `<work>/oracle/<entry>`, with its DuckDB SQL in
  * `oracle_sql.json`, for `run.py` to compare, then one untimed warm
  * round. The pipeline's result is compared here with the golden result's
  * known shape and a recorded content hash. The rounds leave out the two
  * curation entries ([[Catalog.Batch]]). */
final class Catalog(a: Main.Args) extends Main.Workload {
  type Entry = (String, String, (SparkSession, String) => DataFrame, Option[String])

  private val fixtures = a.str("fixtures")
  private val oracleDir = s"${a.work}/oracle"
  private var pipelineRows: Seq[Row] = Nil

  private def pipeline(s: SparkSession, d: String): DataFrame =
    RedskinsPipeline.run(
      RedskinsPipeline.loadNflCsv(s, s"$fixtures/nfl"),
      RedskinsPipeline.loadElectionsCsv(s, s"$fixtures/elections/elections.csv"),
      RedskinsPipeline.electionDaysDf(s, 1976, 2020))

  /** (layer, entry, function, DuckDB SQL); the layer names the span. */
  val entries: Seq[Entry] =
    Seq("Relational" -> Relational.catalog, "Extras" -> Extras.catalog,
      "AsOf" -> AsOf.catalog, "Skew" -> Skew.catalog, "Sinks" -> Sinks.catalog,
      "Corpus.q154CurationFunnel" -> Corpus.catalog, "Dedup.q53DedupClusters" -> Dedup.catalog)
      .flatMap { case (m, cat) => cat.map { case (n, f, sql) => (m, n, f, sql) } }
      .filter(e => Catalog.Included.contains(e._2)) :+
      (("RedskinsPipeline", "redskins_pipeline", pipeline _, None))
  require(entries.size == Catalog.Included.size + 1, "a catalog entry of the subset is missing")

  /** The `documents` table: a seeded `GenRealText` corpus (`run.py` copies
    * the relational tables, the engine's sf0.01 testdata, beside it). */
  override def generate(r: Main.Recorder): Unit = {
    val n = a.int("docs")
    Gen.cached(a.inputs, "_DOCUMENTS", r)(
      Gen.write(a.inputs, "", a.seed, 0, n, math.max(1L, n / 10L), vectors = false))
  }

  def setup(s: SparkSession, r: Main.Recorder): Unit = {
    new scala.util.Random(a.seed * 1000003L - 1).shuffle(entries).foreach {
      case (module, n, f, sql) =>
        r.trace.span(module) {
          val df = r.trace.span(s"$module.plan")(f(s, a.inputs))
          r.trace.span(s"$module.exec") {
            if (sql.isDefined) df.write.mode("overwrite").parquet(s"$oracleDir/$n")
            else pipelineRows = df.collect().toSeq
          }
        }
        s.catalog.clearCache()
    }
    val w = new java.io.PrintWriter(s"$oracleDir/oracle_sql.json", "UTF-8")
    try w.print(Json.obj(entries.collect { case (_, n, _, Some(sql)) => n -> Json.str(sql) }))
    finally w.close()
    // one warm round: after a single cold pass the JIT is still compiling,
    // and the first timed round's figures wandered by 20% between runs
    round(s, r, -2, timed = false)
  }

  private val interactive = entries.filterNot(e => Catalog.Batch.contains(e._2))

  /** Every interactive entry once, in the order `seed` and `n` shuffle to. */
  private def round(s: SparkSession, r: Main.Recorder, n: Int, timed: Boolean): Unit =
    new scala.util.Random(a.seed * 1000003L + n).shuffle(interactive).foreach {
      case (module, _, f, _) =>
        def call(): Unit = {
          val df = r.trace.span(s"$module.plan")(f(s, a.inputs))
          r.trace.span(s"$module.exec")(df.write.format("noop").mode("overwrite").save())
        }
        if (timed) r.op("query", module)(call()) else r.trace.span(module)(call())
        s.catalog.clearCache()
    }

  def run(s: SparkSession, r: Main.Recorder, deadlineNs: Long): Unit = {
    var n = 0
    // whole rounds only, so every entry carries the same weight in the
    // latency distribution whatever the run length
    r.counts("rounds") = Main.loop(deadlineNs) { round(s, r, n, timed = true); n += 1 }
    r.counts("entries") = interactive.size
  }

  def check(s: SparkSession, r: Main.Recorder): Unit = {
    val rows = pipelineRows
    val wrong = rows.filterNot(_.getAs[Boolean]("prediction_results"))
      .map(_.getAs[java.sql.Date]("elec_date").toString.take(4)).toSet
    val shapeOk = rows.length == 12 && wrong == Set("2012", "2016") &&
      rows.forall(x => x.getAs[String]("team") == "Washington")
    val hash = Catalog.contentHash(rows)
    r.info("pipeline_hash") = hash
    r.check("redskins_pipeline", shapeOk && hash == Catalog.PipelineHash,
      s"rows=${rows.length} wrong=${wrong.toSeq.sorted.mkString(",")} hash=$hash")
  }
}

object Catalog {
  /** Two Relational entries and one of each other module; q41, q80 and
    * q85 are the joins that carry the full catalog's latency tail, q154 and
    * q53 the curation kernels. */
  val Included: Set[String] = Set(
    "q08_join_equi", "q15_asof_join", "q44_window_stats", "q85_overlap_join",
    "q41_salted_join", "q80_bucketed_join", "q154_curation_funnel", "q53_dedup_clusters")

  /** Curation calls are batch jobs: they run once per run, in the cold
    * set-up pass, and stay out of the interactive rounds. */
  val Batch: Set[String] = Set("q154_curation_funnel", "q53_dedup_clusters")

  /** SHA-256 of the flagship pipeline's 12-row result on the committed
    * fixtures (rows in output order, fields rendered with `toString`). */
  val PipelineHash = "92e7ab8b48fc4d011cbb9496667c36d4baa413702d65e7db2f0412bc92ff02a5"

  def contentHash(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(row => md.update((row.toSeq.map(String.valueOf).mkString("\u0001") + "\n")
      .getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
