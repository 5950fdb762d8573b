package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every catalog query on SPARK_GRAFT_SF_DIR and prints
  * ONE JSON line. Each query is fully executed via the built-in `noop` sink
  * (a `count()` would let Catalyst prune projections and skip most of the
  * work); a full untimed warm-up pass absorbs first-job costs (codegen,
  * file-index, JIT) so per-query numbers reflect steady state, and the
  * plan-keyed cache is cleared between queries so no measurement reuses
  * another's (or its own warm-up's) cached data.
  *
  * Measurement validity: the round-3 record showed a +17% total vs round 2
  * with ZERO query code changed between the runs — single-machine contention
  * (another JVM compiling, background I/O) inflates timings multiplicatively
  * and uniformly, and best-of-2 could not filter a spike that hit both
  * passes. Hence best-of-THREE interleaved passes (min per query): a
  * transient load burst must span all three full passes — minutes apart —
  * to survive into the headline number. NEVER run the bench while another
  * Spark JVM is active on the machine; that once turned a 1.3 s query into
  * 21.8 s.
  *
  * Reproducibility (measured, not assumed): three consecutive same-session
  * runs of this protocol on an otherwise-idle machine (sf0.1, local[32],
  * 2026-08-12, the then-53-query catalog — before q54/q55 added ~1.3 s)
  * totalled 35.28 / 33.36 / 35.54 s — runs 1 and 3 within 0.7%
  * of each other, the full three-run band 6% (±3% around the 34.7 s mean;
  * run 2 a uniformly-fast outlier, every query faster, i.e. machine-state
  * noise, not any query's behavior). Read round-over-round totals
  * accordingly: deltas inside ~±5% are measurement noise; only a >10% move
  * — or a single query moving far outside its band — is attributable to
  * code. On the round-5 59-query catalog the same protocol measured
  * 37.97 s, with the 53-query core at 33.73 s — inside the 34.7 s ± 3%
  * band above — and the six additions (q54–q59) contributing 4.2 s.
  *
  * A query that fails in some-but-not-all passes is reported under "flaky"
  * and its surviving timings are kept OUT of "value" (the headline total):
  * a single-sample measurement has exactly the transient-spike exposure the
  * min-of-N exists to remove, so folding it in would make totals
  * incomparable across runs. "value" therefore sums clean queries only;
  * consumers see flaky ones in "queries" (their min) and in "flaky".
  */
object Bench {
  private val Passes = 3

  /** Minimal JSON string literal — query names and paths are interpolated
    * into the output line, so quotes/backslashes/control chars must not be
    * able to corrupt it. */
  private[graft] def jstr(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => "\\u%04x".format(c.toInt)
      case c             => c.toString
    }.mkString("\"", "", "\"")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.ui.enabled", "false")
      // keep repeated plan shapes' generated classes resident (the default
      // 100-entry cache evicts within one catalog pass)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // None = the query threw: a failure must surface in the JSON, never be
    // folded into the timings (a fast analysis error would otherwise record
    // as a large best-of-N "speedup")
    def execute(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // queries that cache() internally must not hand their warm cache (or
      // their memory) to the next query — each measurement stands alone
      spark.catalog.clearCache()
      if (ok) Some(sec) else None
    }

    val names = allNames
    // one untimed warm-up pass: JIT + codegen + file-index costs otherwise
    // land on whichever timed query first touches each codepath. Combined
    // with the timed passes below, every query executes 4× — the heaviest
    // generated loops (array intersects, decimal aggs) reach C2 steady
    // state by their third execution (measured: 10.9 → 2.0 → 1.45 s).
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }

    // best-of-3 timed passes, interleaved (pass 1 runs every query, then
    // pass 2, ...): min per query is the standard robust estimator for
    // "what the query costs when nothing else interferes", and interleaving
    // means a contention burst has to outlast the full suite three times
    // over to bias the result
    val passes = Vector.fill(Passes)(names.map(n => n -> execute(n)).toMap)
    val samples: Map[String, Seq[Double]] =
      names.map(n => n -> passes.flatMap(_(n))).toMap
    val results = names.flatMap(n => samples(n).minOption.map(n -> _))
    val failed = names.filter(n => samples(n).isEmpty)
    val flaky = names.filter(n =>
      samples(n).nonEmpty && samples(n).length < Passes)
    val clean = results.filterNot { case (n, _) => flaky.contains(n) }
    // all per-pass samples (in pass order), not just the min: a regression
    // in a later round is attributable from the JSON alone — min moved vs
    // one inflated sample — without a same-machine rerun. Emitted as a
    // SEPARATE, EARLIER stdout line: the driver tail-captures stdout and
    // parses the final line, and in round 5 folding samples into that line
    // grew it past the capture window (BENCH_r05 "parsed": null). The final
    // line must stay compact — see `finalLine`.
    val smp = names.filter(samples(_).nonEmpty)
      .map(n => jstr(n) + ":" + samples(n).mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val total = clean.map(_._2).sum
    println(s"""{"metric":"samples","samples":$smp,"sf":${jstr(sfDir)}}""")
    // BenchLineSpec's 1900-char budget assumes every per-query time renders
    // in 4 chars (< 10 s); assert that assumption at bench time too so a
    // slow query surfaces here, not as a truncated line in post-round judging
    results.filter(_._2 >= 10.0).foreach { case (n, v) =>
      System.err.println(f"[bench] WARNING: $n rendered at $v%.2f s (>= 10 s) — " +
        "wider than the line budget certified by BenchLineSpec")
    }
    val line = finalLine(total, results, failed, flaky, sfDir)
    if (line.length > 1900)
      System.err.println(s"[bench] WARNING: final line ${line.length} chars — " +
        "may overflow the driver's 2000-char tail capture (see BenchLineSpec)")
    println(line)
    spark.stop()
  }

  /** Catalog names in bench order — shared with the line-budget spec. */
  private[graft] def allNames: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted

  /** The FINAL stdout line — the driver's machine-readable perf contract.
    * The driver tail-captures only the last 2000 chars of stdout and, when
    * the bench runs under sbt, a ~80-char `[success] Total time: ...` footer
    * lands AFTER this line inside that window. Rounds 5 and 6 both shipped a
    * final line the window truncated (full-precision seconds: 69 queries ×
    * 9-decimal doubles ≈ 2.2 KB → BENCH "parsed": null). So: per-query
    * seconds are rounded to 2 DECIMALS HERE ONLY (10 ms resolution — well
    * below the documented ±5–10% machine-noise band on every catalog entry;
    * full precision stays on the samples line above, and the headline total
    * keeps 3 decimals as a single value), and — since round 8, when the
    * 80-query catalog outgrew full-name keys (~24 chars/query ⇒ real lines
    * would pass 2000 chars by ~84 queries) — per-query keys are the stable
    * `qNN` NUMERIC PREFIX (the driver contract's own example key shape;
    * ~11 chars/query ⇒ headroom past 140 queries). Full names remain on the
    * samples line; a prefix that ever collided would fall back to the full
    * name rather than silently dropping an entry from the JSON object.
    * Budget asserted by `BenchLineSpec` (≤ 1900 chars including the footer
    * allowance). */
  private[graft] def finalLine(total: Double, results: Seq[(String, Double)],
      failed: Seq[String], flaky: Seq[String], sfDir: String): String = {
    def f(v: Double, p: Int): String = s"%.${p}f".formatLocal(java.util.Locale.ROOT, v)
    def shortKey(k: String): String = k.takeWhile(_ != '_')
    val prefixCount = results.map(r => shortKey(r._1))
      .groupBy(identity).view.mapValues(_.size).toMap
    def render(fv: Double => String): String = {
      val qs = results.map { case (k, v) =>
        val sk = shortKey(k)
        jstr(if (prefixCount(sk) > 1) k else sk) + ":" + fv(v)
      }.mkString("{", ",", "}")
      // errors/flaky are informational extras on top of the driver
      // contract — emitted only when non-empty, so the healthy-run line
      // spends its char budget entirely on the per-query map (the catalog
      // hit the old always-on rendering's budget at 79 queries)
      val errs = if (failed.isEmpty) ""
        else s""","errors":${failed.map(jstr).mkString("[", ",", "]")}"""
      val flk = if (flaky.isEmpty) ""
        else s""","flaky":${flaky.map(jstr).mkString("[", ",", "]")}"""
      s"""{"metric":"total","value":${f(total, 3)},"unit":"sec","queries":$qs$errs$flk,"sf":${jstr(sfDir)}}"""
    }
    // the 1900-char tail budget is HARD (the driver keeps the last 2000
    // chars of stdout, minus the sbt footer); per-query precision is
    // soft — degrade only when the catalog has grown past what the budget
    // holds. The cascade is RESOLUTION-AWARE (added when the 160-query
    // catalog crossed the realistic 2-decimal bound): sub-second values
    // carry the information (a 0.17 s query rounded to 0.2 distorts
    // bench_compare ratios by 18%), multi-second values tolerate a coarser
    // notch (3.07→3.1 is 1%), so the mixed modes drop the big values'
    // precision FIRST. Full per-pass precision is always on the samples
    // line above.
    val modes: Seq[Double => String] = Seq(
      v => f(v, 2),
      v => if (v < 1) f(v, 2) else f(v, 1),
      v => f(v, 1),
      v => if (v < 1) f(v, 1) else f(v, 0),
      v => f(v, 0))
    modes.iterator.map(render).find(_.length <= 1900).getOrElse {
      val last = render(v => f(v, 0))
      // past ~172 queries even 0-decimal rendering overflows the tail
      // budget; warn LOUDLY on stderr (stdout is the parsed channel) so
      // the overflow is a visible event, not a silent "parsed": null
      System.err.println(s"WARNING: bench line is ${last.length} chars at " +
        "0-decimal precision, over the 1900-char driver tail budget - the " +
        "per-query map needs an aggregate-bucket scheme before the catalog " +
        "grows further (BenchLineSpec trips at 170 queries)")
      last
    }
  }
}
