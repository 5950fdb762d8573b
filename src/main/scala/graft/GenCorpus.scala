package graft

import org.apache.spark.sql.SaveMode
import graft.obs.Session

/** Deterministic adversarial dedup-corpus generator — the reproducible
  * source of the "sfbig" self-baseline corpus in BASELINE.md.
  *
  * `graft.GenCorpus [outDir] [nDocs]` (default /tmp/sfbig 100000) writes
  * `outDir/documents.parquet`: `nDocs` documents over the driver-testdata
  * vocabulary with the worst-case mix for near-dup detection —
  * exact-duplicate clusters (collapse fast path), heavy near-dup mutation
  * bands straddling the 0.6 Jaccard threshold (maximal surviving +
  * verified-then-rejected pairs), and a mutated-beyond-recognition tail.
  * Everything is seeded by doc_id, so the corpus is bit-identical across
  * runs and machines; non-document tables are symlinked from sf0.1 (see
  * BASELINE.md for the one-liner).
  *
  * Generation is distributed (spark.range → per-row seeded RNG), so the
  * same tool scales to a 10^9-doc corpus on a cluster.
  */
object GenCorpus {
  private[graft] val Vocab: Array[String] = Array(
    "spark", "line", "column", "order", "small", "sort", "fast", "value",
    "scan", "batch", "part", "query", "agg", "table", "hash", "key",
    "group", "join", "filter", "stream", "customer", "vector", "slow",
    "index", "merge", "shuffle", "cache", "plan", "stage", "task",
    "row", "page", "block", "disk", "memory", "code", "gen", "null",
    "type", "schema", "field", "array", "map", "struct", "union",
    "window", "frame", "rank", "lag", "lead")

  private def baseDoc(baseId: Long): Array[String] = {
    val rnd = new scala.util.Random(baseId * 7919L + 17L)
    Array.fill(20 + rnd.nextInt(81))(Vocab(rnd.nextInt(Vocab.length)))
  }

  /** Mutate `words`: each position independently dropped or replaced with
    * probability `rate`. */
  private def mutate(words: Array[String], rate: Double,
      rnd: scala.util.Random): Array[String] =
    words.flatMap { w =>
      if (rnd.nextDouble() >= rate) Some(w)
      else if (rnd.nextBoolean()) None
      else Some(Vocab(rnd.nextInt(Vocab.length)))
    }

  def docText(docId: Long, nBase: Long): String = {
    val base = baseDoc(docId % nBase)
    val rnd = new scala.util.Random(docId * 104729L + 31L)
    val roll = rnd.nextDouble()
    val words =
      if (roll < 0.10) base // byte-identical cluster member
      else if (roll < 0.70) mutate(base, 0.03 + rnd.nextDouble() * 0.22, rnd)
      else mutate(base, 0.45 + rnd.nextDouble() * 0.40, rnd)
    words.mkString(" ")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/sfbig")
    val nDocs = if (args.length > 1) args(1).toLong else 100000L
    val nBase = math.max(1L, nDocs / 10L)
    val spark = Session.local(Session.cpus)
    import spark.implicits._
    val langs = Array("en", "en", "en", "zh", "de", "fr")
    spark.range(nDocs)
      .map { id =>
        val text = docText(id, nBase)
        val rnd = new scala.util.Random(id * 31L + 7L)
        (id, text, langs(rnd.nextInt(langs.length)),
          s"src${id % 20}", text.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    println(s"wrote $nDocs docs ($nBase bases) to $out/documents.parquet")
    spark.stop()
  }
}
