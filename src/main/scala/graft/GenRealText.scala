package graft

import org.apache.spark.sql.SaveMode
import graft.obs.Session

/** Deterministic REALISTIC-text corpus generator — the round-16 gap (c)
  * closer: GenCorpus's vocabulary contains no English function words, so
  * the q154 curation funnel drops 100% at stage 1 there and the q20/q21
  * rules were scale-untested. This generator produces text the curation
  * rules actually DISCRIMINATE on, with every funnel stage non-vacuous by
  * construction:
  *
  *  - ~72% English-like: Zipf-weighted function-word head (the/a/and/…,
  *    the q20 stopword list) interleaved ~35% into a Zipf-weighted
  *    content tail over a ~4,200-pseudo-word vocabulary (syllable
  *    products — large enough that word-trigram document frequencies
  *    vary, giving All-Pairs prefix filtering REAL selectivity, unlike
  *    GenCorpus's deliberately low-entropy 49-word vocabulary);
  *  - ~8% German/French-like (der/die/das/und, le/la/les/et heads) —
  *    dropped at the funnel's language stage;
  *  - ~5% quality junk (under 20 words, or punctuation-heavy, or
  *    stopword-free) — dropped at the quality stage;
  *  - ~8% byte-identical duplicate-cluster members — dropped at the
  *    exact-dup stage (and the cross-eval copies feed decontamination:
  *    a clone whose sibling landed in the doc_id % 11 holdout shares all
  *    its 8-gram fingerprints);
  *  - ~15% near-dup mutation band straddling the 0.6 trigram-Jaccard
  *    threshold — partially dropped at the near-dup stage;
  *  - ~6% EXCERPTS: short contiguous slices (≤ base/4 words) of a base
  *    doc — containment ≈ 1, Jaccard ≪ 0.6, so only the q162 rule (the
  *    funnel's excerpt stage, the streamed dup_excerpt gate) drops them.
  *
  * NOTE (round-18): the excerpt band is carved from the former
  * fresh-unique tail, so per-band counts (and the q53/funnel anchors)
  * shift vs the round-17 corpus — regenerate /tmp/sfreal{,1m} before
  * comparing against earlier BASELINE rows.
  *
  * Everything is seeded by doc_id (bit-identical across runs/machines);
  * generation is distributed (spark.range → per-row seeded RNG), the
  * GenCorpus convention. `graft.GenRealText [outDir] [nDocs]`
  * (default /tmp/sfreal 100000). */
object GenRealText {

  /** English function words, Zipf-weighted — the q20/q21 stopword and
    * lang-ID sets are subsets, so stop_ratio and en_n are non-trivial. */
  private val FuncEn: Array[String] = Array(
    "the", "of", "and", "a", "to", "in", "is", "it", "on", "for",
    "with", "as", "was", "at", "by", "be", "this", "that", "from", "or")
  private val FuncDe: Array[String] = Array(
    "der", "die", "das", "und", "ist", "ein", "zu", "den", "mit", "von")
  private val FuncFr: Array[String] = Array(
    "le", "la", "les", "et", "est", "un", "une", "des", "dans", "pour")

  /** ~4,200 pseudo-words: onset × vowel × coda syllable products, 1–3
    * syllables, deterministic. Large vocabulary = varied trigram df =
    * prefix selectivity for the All-Pairs family. */
  private[graft] val Content: Array[String] = {
    val on = Array("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "w")
    val vo = Array("a", "e", "i", "o", "u")
    val syl = for (o <- on; v <- vo) yield o + v
    val one = syl.take(30)
    val two = for (a <- syl; b <- syl.take(42)) yield a + b
    (one ++ two.take(2940) ++ two.drop(2940).take(1230).map(_ + "n")).distinct
  }

  /** Zipf sampler over an array: rank r drawn with P ∝ 1/(r + skew). */
  private def zipfPick(arr: Array[String], rnd: scala.util.Random, skew: Double): String = {
    // inverse-CDF on H(n) ≈ ln((n+skew)/skew): cheap, deterministic, heavy head
    val u = rnd.nextDouble()
    val n = arr.length
    val idx = ((math.exp(u * math.log((n + skew) / skew)) - 1.0) * skew).toInt
    arr(math.min(idx, n - 1))
  }

  private def sentenceWords(n: Int, func: Array[String], funcRate: Double,
      rnd: scala.util.Random): Array[String] =
    Array.fill(n) {
      if (rnd.nextDouble() < funcRate) func(rnd.nextInt(func.length))
      else zipfPick(Content, rnd, 12.0)
    }

  private def baseDoc(baseId: Long): Array[String] = {
    val rnd = new scala.util.Random(baseId * 6133L + 29L)
    sentenceWords(24 + rnd.nextInt(77), FuncEn, 0.35, rnd)
  }

  private def mutate(words: Array[String], rate: Double,
      rnd: scala.util.Random): Array[String] =
    words.flatMap { w =>
      if (rnd.nextDouble() >= rate) Some(w)
      else if (rnd.nextBoolean()) None
      else Some(zipfPick(Content, rnd, 12.0))
    }

  /** Base-36 rendering of a seeded long — the "rare tail" word source for
    * the vocab-stress mode: each is globally unique with overwhelming
    * probability, so `rareWordsPerDoc` > 0 grows the corpus VOCABULARY
    * linearly in docs (the shape that stresses the trainer's collected
    * word-frequency frame — URLs, ids, typos in a real crawl). */
  private def rareWord(docId: Long, k: Int): String =
    java.lang.Long.toString((docId * 40503L + k * 65537L + 11L) * 0x9E3779B97F4A7C15L
      & 0x7FFFFFFFFFFFFFFFL, 36)

  def docText(docId: Long, nBase: Long): String =
    docText(docId, nBase, 0)

  def docText(docId: Long, nBase: Long, rareWordsPerDoc: Int): String = {
    val rnd = new scala.util.Random(docId * 95479L + 41L)
    val roll = rnd.nextDouble()
    val words =
      if (roll < 0.04) // German-like: lang stage drops
        sentenceWords(24 + rnd.nextInt(60), FuncDe, 0.35, rnd)
      else if (roll < 0.08) // French-like: lang stage drops
        sentenceWords(24 + rnd.nextInt(60), FuncFr, 0.35, rnd)
      else if (roll < 0.10) // too short: quality drops
        sentenceWords(5 + rnd.nextInt(14), FuncEn, 0.35, rnd)
      else if (roll < 0.13) // punctuation-heavy boilerplate: passes the
        // language stage (function words present) but punct_ratio ≥ 0.05
        // fails quality — the stage-2 drop population
        Array.fill(30 + rnd.nextInt(30))(
          if (rnd.nextDouble() < 0.35) FuncEn(rnd.nextInt(FuncEn.length))
          else zipfPick(Content, rnd, 12.0) + "=;")
      else if (roll < 0.21) // exact duplicate cluster member
        baseDoc(docId % nBase)
      else if (roll < 0.36) // near-dup band straddling J = 0.6
        mutate(baseDoc(docId % nBase), 0.01 + rnd.nextDouble() * 0.10, rnd)
      else if (roll < 0.42) { // EXCERPT of a base doc (round-18): a 20–23
        // word contiguous slice of a ≥ 60-word base — long enough to PASS
        // the quality stage (q20 keeps ≥ 20 words), containment ≈ 1
        // against the base, Jaccard ≤ ~21/58 ≪ 0.6 — so ONLY the q162
        // containment rule catches it: the funnel's excerpt stage and the
        // streamed dup_excerpt gate are non-vacuous by construction
        var bid = docId % nBase
        var b = baseDoc(bid)
        var tries = 0
        while (b.length < 60 && tries < 8) { // ~52% of bases are ≥ 60 words
          bid = (bid + 1) % nBase; b = baseDoc(bid); tries += 1
        }
        val len = math.min(20 + rnd.nextInt(4), b.length)
        val start = rnd.nextInt(math.max(1, b.length - len + 1))
        b.slice(start, start + len)
      } else // fresh unique English doc
        sentenceWords(24 + rnd.nextInt(77), FuncEn, 0.35, rnd)
    val tail = Array.tabulate(rareWordsPerDoc)(k => rareWord(docId, k))
    (words ++ tail).mkString(" ")
  }

  /** `graft.GenRealText [outDir] [nDocs] [rareWordsPerDoc]` — the third
    * arg (default 0) plants that many globally-unique words per doc,
    * growing the vocabulary LINEARLY in docs: the corpus shape that
    * stresses the local trainer's collected word-frequency frame. */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/sfreal")
    val nDocs = if (args.length > 1) args(1).toLong else 100000L
    val rare = if (args.length > 2) args(2).toInt else 0
    val nBase = math.max(1L, nDocs / 10L)
    val spark = Session.local(Session.cpus)
    import spark.implicits._
    spark.range(nDocs)
      .map { id =>
        val text = docText(id, nBase, rare)
        (id, text, "en", s"src${id % 20}", text.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    println(s"wrote $nDocs realistic docs ($nBase bases) to $out/documents.parquet")
    spark.stop()
  }
}
