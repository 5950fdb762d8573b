package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.Tables

/** Text-analysis operators for large-scale training-data pipelines:
  * quality scoring, language ID, document fingerprinting, token counting.
  *
  * All pure column expressions (codegen'd builtins — no UDFs), embarrassingly
  * parallel per-row: at 100 TB these run map-side with zero shuffle.
  * DuckDB note: regexp_replace needs the 'g' flag there (Spark replaces all
  * matches by default).
  */
object TextOps {

  val stopwords: Seq[String] = Seq("the", "a", "and", "of", "in", "to", "is", "on")

  private def countIn(words: Column, set: Seq[String]): Column =
    size(filter(words, w => w.isin(set: _*))).cast("long")

  // quality scoring: length, word/token counts, punctuation + stopword ratios
  // (n_chars recomputed, not trusted from the source column).
  /** Adds n_chars_calc, n_words, n_tokens, stop_n, stop_ratio, punct_ratio,
    * quality to a (doc_id, text, …) frame. Pure map-side expressions. */
  private[graft] def withTextStats(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    docs
      .withColumn("n_chars_calc", length(col("text")).cast("long"))
      .withColumn("n_words", size(words).cast("long"))
      .withColumn("n_tokens",
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).cast("long"))
      .withColumn("punct_n",
        length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("long"))
      .withColumn("stop_n", countIn(words, stopwords))
      .withColumn("stop_ratio", col("stop_n").cast("double") / col("n_words"))
      .withColumn("punct_ratio", col("punct_n").cast("double") / col("n_chars_calc"))
      .withColumn("quality",
        when(col("n_words") >= 20 && col("punct_ratio") < 0.05 && col("stop_ratio") >= 0.01, "keep")
          .otherwise("drop"))
  }

  /** The q20 keep rule as ONE boolean Column over a text column — for
    * callers that need the predicate WITHOUT materializing every stat
    * column (the funnel evaluates it conditionally on lang survivors via
    * `when`, so the regexes never run on dropped docs). Subexpression-for-
    * subexpression the same arithmetic as [[withTextStats]]'s `quality`
    * (n_words ≥ 20 ∧ punct_ratio < 0.05 ∧ stop_ratio ≥ 0.01, identical
    * casts); OperatorSpec pins the equivalence row-for-row. */
  private[graft] def qualityKeep(text: Column): Column = {
    val words = split(text, " ")
    val nWords = size(words).cast("long")
    val punctRatio = length(regexp_replace(text, "[a-z0-9 ]", "")).cast("long")
      .cast("double") / length(text).cast("long")
    val stopRatio = countIn(words, stopwords).cast("double") / nWords
    nWords >= 20 && punctRatio < 0.05 && stopRatio >= 0.01
  }

  // spread first: the source is one parquet file = one input split, and the
  // token regexes dominate — without the repartition the whole query runs in
  // a single task (measured 3.3 s → 0.9 s at sf0.1 on 32 cores)
  def q20TextStats(s: SparkSession, d: String): DataFrame =
    withTextStats(Tables.spread(s, Tables.documents(s, d), "doc_id"))
      .select("doc_id", "n_chars_calc", "n_words", "n_tokens", "stop_n",
        "stop_ratio", "punct_ratio", "quality")
      .orderBy("doc_id")

  val q20Sql: String =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars_calc,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens,
      |  CAST(len(list_filter(string_split(text, ' '),
      |       w -> w IN ('the','a','and','of','in','to','is','on'))) AS BIGINT) AS stop_n,
      |  CAST(len(list_filter(string_split(text, ' '),
      |       w -> w IN ('the','a','and','of','in','to','is','on'))) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS stop_ratio,
      |  CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
      |    / length(text) AS punct_ratio,
      |  CASE WHEN len(string_split(text, ' ')) >= 20
      |        AND CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) < 0.05
      |        AND CAST(len(list_filter(string_split(text, ' '),
      |              w -> w IN ('the','a','and','of','in','to','is','on'))) AS DOUBLE)
      |              / len(string_split(text, ' ')) >= 0.01
      |       THEN 'keep' ELSE 'drop' END AS quality
      |FROM documents ORDER BY doc_id""".stripMargin

  // language ID: stopword-hit n-gram heuristic with a fixed priority order on
  // ties (en > de > fr > es > und). Pure map-side expression.
  private val langSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "les", "et"),
    "es" -> Seq("el", "los", "las", "y"))

  /** Adds en_n/de_n/fr_n/es_n hit counts and lang_pred to a (doc_id, text, …)
    * frame. Pure map-side expressions. */
  private[graft] def withLangPred(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    docs
      .withColumn("en_n", countIn(words, langSets(0)._2))
      .withColumn("de_n", countIn(words, langSets(1)._2))
      .withColumn("fr_n", countIn(words, langSets(2)._2))
      .withColumn("es_n", countIn(words, langSets(3)._2))
      .withColumn("lang_pred",
        when(col("en_n") >= col("de_n") && col("en_n") >= col("fr_n") &&
          col("en_n") >= col("es_n") && col("en_n") > 0, "en")
          .when(col("de_n") >= col("fr_n") && col("de_n") >= col("es_n") && col("de_n") > 0, "de")
          .when(col("fr_n") >= col("es_n") && col("fr_n") > 0, "fr")
          .when(col("es_n") > 0, "es")
          .otherwise("und"))
  }

  // spread for the same reason as q20: one row-group in, regex/array work out
  def q21LangId(s: SparkSession, d: String): DataFrame =
    withLangPred(Tables.spread(s, Tables.documents(s, d), "doc_id"))
      .select("doc_id", "lang", "en_n", "de_n", "fr_n", "es_n", "lang_pred")
      .orderBy("doc_id")

  val q21Sql: String = {
    def n(set: Seq[String]) =
      s"CAST(len(list_filter(string_split(text, ' '), w -> w IN (${set.map("'" + _ + "'").mkString(",")}))) AS BIGINT)"
    val (en, de, fr, es) = (n(langSets(0)._2), n(langSets(1)._2), n(langSets(2)._2), n(langSets(3)._2))
    s"""SELECT doc_id, lang, en_n, de_n, fr_n, es_n,
       |  CASE WHEN en_n >= de_n AND en_n >= fr_n AND en_n >= es_n AND en_n > 0 THEN 'en'
       |       WHEN de_n >= fr_n AND de_n >= es_n AND de_n > 0 THEN 'de'
       |       WHEN fr_n >= es_n AND fr_n > 0 THEN 'fr'
       |       WHEN es_n > 0 THEN 'es'
       |       ELSE 'und' END AS lang_pred
       |FROM (SELECT doc_id, lang, $en AS en_n, $de AS de_n, $fr AS fr_n, $es AS es_n
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // document fingerprinting: md5 over whitespace-normalized text, plus a
  // prefix fingerprint (cheap bucketing key for staged dedup).
  def q22Fingerprint(s: SparkSession, d: String): DataFrame = {
    val norm = lower(regexp_replace(col("text"), "\\s+", " "))
    Tables.documents(s, d)
      .withColumn("fp_full", md5(norm))
      .withColumn("fp_head", md5(substring(norm, 1, 64)))
      .select("doc_id", "fp_full", "fp_head")
      .orderBy("doc_id")
  }

  val q22Sql: String =
    """SELECT doc_id,
      |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp_full,
      |  md5(substring(lower(regexp_replace(text, '\s+', ' ', 'g')), 1, 64)) AS fp_head
      |FROM documents ORDER BY doc_id""".stripMargin

  // winnowing fingerprints (the rolling-hash document fingerprint, MOSS-style):
  // hash every k-char gram, keep the minimum hash of each w-gram window,
  // dedupe per doc. Guarantees any shared substring of length ≥ w+k−1
  // produces a shared fingerprint — the content-overlap detector that md5
  // whole-doc fingerprints (q22) cannot provide. Gram hash = first 8 md5 hex
  // digits as a long (portable arithmetic; xxhash64 has no DuckDB twin).
  // Pure map-side per doc — zero shuffle at 100 TB; the k·len md5 work is
  // embarrassingly parallel (spread like the other doc queries).
  private val WinnowK = 8  // gram length (chars)
  private val WinnowW = 16 // window length (grams)

  def q43WinnowFp(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.documents(s, d), "doc_id")
      .filter(length(col("text")) >= WinnowK + WinnowW - 1)
      .withColumn("grams", expr(
        s"""transform(sequence(1, length(text) - ${WinnowK - 1}),
           |  i -> CAST(conv(substring(md5(substring(text, i, $WinnowK)), 1, 8), 16, 10) AS BIGINT))""".stripMargin))
      .withColumn("fp", explode(expr(
        s"""array_distinct(transform(sequence(1, size(grams) - ${WinnowW - 1}),
           |  j -> array_min(slice(grams, j, $WinnowW))))""".stripMargin)))
      .select("doc_id", "fp")
      .orderBy("doc_id", "fp")

  val q43Sql: String =
    s"""WITH g AS (
       |  SELECT doc_id,
       |         list_transform(range(1, length(text) - ${WinnowK - 2}),
       |           i -> CAST(('0x' || substring(md5(text[i:i+${WinnowK - 1}]), 1, 8)) AS BIGINT)) AS grams
       |  FROM documents WHERE length(text) >= ${WinnowK + WinnowW - 1}),
       |f AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, len(grams) - ${WinnowW - 2}),
       |           j -> list_min(grams[j:j+${WinnowW - 1}]))) AS fps
       |  FROM g)
       |SELECT doc_id, unnest(fps) AS fp FROM f ORDER BY doc_id, fp""".stripMargin

  // document chunking: fixed-size word windows with overlap (50-word chunks,
  // 40-word stride → 10 words shared between neighbors) — the split every
  // training pipeline runs before tokenization. One explode per doc, chunk
  // text fingerprinted rather than materialized (the gate compares md5s, a
  // downstream consumer would keep the text). Map-side; at 100 TB the chunk
  // table partitions exactly like its source.
  private val ChunkWords = 50
  private val ChunkStride = 40

  // a start is emitted only while it contributes new words: the previous
  // chunk already covers through cs + Overlap - 1, so the last valid start
  // is n - Overlap (else a ≤10-word tail chunk would be a strict subset of
  // its predecessor — 26% of docs at the testdata length distribution)
  private val ChunkOverlap = ChunkWords - ChunkStride

  def q48Chunk(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"),
        explode(expr(
          s"sequence(1, greatest(1, size(w) - $ChunkOverlap), $ChunkStride)")).as("cs"))
      .select(col("doc_id"), col("cs").cast("long").as("chunk_start"),
        least(lit(ChunkWords), size(col("w")) - col("cs") + 1).cast("long")
          .as("n_chunk_words"),
        md5(concat_ws(" ", expr(s"slice(w, cs, $ChunkWords)"))).as("chunk_fp"))
      .orderBy("doc_id", "chunk_start")

  val q48Sql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |s AS (SELECT doc_id, w,
       |      unnest(range(1, greatest(1, len(w) - $ChunkOverlap) + 1, $ChunkStride)) AS cs FROM d)
       |SELECT doc_id, cs AS chunk_start,
       |       CAST(least($ChunkWords, len(w) - cs + 1) AS BIGINT) AS n_chunk_words,
       |       md5(array_to_string(w[CAST(cs AS INTEGER):CAST(least(cs + ${ChunkWords - 1}, len(w)) AS INTEGER)], ' ')) AS chunk_fp
       |FROM s ORDER BY doc_id, chunk_start""".stripMargin

  // pattern redaction: numbers → a placeholder token (the PII-scrub shape —
  // same regexp_replace machinery an email/phone scrubber runs; the synthetic
  // corpus carries numbers, so the transform is actually exercised).
  // Two-regime note: the spread costs ~0.2 s at sf0.1 (repartition shuffle
  // dominates a tiny scan — 0.24 → 0.43 s when it landed in r4), and that is
  // the DELIBERATE price of not running the whole regex pass as one task on
  // a single-row-group file; at scale the single task is the killer. Do not
  // "fix" the small-SF bench by un-spreading — PlanSpec guards this.
  def q49Redact(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.documents(s, d), "doc_id")
      .withColumn("n_redacted",
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).cast("long"))
      .withColumn("red_fp", md5(regexp_replace(col("text"), "[0-9]+", "<num>")))
      .select("doc_id", "n_redacted", "red_fp")
      .orderBy("doc_id")

  val q49Sql: String =
    """SELECT doc_id,
      |       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_redacted,
      |       md5(regexp_replace(text, '[0-9]+', '<num>', 'g')) AS red_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // repetition detection (the Gopher/Dolma quality rule): fraction of
  // duplicate word trigrams. A high ratio marks boilerplate/spam that
  // per-document stats like q20 miss. Pure map-side expressions.
  def q50Repetition(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .withColumn("tris", expr(Dedup.trigramExpr))
      .select(col("doc_id"),
        size(col("tris")).cast("long").as("n_tri"),
        size(array_distinct(col("tris"))).cast("long").as("n_tri_distinct"))
      .withColumn("dup_ratio",
        lit(1.0) - col("n_tri_distinct").cast("double") / col("n_tri"))
      .withColumn("repetitive", (col("dup_ratio") > 0.2).cast("long"))
      .orderBy("doc_id")

  val q50Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         list_transform(range(1, len(w)-1),
      |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS tris
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 3)
      |SELECT doc_id,
      |       CAST(len(tris) AS BIGINT) AS n_tri,
      |       CAST(len(list_distinct(tris)) AS BIGINT) AS n_tri_distinct,
      |       1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris) AS dup_ratio,
      |       CAST(CASE WHEN 1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris) > 0.2
      |                 THEN 1 ELSE 0 END AS BIGINT) AS repetitive
      |FROM t ORDER BY doc_id""".stripMargin

  // TF-IDF keyword extraction: the top-3 most characteristic terms per doc,
  // ranked by (tf desc, df asc, term asc) — "frequent here, rare corpus-wide",
  // the TF-IDF ordering realized in pure integer comparisons so both engines
  // agree bit-for-bit (a float tf·ln(N/df) score would rank identically but
  // hash-compare on last-ulp log differences).
  //
  // Scale shape: tf is computed MAP-SIDE inside the term array (per-doc term
  // counting never shuffles; O(L log L) per doc — [[termCounts]]),
  // df is a partial+final count over the already-distinct (doc, term) pairs,
  // and the tf↔df attach is an equi-join on term whose strategy is left to
  // Catalyst's size estimate: broadcast while the distinct-term table is
  // small (as at test SF), shuffle join once the vocabulary (~10⁸ terms at
  // 100 TB) outgrows it — never a nested loop (PlanSpec). The final per-doc
  // top-3 is a rank-filtered window, which Spark 4 plans as WindowGroupLimit
  // (per-partition top-k retention, no full group sort kept — also asserted);
  // the q51 `graft_topk` aggregate is the drop-in replacement when the
  // ranking key fits (score, id) — here the term-string tiebreak keeps the
  // window formulation.
  private val TfidfK = 3

  /** Per-document term frequencies in O(L log L), entirely MAP-SIDE (the
    * token stream never shuffles): sort the token array, mark run starts
    * (position 0 or token ≠ predecessor), and each run's tf is the gap to
    * the next start (zip of the start list with its own tail plus one end
    * sentinel). Shared by q56 and q95 — both previously counted via
    * `size(filter(w, x = t))` per distinct token, O(L·distinct) per doc:
    * invisible at the ≤598-char testdata, dominant on real 10⁴–10⁵-token
    * documents (measured linear in L on the GenLongDocs corpora:
    * 2.31 s → 3.17 s at 2× length vs the quadratic kernel's 126 s → 430 s
    * on the same data — BASELINE.md round-13 anchors; OperatorSpec guards
    * both the output and the kernel shape). Input (doc_id, w); output
    * (doc_id, dl, term, tf). */
  private[graft] def termCounts(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", expr("array_sort(w)"))
      .withColumn("st", expr(
        "filter(transform(ws, (t, i) -> struct(t AS term, i AS i)), " +
          "p -> p.i = 0 OR element_at(ws, p.i) <> p.term)"))
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"), explode(expr(
        "zip_with(st, concat(slice(st, 2, size(st)), array(struct('' AS term, size(ws) AS i))), " +
          "(a, b) -> struct(a.term AS term, b.i - a.i AS tf))")).as("p"))
      .select(col("doc_id"), col("dl"), col("p.term").as("term"), col("p.tf").cast("long").as("tf"))

  /** POSITIONAL postings in O(L log L), entirely MAP-SIDE — [[termCounts]]'
    * sorted-run kernel carrying token positions through the sort: pair
    * each token with its 1-based position, sort the (term, pos) structs
    * (lexicographic: term, then pos — so each run's positions come out
    * ascending), mark run starts, and each run's slice IS that term's
    * position array. Kernel choice is MEASURED (BASELINE.md round-14):
    * steady-state best-of-3 the struct sort is linear (1.67 → 2.82 s at
    * 2× doc length on the 500-doc 70k/137k-char corpora) and ~20% faster
    * than a string-encoded
    * `term ⧺ sep ⧺ padded-pos` sort, which additionally needs a
    * separator-char contract; single-shot timings mis-rank these kernels
    * by 3–6× (whole-stage-codegen + JIT warmup lands on whichever heavy
    * lambda kernel runs FIRST in the JVM — the round-14 note records the
    * contaminated samples). The posexplode+collect_list alternative is
    * faster at the 500-doc probe scale but shuffles the whole token
    * stream — the anti-pattern this kernel exists to avoid at 100 TB.
    * Same linearity guarantee as termCounts (the quadratic alternative —
    * `filter(w, x = t)` per distinct term — is O(L·V) per doc), and the
    * token stream never shuffles. Input (doc_id, w); output (doc_id,
    * term, positions ASC int array). Empty docs contribute no postings
    * (matching [[lexIndexOf]]). */
  private[graft] def positionalPostings(docs: DataFrame): DataFrame =
    docs
      .filter(size(col("w")) > 0)
      .withColumn("ws", expr(
        "array_sort(zip_with(w, sequence(1, size(w)), (t, p) -> struct(t AS term, p AS pos)))"))
      .withColumn("st", expr(
        "filter(transform(ws, (x, i) -> struct(x.term AS term, i AS i)), " +
          "p -> p.i = 0 OR element_at(ws, p.i).term <> p.term)"))
      .select(col("doc_id"), explode(expr(
        "zip_with(st, concat(slice(st, 2, size(st)), array(struct('' AS term, size(ws) AS i))), " +
          "(a, b) -> struct(a.term AS term, transform(slice(ws, a.i + 1, b.i - a.i), x -> x.pos) AS positions))")).as("p"))
      .select(col("doc_id"), col("p.term").as("term"), col("p.positions").as("positions"))

  def q56Tfidf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = termCounts(Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("w")))
      .select("doc_id", "term", "tf")
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(df, Seq("term"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= TfidfK)
      .select("doc_id", "rnk", "term", "tf", "df")
      .orderBy("doc_id", "rnk")
  }

  val q56Sql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
       |  GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
       |SELECT doc_id, rnk, term, tf, df FROM (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
       |              ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS BIGINT) AS rnk
       |  FROM tf JOIN df USING (term))
       |WHERE rnk <= $TfidfK ORDER BY doc_id, rnk""".stripMargin

  /** q90: corpus-level bigram frequency top-k — the n-gram language-model /
    * contamination-signature primitive (which word pairs dominate the
    * corpus). Bigrams are built INSIDE each document's token array with an
    * indexed `transform` (tok[i] ⧺ tok[i+1]) before the explode — zero
    * self-join: the naive formulation joins the exploded token table to
    * itself on (doc_id, pos+1), which at 100 TB shuffles the whole token
    * stream twice. Here the only shuffle is the partial+final count by
    * bigram (classic word-count, map-side combined), and the global top-k
    * is a TakeOrderedAndProject — O(k) per partition, no full sort.
    * Single-token and empty docs yield empty slices, not errors. */
  def q90BigramTopk(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(split(col("text"), " ").as("w"))
      .select(explode(expr(
        "transform(slice(w, 1, size(w) - 1), (t, i) -> concat(t, ' ', element_at(w, i + 2)))")).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  val q90Sql: String =
    """SELECT bigram, COUNT(*) AS n FROM (
      |  SELECT t[CAST(i AS INTEGER)] || ' ' || t[CAST(i + 1 AS INTEGER)] AS bigram
      |  FROM (SELECT string_split(text, ' ') AS t FROM documents),
      |       LATERAL (SELECT unnest(range(1, len(t))) AS i))
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  /** q97: KNESER–NEY continuation counts — the n-gram-LM smoothing
    * statistic behind KN/modified-KN language models (the classic quality
    * scorer for corpus filtering à la CCNet): for each token, how many
    * DISTINCT left contexts it continues (cont_n = |{v : bigram "v w"
    * occurs}|) vs its raw continuation frequency. KN backs off to
    * cont/Σcont instead of raw frequency — the "Francisco" fix: a token
    * that is frequent but glued to one context (Francisco after San)
    * scores low where raw counts would score it high. Output: top-20
    * tokens by continuation count with both statistics.
    *
    * Scale shape: bigrams are built INSIDE the token array (q90's
    * transform trick — the token stream never self-joins), and
    * `count + countDistinct` over one column plans as the two-phase
    * distinct aggregate: partial dedup keyed (tok, prev) map-side, then a
    * final count keyed tok — two bounded exchanges over pair keys, no
    * full-vocabulary window; top-k is TakeOrderedAndProject. */
  def q97Continuation(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(split(col("text"), " ").as("w"))
      .select(explode(expr(
        "transform(slice(w, 1, size(w) - 1), (t, i) -> struct(t AS prev, element_at(w, i + 2) AS tok))")).as("b"))
      .select(col("b.prev").as("prev"), col("b.tok").as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("raw_n"), countDistinct(col("prev")).as("cont_n"))
      .orderBy(col("cont_n").desc, col("tok"))
      .limit(20)

  val q97Sql: String =
    """SELECT tok, COUNT(*) AS raw_n, COUNT(DISTINCT prev) AS cont_n FROM (
      |  SELECT t[CAST(i AS INTEGER)] AS prev, t[CAST(i + 1 AS INTEGER)] AS tok
      |  FROM (SELECT string_split(text, ' ') AS t FROM documents),
      |       LATERAL (SELECT unnest(range(1, len(t))) AS i))
      |GROUP BY tok ORDER BY cont_n DESC, tok LIMIT 20""".stripMargin

  /** q102: FULL interpolated KNESER–NEY bigram probabilities — the smoothing
    * that completes the n-gram LM statistics q97's continuation counts
    * start: P(w|v) = (c(vw) − D)/c(v·) + (D·N1+(v·)/c(v·)) · N1+(·w)/B with
    * absolute discount D = 0.75 (c(vw) ≥ 1 makes the max(·,0) clamp
    * vacuous). The backoff weight is exactly the discount mass the first
    * term releases, so Σ over OBSERVED w of (c(vw) − D) = c(v·) − D·N1+(v·)
    * — the identity OperatorSpec holds exactly in BigDecimal.
    *
    * Hashability (the q95 idf discipline — no logs anywhere): every factor
    * is an integer count; the probability is a FIXED chain of
    * correctly-rounded IEEE double ops spelled identically in both engines
    * — (c−0.75)/cv, (0.75·n1v)/cv, contw/B, one multiply, one add — then
    * round(·, 6). D = 0.75 is exactly representable, so no decimal-literal
    * drift.
    *
    * Scale shape: bigrams build INSIDE the token array (q90's transform —
    * the token stream never self-joins); ONE corpus pass aggregates the
    * BIGRAM-TYPE table (≤ vocab², ≪ the token stream for natural text),
    * which is cached and feeds all four downstream stats: left-context
    * stats are a partial+final agg keyed prev, continuation stats keyed
    * tok, the type count B a one-row broadcast; top-k is
    * TakeOrderedAndProject. */
  private val KnD = 0.75
  private val KnTopK = 100

  def q102KneserNey(s: SparkSession, d: String): DataFrame = {
    // the bigram-TYPE table feeds FOUR consumers (bi itself, prev stats,
    // continuation stats, the type count) — cache it so the corpus-wide
    // explode+agg pass runs ONCE, not four times inside one plan (q96/
    // pcaParts convention, falls to the session clearCache like every
    // in-query cache here). Measured honestly (BASELINE.md round-13
    // anchors): on the sflong10 HEAVY-TAIL corpus the cache is break-even
    // (7.2 s cached vs 6.2 s uncached in-session) because the 200k-id tail
    // makes bigram TYPES ≈ half the token stream, so materializing the
    // type table costs what the three saved passes cost; on natural text
    // (Heaps' law: types ≪ tokens — the driver testdata and any real
    // corpus) the cached table is small and the three saved corpus passes
    // dominate, which is the 100 TB case the barrier exists for.
    val bi = Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(split(col("text"), " ").as("w"))
      .select(explode(expr(
        "transform(slice(w, 1, size(w) - 1), (t, i) -> struct(t AS prev, element_at(w, i + 2) AS tok))")).as("b"))
      .groupBy(col("b.prev").as("prev"), col("b.tok").as("tok"))
      .agg(count(lit(1)).as("cvw"))
      .cache()
    bi.count()
    val prevStats = bi.groupBy("prev")
      .agg(sum(col("cvw")).as("cv"), count(lit(1)).as("n1v"))
    val contStats = bi.groupBy("tok").agg(count(lit(1)).as("contw"))
    val types = bi.agg(count(lit(1)).as("b_types"))
    bi.join(prevStats, Seq("prev"))
      .join(contStats, Seq("tok"))
      .crossJoin(broadcast(types))
      .withColumn("p_kn", round(
        expr("(CAST(cvw AS DOUBLE) - 0.75D) / CAST(cv AS DOUBLE)") +
          expr("(0.75D * CAST(n1v AS DOUBLE) / CAST(cv AS DOUBLE)) * " +
            "(CAST(contw AS DOUBLE) / CAST(b_types AS DOUBLE))"), 6))
      .select("prev", "tok", "cvw", "cv", "n1v", "contw", "p_kn")
      .orderBy(col("cvw").desc, col("prev"), col("tok"))
      .limit(KnTopK)
  }

  val q102Sql: String =
    s"""WITH bi AS (
       |  SELECT prev, tok, COUNT(*) AS cvw FROM (
       |    SELECT t[CAST(i AS INTEGER)] AS prev, t[CAST(i + 1 AS INTEGER)] AS tok
       |    FROM (SELECT string_split(text, ' ') AS t FROM documents),
       |         LATERAL (SELECT unnest(range(1, len(t))) AS i))
       |  GROUP BY prev, tok),
       |pv AS (SELECT prev, CAST(SUM(cvw) AS BIGINT) AS cv, COUNT(*) AS n1v FROM bi GROUP BY prev),
       |ct AS (SELECT tok, COUNT(*) AS contw FROM bi GROUP BY tok),
       |ty AS (SELECT COUNT(*) AS b_types FROM bi)
       |SELECT bi.prev, bi.tok, cvw, cv, n1v, contw,
       |       round(((CAST(cvw AS DOUBLE) - 0.75) / CAST(cv AS DOUBLE)) +
       |             ((0.75 * CAST(n1v AS DOUBLE) / CAST(cv AS DOUBLE)) *
       |              (CAST(contw AS DOUBLE) / CAST(b_types AS DOUBLE))), 6) AS p_kn
       |FROM bi JOIN pv USING (prev) JOIN ct USING (tok) CROSS JOIN ty
       |ORDER BY cvw DESC, bi.prev, bi.tok LIMIT $KnTopK""".stripMargin

  /** q104: TRIGRAM interpolated Kneser–Ney with BACKOFF into the q102
    * bigram model — the standard modified-KN recursion one level up:
    * P(w|u,v) = (c(uvw) − D)/c(uv·) + (D·N1+(uv·)/c(uv·)) · P_KN(w|v),
    * where P_KN(w|v) is exactly q102's interpolated bigram probability
    * (continuation counts over bigram types — the "Francisco" fix carried
    * through the recursion). The released discount mass identity holds per
    * context level, so the spec's BigDecimal check extends unchanged.
    *
    * Hashability: P_KN(w|v) is rounded to 6dp FIRST (so both engines feed
    * the identical double into the trigram chain — the q102 discipline made
    * compositional), then the trigram probability is the same fixed chain
    * of correctly-rounded IEEE ops, rounded 6dp. All counts are integers;
    * D = 0.75 is exactly representable; no logs anywhere.
    *
    * Scale shape: trigrams build INSIDE the token array (q90/q98's indexed
    * transform — the token stream never self-joins); the TRIGRAM-TYPE table
    * (≤ vocab³ but ≪ the token stream for natural text) aggregates in one
    * corpus pass and is cached for its two consumers (the probability join
    * and the (u,v)-context stats); the bigram-type table is q102's cached
    * build feeding the backoff factors; every stat is a partial+final agg
    * over type keys; top-k is TakeOrderedAndProject. */
  def q104KneserNey3(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(split(col("text"), " ").as("w"))
    // bigram-type table: q102's cached-build convention (4 consumers there,
    // 4 here: bi itself, prev stats, continuation stats, type count)
    val bi = docs
      .select(explode(expr(
        "transform(slice(w, 1, size(w) - 1), (t, i) -> struct(t AS prev, element_at(w, i + 2) AS tok))")).as("b"))
      .groupBy(col("b.prev").as("prev"), col("b.tok").as("tok"))
      .agg(count(lit(1)).as("cvw"))
      .cache()
    bi.count()
    val prevStats = bi.groupBy("prev")
      .agg(sum(col("cvw")).as("cv"), count(lit(1)).as("n1v"))
    val contStats = bi.groupBy("tok").agg(count(lit(1)).as("contw"))
    val types = bi.agg(count(lit(1)).as("b_types"))
    // the bigram-KN backoff distribution, ROUNDED 6dp before composition
    val pkn2 = bi.join(prevStats, Seq("prev"))
      .join(contStats, Seq("tok"))
      .crossJoin(broadcast(types))
      .withColumn("p_kn2", round(
        expr("(CAST(cvw AS DOUBLE) - 0.75D) / CAST(cv AS DOUBLE)") +
          expr("(0.75D * CAST(n1v AS DOUBLE) / CAST(cv AS DOUBLE)) * " +
            "(CAST(contw AS DOUBLE) / CAST(b_types AS DOUBLE))"), 6))
      .select(col("prev"), col("tok"), col("p_kn2"))
    // trigram-type table — two consumers (ctx stats + the final join)
    val tri = docs
      .select(explode(expr(
        "transform(slice(w, 1, greatest(size(w) - 2, 0)), (t, i) -> " +
          "struct(t AS prev2, element_at(w, i + 2) AS prev, element_at(w, i + 3) AS tok))")).as("g"))
      .groupBy(col("g.prev2").as("prev2"), col("g.prev").as("prev"), col("g.tok").as("tok"))
      .agg(count(lit(1)).as("cuvw"))
      .cache()
    tri.count()
    val ctx3 = tri.groupBy("prev2", "prev")
      .agg(sum(col("cuvw")).as("cuv"), count(lit(1)).as("n1uv"))
    tri.join(ctx3, Seq("prev2", "prev"))
      .join(pkn2, Seq("prev", "tok"))
      .withColumn("p_kn3", round(
        expr("(CAST(cuvw AS DOUBLE) - 0.75D) / CAST(cuv AS DOUBLE)") +
          expr("(0.75D * CAST(n1uv AS DOUBLE) / CAST(cuv AS DOUBLE)) * p_kn2"), 6))
      .select("prev2", "prev", "tok", "cuvw", "cuv", "n1uv", "p_kn2", "p_kn3")
      .orderBy(col("cuvw").desc, col("prev2"), col("prev"), col("tok"))
      .limit(KnTopK)
  }

  val q104Sql: String =
    s"""WITH bi AS (
       |  SELECT prev, tok, COUNT(*) AS cvw FROM (
       |    SELECT t[CAST(i AS INTEGER)] AS prev, t[CAST(i + 1 AS INTEGER)] AS tok
       |    FROM (SELECT string_split(text, ' ') AS t FROM documents),
       |         LATERAL (SELECT unnest(range(1, len(t))) AS i))
       |  GROUP BY prev, tok),
       |pv AS (SELECT prev, CAST(SUM(cvw) AS BIGINT) AS cv, COUNT(*) AS n1v FROM bi GROUP BY prev),
       |ct AS (SELECT tok, COUNT(*) AS contw FROM bi GROUP BY tok),
       |ty AS (SELECT COUNT(*) AS b_types FROM bi),
       |p2 AS (
       |  SELECT bi.prev, bi.tok,
       |         round(((CAST(cvw AS DOUBLE) - 0.75) / CAST(cv AS DOUBLE)) +
       |               ((0.75 * CAST(n1v AS DOUBLE) / CAST(cv AS DOUBLE)) *
       |                (CAST(contw AS DOUBLE) / CAST(b_types AS DOUBLE))), 6) AS p_kn2
       |  FROM bi JOIN pv USING (prev) JOIN ct USING (tok) CROSS JOIN ty),
       |tri AS (
       |  SELECT prev2, prev, tok, COUNT(*) AS cuvw FROM (
       |    SELECT t[CAST(i AS INTEGER)] AS prev2, t[CAST(i + 1 AS INTEGER)] AS prev,
       |           t[CAST(i + 2 AS INTEGER)] AS tok
       |    FROM (SELECT string_split(text, ' ') AS t FROM documents),
       |         LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i))
       |  GROUP BY prev2, prev, tok),
       |c3 AS (SELECT prev2, prev, CAST(SUM(cuvw) AS BIGINT) AS cuv, COUNT(*) AS n1uv
       |       FROM tri GROUP BY prev2, prev)
       |SELECT tri.prev2, tri.prev, tri.tok, cuvw, cuv, n1uv, p_kn2,
       |       round(((CAST(cuvw AS DOUBLE) - 0.75) / CAST(cuv AS DOUBLE)) +
       |             ((0.75 * CAST(n1uv AS DOUBLE) / CAST(cuv AS DOUBLE)) * p_kn2), 6) AS p_kn3
       |FROM tri
       |JOIN c3 USING (prev2, prev)
       |JOIN p2 ON p2.prev = tri.prev AND p2.tok = tri.tok
       |ORDER BY cuvw DESC, tri.prev2, tri.prev, tri.tok LIMIT $KnTopK""".stripMargin

  /** q107: LANGUAGE-MODEL DOCUMENT SCORING — each document scored by the
    * corpus's OWN interpolated-KN bigram model (q102's distribution over
    * ALL bigram types, not the top-k report): score = mean P_KN over the
    * document's bigrams. This is the CCNet-style quality signal that ties
    * the n-gram LM statistics into corpus curation — documents whose
    * word-pair usage the corpus finds improbable (boilerplate, mangled
    * encodings, keyword stuffing) score low and become filter candidates.
    *
    * Hashability (the no-logs discipline carried to perplexity's
    * replacement): a log-perplexity is not portable cross-libm, so the
    * score is the MEAN probability — same ordering intent, every part
    * exact: per-bigram P_KN is q102's rounded-6dp double, floored to a
    * 10⁻⁶ fixed-point BIGINT and summed with its type count (the Σ is
    * order-independent integers), and the mean is two correctly-rounded
    * IEEE divisions spelled identically in both engines.
    *
    * Scale shape: the model is vocab²-bounded (built once from the cached
    * bigram-type table); the document side aggregates per-doc bigram TYPE
    * counts BEFORE the model join (never the raw token stream), the join
    * is equi on (prev, tok) — broadcast while the model is small, shuffle
    * at real vocabularies — and the final per-doc Σ is a partial+final agg
    * keyed doc_id. Three bounded exchanges, no token-stream self-join. */
  def q107KnDocScore(s: SparkSession, d: String): DataFrame = {
    val docsW = Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    knScore(docsW, knModel(docsW)).orderBy("doc_id")
  }

  /** The interpolated-KN bigram MODEL over a (doc_id, w) corpus — q102's
    * distribution over ALL types as a persistable (prev, tok, p_kn) frame.
    * This is the artifact the streaming scorer serves under (DocStream —
    * the LM analogue of the ANN index: train once on the frozen corpus,
    * score every ingest batch against it; doubles round-trip parquet
    * bit-exactly, so persisted ≡ fresh). */
  private[graft] def knModel(docsW: DataFrame): DataFrame = {
    val bi = docsW
      .select(explode(expr(
        "transform(slice(w, 1, size(w) - 1), (t, i) -> struct(t AS prev, element_at(w, i + 2) AS tok))")).as("b"))
      .groupBy(col("b.prev").as("prev"), col("b.tok").as("tok"))
      .agg(count(lit(1)).as("cvw"))
      .cache()
    bi.count()
    val prevStats = bi.groupBy("prev")
      .agg(sum(col("cvw")).as("cv"), count(lit(1)).as("n1v"))
    val contStats = bi.groupBy("tok").agg(count(lit(1)).as("contw"))
    val types = bi.agg(count(lit(1)).as("b_types"))
    bi.join(prevStats, Seq("prev"))
      .join(contStats, Seq("tok"))
      .crossJoin(broadcast(types))
      .withColumn("p_kn", round(
        expr("(CAST(cvw AS DOUBLE) - 0.75D) / CAST(cv AS DOUBLE)") +
          expr("(0.75D * CAST(n1v AS DOUBLE) / CAST(cv AS DOUBLE)) * " +
            "(CAST(contw AS DOUBLE) / CAST(b_types AS DOUBLE))"), 6))
      .select(col("prev"), col("tok"), col("p_kn"))
  }

  /** Score a (doc_id, w) document frame against a KN model frame — the
    * shared seam of the batch q107 and the streaming per-batch scorer.
    * Bigrams the model has never seen contribute nothing (inner join —
    * the OOV convention; a doc with zero known bigrams is absent). */
  private[graft] def knScore(docsW: DataFrame, model: DataFrame): DataFrame =
    docsW
      .select(col("doc_id"), explode(expr(
        "transform(slice(w, 1, size(w) - 1), (t, i) -> struct(t AS prev, element_at(w, i + 2) AS tok))")).as("b"))
      .groupBy(col("doc_id"), col("b.prev").as("prev"), col("b.tok").as("tok"))
      .agg(count(lit(1)).as("cnt"))
      .join(model, Seq("prev", "tok"))
      .groupBy("doc_id")
      .agg(sum(col("cnt") * expr("CAST(floor(p_kn * 1000000.0) AS BIGINT)")).as("kn_mass"),
        sum(col("cnt")).as("n_bi"))
      .select(col("doc_id"), col("n_bi"), col("kn_mass"),
        round(col("kn_mass").cast("double") / col("n_bi").cast("double")
          / lit(1000000.0), 6).as("score"))

  val q107Sql: String =
    """WITH bi AS (
      |  SELECT prev, tok, COUNT(*) AS cvw FROM (
      |    SELECT t[CAST(i AS INTEGER)] AS prev, t[CAST(i + 1 AS INTEGER)] AS tok
      |    FROM (SELECT string_split(text, ' ') AS t FROM documents),
      |         LATERAL (SELECT unnest(range(1, len(t))) AS i))
      |  GROUP BY prev, tok),
      |pv AS (SELECT prev, CAST(SUM(cvw) AS BIGINT) AS cv, COUNT(*) AS n1v FROM bi GROUP BY prev),
      |ct AS (SELECT tok, COUNT(*) AS contw FROM bi GROUP BY tok),
      |ty AS (SELECT COUNT(*) AS b_types FROM bi),
      |model AS (
      |  SELECT bi.prev, bi.tok,
      |         round(((CAST(cvw AS DOUBLE) - 0.75) / CAST(cv AS DOUBLE)) +
      |               ((0.75 * CAST(n1v AS DOUBLE) / CAST(cv AS DOUBLE)) *
      |                (CAST(contw AS DOUBLE) / CAST(b_types AS DOUBLE))), 6) AS p_kn
      |  FROM bi JOIN pv USING (prev) JOIN ct USING (tok) CROSS JOIN ty),
      |db AS (
      |  SELECT doc_id, prev, tok, COUNT(*) AS cnt FROM (
      |    SELECT doc_id, t[CAST(i AS INTEGER)] AS prev, t[CAST(i + 1 AS INTEGER)] AS tok
      |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |         LATERAL (SELECT unnest(range(1, len(t))) AS i))
      |  GROUP BY doc_id, prev, tok)
      |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bi,
      |       CAST(SUM(cnt * CAST(floor(p_kn * 1000000.0) AS BIGINT)) AS BIGINT) AS kn_mass,
      |       round(CAST(SUM(cnt * CAST(floor(p_kn * 1000000.0) AS BIGINT)) AS DOUBLE)
      |             / CAST(SUM(cnt) AS DOUBLE) / 1000000.0, 6) AS score
      |FROM db JOIN model USING (prev, tok)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q98: CROSS-SOURCE content-overlap matrix — for every source pair, how
    * many DISTINCT word 3-grams they share: the provenance-audit signal
    * behind "is src7 a mirror/scrape of src3" and "which crawls should be
    * deduped against each other first" (exact-fingerprint overlap is often
    * empty across sources — mutated copies share n-grams, not bytes, so
    * the gram level is where cross-source duplication is visible).
    *
    * Scale shape — deliberately NO self-join on the gram key: a hot gram
    * shared by s sources would contribute s² join rows per gram. Instead
    * ONE gram-keyed shuffle: distinct (source, gram) via partial+final
    * dedup, then collect_set per gram (bounded by #sources), pair
    * expansion INSIDE the sorted array (≤ s²/2 structs per gram, computed
    * map-side after the agg), and a partial+final count keyed by the pair.
    * Output is ≤ #sources² rows regardless of corpus size. */
  def q98SourceOverlap(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(col("source"), split(col("text"), " ").as("w"))
      .select(col("source"), explode(expr(
        "transform(slice(w, 1, greatest(size(w) - 2, 0)), " +
          "(t, i) -> concat(t, ' ', element_at(w, i + 2), ' ', element_at(w, i + 3)))")).as("gram"))
      .distinct()
      .groupBy("gram").agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(expr(
        "flatten(transform(ss, (x, i) -> transform(slice(ss, i + 2, size(ss)), " +
          "y -> struct(x AS src_a, y AS src_b))))")).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .orderBy(col("n_shared").desc, col("src_a"), col("src_b"))

  val q98Sql: String =
    """WITH g AS (
      |  SELECT DISTINCT source,
      |         w[CAST(i AS INTEGER)] || ' ' || w[CAST(i + 1 AS INTEGER)]
      |           || ' ' || w[CAST(i + 2 AS INTEGER)] AS gram
      |  FROM (SELECT source, string_split(text, ' ') AS w FROM documents),
      |       LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)),
      |p AS (SELECT a.source AS src_a, b.source AS src_b
      |      FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source)
      |SELECT src_a, src_b, COUNT(*) AS n_shared
      |FROM p GROUP BY src_a, src_b
      |ORDER BY n_shared DESC, src_a, src_b""".stripMargin

  /** Heavy-hitter threshold: a token is heavy when count · T > total —
    * i.e. above 1/T of the token stream. */
  private val HhT = 200L

  /** q92: corpus heavy hitters via a Misra–Gries sketch + exact verify —
    * the two-pass pattern for "which tokens dominate the corpus" when the
    * vocabulary is too large to groupBy. Pass 1 is ONE global
    * `graft_mg(token, 2T)` aggregation: each task keeps a bounded counter
    * sketch, partials merge by the PODS'12 COMPRESS rule, and the
    * guarantee is structural — every token above N/(2T+1) of the stream
    * survives, so the candidate array (≤ 2T entries, one broadcastable
    * row) is a provable SUPERSET of the heavy set. Pass 2 broadcast-joins
    * the candidates back and exact-counts ONLY them: the groupBy shuffles
    * O(candidates) keys instead of O(vocabulary). The threshold is
    * integer-exact (n·T > total) and the final answer depends only on
    * true counts — sketch internals (which extra candidates survive) are
    * layout-dependent and never reach the gate, which is why the oracle
    * can be the plain HAVING query. */
  def q92HeavyHitters(s: SparkSession, d: String): DataFrame = {
    graft.functions.MGAgg.register(s)
    def toks = Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(explode(split(col("text"), " ")).as("token"))
    val sk = toks.agg(expr(s"graft_mg(token, ${2 * HhT})").as("cands"),
      count(lit(1)).as("total"))
    val cand = sk.select(explode(col("cands")).as("token"), col("total"))
    toks.join(broadcast(cand), Seq("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"), max(col("total")).as("total"))
      .filter(col("n") * lit(HhT) > col("total"))
      .select("token", "n")
      .orderBy(col("n").desc, col("token"))
  }

  val q92Sql: String =
    s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |tot AS (SELECT COUNT(*) AS total FROM t)
       |SELECT token, COUNT(*) AS n
       |FROM t, tot
       |GROUP BY token, tot.total
       |HAVING COUNT(*) * $HhT > tot.total
       |ORDER BY n DESC, token""".stripMargin

  /** q95: BM25 top-k retrieval — query-by-example keyword search over the
    * corpus (the retrieval primitive behind decontamination probes, eval-set
    * neighborhood audits, and quality-targeted sampling). Queries are the
    * first [[Bm25NQueries]] documents' first-4-token distinct term sets
    * (deterministic, corpus-derived); each query ranks every OTHER document
    * by Σ_terms idf·saturation with Robertson k1=1.2, b=0.75.
    *
    * Hashability: the idf LOG is dropped for its rational core
    * `(N−df+0.5)/(df+0.5)` — cross-libm `ln` is the one non-portable float
    * op (q56's lesson); the per-term ranking it induces is identical
    * (log is monotone), only the multi-term weighting compresses, which is
    * this operator's documented scoring variant. Every per-(query,doc,term)
    * part is a fixed chain of correctly-rounded IEEE ops on DOUBLE (both
    * engines' SQL spells out the same casts), scaled `floor(·10⁶)` to
    * BIGINT so the per-(query,doc) Σ is order-independent (q64 trick);
    * the reported score IS that integer.
    *
    * Scale shape: tf and dl are computed INSIDE the token array map-side
    * (q56's transform trick — the token stream never shuffles); df is a
    * partial+final count; corpus stats (N, avgdl) are a one-row broadcast;
    * the query-term table is eval-set-sized and broadcasts onto the tf
    * table (never the reverse); the score agg is partial+final keyed
    * (query_id, doc_id) and the final top-k is a rank-filtered window
    * (WindowGroupLimit prunes map-side). No cartesian anywhere. */
  private[graft] val Bm25NQueries = 5
  private[graft] val Bm25K = 10
  private[graft] val bm25PartExpr: String =
    "CAST(floor((CAST(n_docs - df AS DOUBLE) + 0.5D) / (CAST(df AS DOUBLE) + 0.5D) * " +
      "(CAST(tf AS DOUBLE) * 2.2D / (CAST(tf AS DOUBLE) + 1.2D * " +
      "(0.25D + 0.75D * CAST(dl AS DOUBLE) / avgdl))) * 1000000.0D) AS BIGINT)"

  /** The lexical-index frames every retrieval entry shares (q95, and the
    * q111/q112/q113 retrieval family in [[Retrieval]]): tokenized docs,
    * per-doc term frequencies ([[termCounts]] — map-side), document
    * frequencies, one-row corpus stats, and the eval-query term table.
    * Returned lazily so each caller keeps q95's audited scale shape. */
  private[graft] case class Bm25Parts(docs: DataFrame, tf: DataFrame,
      df: DataFrame, stats: DataFrame, qt: DataFrame)

  /** Index frames from ANY tokenized (doc_id, w) frame — the full corpus
    * for q95/q113, a base/fresh split for the q115 segment-append algebra.
    * `stats` carries `tot_dl` alongside `avgdl` because the token-length
    * SUM is the ADDITIVE form: segment sums fold to the exact full-corpus
    * sum (long arithmetic), so a merged avgdl = CAST(Σtot_dl AS DOUBLE) /
    * Σn_docs is bit-identical to the single-pass build's. */
  private[graft] def lexIndexOf(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val d = indexTokens(docs)
    // Per-doc term frequency via the shared O(L log L) sorted-run counter
    // ([[termCounts]] — map-side, the token stream never shuffles)
    val tf = termCounts(d)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = d.agg(count(lit(1)).as("n_docs"),
      sum(size(col("w")).cast("long")).as("tot_dl"),
      (sum(size(col("w")).cast("long")).cast("double") / count(lit(1))).as("avgdl"))
    (tf, df, stats)
  }

  /** The ONE null-text policy of the lexical-index builders (this
    * single-pass one and the segment writer, Retrieval.lexIndexSegment): a
    * null token array indexes as array('') — exactly what `split` yields
    * for empty text. Left null, it would explode to ZERO tf rows while a
    * docs-side count still counted the doc, so the two builders would
    * disagree on tf, df and tot_dl. */
  private[graft] def indexTokens(docs: DataFrame): DataFrame =
    docs.withColumn("w", coalesce(col("w"), array(lit(""))))

  private[graft] def tokenizedDocs(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("w"))

  /** Just the eval-query term table from a tokenized frame — the artifact
    * serve paths (q113/q115/q116) need ONLY `qt`; building full
    * [[bm25Parts]] there would construct tf/df/stats frames that are then
    * discarded (lazy, so analyzer-time-only waste, but misleading). */
  private[graft] def queryTermsOf(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") < Bm25NQueries)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(col("w"), 1, 4))).as("term"))

  private[graft] def queryTerms(s: SparkSession, d: String): DataFrame =
    queryTermsOf(tokenizedDocs(s, d))

  private[graft] def bm25Parts(s: SparkSession, d: String): Bm25Parts = {
    val docs = tokenizedDocs(s, d)
    val (tf, df, stats) = lexIndexOf(docs)
    Bm25Parts(docs, tf, df, stats, queryTermsOf(docs))
  }

  /** Disjunctive BM25 ranking from explicit index frames (tf/df/stats may
    * come from [[bm25Parts]] or from a persisted lexical-index artifact —
    * the q113 serve path): per-(query, doc) Σ of the fixed-point Robertson
    * part, ranked DESC with doc_id tie-break, top [[Bm25K]] kept. */
  private[graft] def bm25RankedFrom(tf: DataFrame, df: DataFrame,
      stats: DataFrame, qt: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    bm25ScoredFrom(tf, df, stats, qt)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= Bm25K)
      .select("query_id", "rnk", "doc_id", "score")
  }

  /** The pre-rank scored list (query_id, doc_id, score) — the seam the
    * collapse/rerank entries (q124) need: everything of [[bm25RankedFrom]]
    * up to but excluding the top-k window, so a caller can interpose a
    * per-cluster collapse BEFORE ranking without restating the audited
    * probe/score shape (tf probed once by the broadcast eval-query terms,
    * one-row stats broadcast, partial+final Σ of the fixed-point part). */
  private[graft] def bm25ScoredFrom(tf: DataFrame, df: DataFrame,
      stats: DataFrame, qt: DataFrame): DataFrame =
    tf.join(df, Seq("term"))
      .join(broadcast(qt), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .crossJoin(broadcast(stats))
      .withColumn("part", expr(bm25PartExpr))
      .groupBy("query_id", "doc_id").agg(sum(col("part")).as("score"))

  def q95Bm25(s: SparkSession, d: String): DataFrame = {
    val p = bm25Parts(s, d)
    bm25RankedFrom(p.tf, p.df, p.stats, p.qt).orderBy("query_id", "rnk")
  }

  /** The WITH-chain up to the tokenized/index CTEs (dw, tf, df, stats, qt),
    * shared verbatim by q95 and the [[Retrieval]] oracles so the two engines
    * can never drift on the index definition — parametrized over a filtered
    * document set: the tombstone-delete
    * oracle (q126) states "rebuild over the corpus minus the deleted docs"
    * by interpolating the delete predicate here; the empty-string instance
    * IS the canonical q95 text, so the two can never drift. */
  private[graft] def bm25BaseCtesFor(docsWhere: String): String =
    s"""WITH dw AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents$docsWhere),
       |tf AS (
       |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
       |    SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, unnest(w) AS term FROM dw)
       |  GROUP BY doc_id, dl, term),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |stats AS (
       |  SELECT COUNT(*) AS n_docs,
       |         CAST(SUM(len(w)) AS DOUBLE) / COUNT(*) AS avgdl
       |  FROM dw),
       |qt AS (
       |  SELECT DISTINCT query_id, term FROM (
       |    SELECT doc_id AS query_id, unnest(list_slice(w, 1, 4)) AS term
       |    FROM dw WHERE doc_id < $Bm25NQueries))""".stripMargin

  private[graft] val bm25BaseCtes: String = bm25BaseCtesFor("")

  /** The scored + ranked CTE pair over ANY query-term CTE — parametrized
    * on the qt/scored/ranked names so the PRF oracle (q122) can score the
    * base AND the expanded term set from ONE formula text (the same
    * no-drift discipline [[bm25ScoredFrom]] gives the Spark side). */
  private[graft] def bm25ScoreCtes(qtCte: String, scoredName: String,
      rankedName: String): String =
    s"""$scoredName AS (
       |  SELECT $qtCte.query_id, tf.doc_id,
       |         CAST(SUM(CAST(floor((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) *
       |             (CAST(tf AS DOUBLE) * 2.2 / (CAST(tf AS DOUBLE) + 1.2 *
       |             (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))) * 1000000.0) AS BIGINT)) AS BIGINT) AS score
       |  FROM tf
       |  JOIN df USING (term)
       |  JOIN $qtCte USING (term)
       |  CROSS JOIN stats
       |  WHERE tf.doc_id <> $qtCte.query_id
       |  GROUP BY $qtCte.query_id, tf.doc_id),
       |$rankedName AS (
       |  SELECT query_id, doc_id, score,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |              ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
       |  FROM $scoredName)""".stripMargin

  /** Extends [[bm25BaseCtes]] with the disjunctive scored + ranked CTEs
    * (`scored`, `lexr`). */
  private[graft] val bm25RankCtes: String =
    s"""$bm25BaseCtes,
       |${bm25ScoreCtes("qt", "scored", "lexr")}""".stripMargin

  val q95Sql: String =
    s"""$bm25RankCtes
       |SELECT query_id, rnk, doc_id, score FROM lexr
       |WHERE rnk <= $Bm25K ORDER BY query_id, rnk""".stripMargin

  /** q96: HLL DISTINCT-CARDINALITY sketch, per-source + merged — the
    * dataset-profiling primitive behind "how many distinct documents does
    * each source contribute" at 100 TB, where an exact COUNT(DISTINCT)
    * shuffles every fingerprint and a sketch shuffles 4 KiB per partition.
    * Register semantics (p=12, m=4096, rho capped at 50) live in
    * [[graft.functions.HllUtil]]; this query derives the (bucket, rho) pair
    * from md5(text) hex — the q22/q43 portable-hash convention — builds one
    * sketch per source with the native TypedImperativeAggregate, and derives
    * the corpus-wide row by MERGING the per-source sketches (max per
    * register), never re-scanning the corpus. The estimate is the raw HLL
    * harmonic mean alpha·m²/Σ2^(−M[b]) with the Σ kept as an exact scaled
    * BIGINT (order-independent) and NO small-range ln correction — ln is the
    * one non-portable float op (q56's lesson), and the oracle gate needs the
    * estimate bit-equal, not textbook-tuned.
    *
    * Scale shape: one corpus scan → map-side partial sketches → one 4 KiB
    * row per (partition, source) shuffled → per-source rows; the '_all_' row
    * folds those ≤ #sources sketches. The same algebra serves persisted
    * per-batch sketches on an ingest path (the q65 Bloom convention). */
  private val HllEstExpr: String =
    "0.7213D / (1.0D + 1.079D / 4096.0D) * 4096.0D * 4096.0D * 1125899906842624.0D"

  /** The portable (bucket, rho) derivation — md5 hex → 12-bit register
    * index + leading-zero run of the next 52 bits. Shared by q96 and the
    * streaming ingest profile ([[graft.streaming.DocStream.docSketches]]),
    * so every sketch in the system is merge-compatible. */
  private[graft] def hllDerive(df: DataFrame): DataFrame =
    df.filter(col("text").isNotNull)
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

  /** sketch rows (source, sk) → (source, m, v_empty, s_scaled, est,
    * est_valid) — shared output shape for q96 and the streaming merge path.
    * `est` is the RAW harmonic-mean estimate with no small-range ln
    * correction (ln is the one non-portable float op — q56's lesson), which
    * makes it confidently wrong below n ≈ 2.5m (~10k): `est_valid` flags
    * exactly that — the textbook applicability test (no empty registers, or
    * est above 2.5m), computed from integers + the already-rounded est so
    * it hashes identically cross-engine. Consumers needing a small-range
    * number apply external linear counting from v_empty (m·ln(m/v_empty)),
    * which v_empty/s_scaled expose precisely so the non-portable ln stays
    * OUT of the gated columns. */
  private[graft] def hllEstimate(sketches: DataFrame): DataFrame =
    sketches
      .withColumn("st", expr("graft_hll_stats(sk)"))
      .select(col("source"), lit(4096L).as("m"),
        col("st.v_empty").as("v_empty"),
        col("st.s_scaled").as("s_scaled"),
        round(expr(s"$HllEstExpr / CAST(st.s_scaled AS DOUBLE)"), 3).as("est"))
      .withColumn("est_valid",
        col("v_empty") === 0L || col("est") > lit(10240.0))
      .orderBy("source")

  def q96HllDistinct(s: SparkSession, d: String): DataFrame = {
    graft.functions.HllAgg.register(s)
    val docs = hllDerive(Tables.spread(s, Tables.documents(s, d), "doc_id"))
    // one corpus pass feeds both output branches: per-source sketches are
    // ≤ #sources 4 KiB rows, cached (session-level clearCache convention)
    val perSrc = docs.groupBy("source")
      .agg(expr("graft_hll_agg(bucket, rho)").as("sk")).cache()
    perSrc.count()
    val allRow = perSrc.agg(expr("graft_hll_merge(sk)").as("sk"))
      .select(lit("_all_").as("source"), col("sk"))
    hllEstimate(perSrc.select(col("source"), col("sk")).unionByName(allRow))
  }

  val q96Sql: String = {
    def hv(i: Int) =
      s"(CASE WHEN substring(fp, $i, 1) >= 'a' THEN ascii(substring(fp, $i, 1)) - 87" +
        s" ELSE ascii(substring(fp, $i, 1)) - 48 END)"
    """WITH h AS (
      |  SELECT source,
      |         CAST(HV1 * 256 + HV2 * 16 + HV3 AS BIGINT) AS bucket,
      |         CAST(CASE WHEN z = 13 THEN 50
      |              ELSE LEAST(z * 4 + CASE WHEN nz = '1' THEN 3
      |                                      WHEN nz IN ('2','3') THEN 2
      |                                      WHEN nz IN ('4','5','6','7') THEN 1
      |                                      ELSE 0 END + 1, 50) END AS BIGINT) AS rho
      |  FROM (
      |    SELECT source, fp,
      |           CAST(length(regexp_extract(substring(fp, 4, 13), '^0*', 0)) AS BIGINT) AS z,
      |           substring(regexp_replace(substring(fp, 4, 13), '^0*', ''), 1, 1) AS nz
      |    FROM (SELECT source, md5(text) AS fp FROM documents WHERE text IS NOT NULL))),
      |reg AS (SELECT source, bucket, MAX(rho) AS r FROM h GROUP BY source, bucket),
      |per AS (
      |  SELECT source, COUNT(*) AS nzr, SUM(CAST(1 AS BIGINT) << (50 - r)) AS s_nz
      |  FROM reg GROUP BY source),
      |mreg AS (SELECT bucket, MAX(r) AS r FROM reg GROUP BY bucket),
      |mper AS (
      |  SELECT '_all_' AS source, COUNT(*) AS nzr,
      |         SUM(CAST(1 AS BIGINT) << (50 - r)) AS s_nz
      |  FROM mreg),
      |u AS (SELECT * FROM per UNION ALL SELECT * FROM mper)
      |SELECT source, CAST(4096 AS BIGINT) AS m,
      |       CAST(4096 - nzr AS BIGINT) AS v_empty,
      |       CAST(s_nz + (4096 - nzr) * 1125899906842624 AS BIGINT) AS s_scaled,
      |       round(0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0 * 1125899906842624.0
      |             / CAST(s_nz + (4096 - nzr) * 1125899906842624 AS DOUBLE), 3) AS est,
      |       ((4096 - nzr) = 0 OR
      |        round(0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0 * 1125899906842624.0
      |              / CAST(s_nz + (4096 - nzr) * 1125899906842624 AS DOUBLE), 3) > 10240.0)
      |         AS est_valid
      |FROM u ORDER BY source""".stripMargin
      .replace("HV1", hv(1)).replace("HV2", hv(2)).replace("HV3", hv(3))
  }

  /** The COMMITTED subword vocabulary for q137 — a fixed multi-char unit
    * table (no BPE training, just greedy application; the single-char
    * fallback is implicit, so every word always tokenizes). Deliberately
    * small and corpus-plausible: what matters for budget accounting is a
    * DETERMINISTIC, sub-word-granular count both engines compute
    * identically, not a trained merge table. */
  private[graft] val SubwordVocab: Seq[String] = Seq(
    "omer", "cust", "wind", "quer", "filt",
    "str", "eam", "ble", "val", "tch", "ark", "agg", "key", "row",
    "ta", "ue", "ow", "er", "or", "an", "in", "da", "jo", "gr",
    "sm", "co", "pa", "ba", "sp", "th")

  /** Greedy longest-match subword count of one word column, as a pure
    * Spark SQL expression: iterate at most length(word) steps (each step
    * consumes ≥ 1 char so the bound is exact); at each position the match
    * is the FIRST entry of the length-DESC-sorted vocab literal whose
    * substring equals it (= the longest match; ties are equal-length), or
    * a single char. Entirely map-side — the budget counter adds zero
    * shuffles to whatever plan consumes it. */
  private[graft] def subwordCountExpr(wordCol: String): String = {
    val arr = SubwordVocab.sortBy(v => (-v.length, v))
      .map(v => s"'$v'").mkString(", ")
    s"aggregate(sequence(1, length($wordCol)), named_struct('pos', 1, 'cnt', 0L), " +
      s"(acc, i) -> IF(acc.pos > length($wordCol), acc, named_struct(" +
      s"'pos', acc.pos + coalesce(length(try_element_at(filter(array($arr), " +
      s"v -> substring($wordCol, acc.pos, length(v)) = v), 1)), 1), " +
      s"'cnt', acc.cnt + 1L)), acc -> acc.cnt)"
  }

  /** q137: DETERMINISTIC SUBWORD TOKEN COUNTS — the budget-accounting
    * counter the round-14 verdict called out: mixture weights (q55) and
    * packing budgets (q62) run on whitespace-word counts (the q20
    * convention), but a real pipeline budgets in SUBWORD tokens; this is
    * that counter as a gated entry — a greedy longest-match vocab
    * tokenizer ([[SubwordVocab]], committed table, integer end-to-end; no
    * BPE training, just application — the tokenize step of any
    * sentencepiece-style scheme once the merge table is frozen). Output:
    * per doc, the whitespace word count and the subword token count
    * (n_words ≤ n_subwords ≤ n_chars by construction — OperatorSpec pins
    * the greedy algebra and the q55-variant mixture consistency).
    *
    * Oracle: DuckDB recomputes the SAME greedy match as a recursive CTE
    * over DISTINCT words (the match is a pure function of the word string,
    * so the recursion runs |vocab(corpus)| × ≤ maxlen rows, not
    * corpus-token rows) with MAX(length) as the longest-match rule —
    * equal-length ties make the two formulations identical.
    *
    * Scale shape: the Spark side is ONE map-side pass (per-word bounded
    * fold inside the token array — the token stream never shuffles, q56's
    * discipline); the only exchange is the output sort. At 100 TB the
    * counter composes into q55/q62 as a drop-in replacement for
    * size(split(...)) with zero extra shuffles. */
  def q137SubwordTokens(s: SparkSession, d: String): DataFrame =
    subwordTokenCounts(s, d).orderBy("doc_id")

  /** The un-ordered q137 core — composition surface for the mixture (q139)
    * and packing (q140) variants, which add their own exchanges; the gated
    * q137 entry is this plus its output sort. */
  private[graft] def subwordTokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_words"),
        expr(s"aggregate(transform(w, wd -> ${subwordCountExpr("wd")}), 0L, " +
          "(acc, x) -> acc + x)").as("n_subwords"))

  /** Shared oracle fragment: the q137 greedy subword count as a recursive
    * CTE over DISTINCT words (the match is a pure function of the word
    * string), ending in `dt(doc_id, n_words, n_subwords)`. q137/q139/q140
    * all compose it, so the three entries can never count differently. */
  private def subwordCtes: String = {
    val arr = SubwordVocab.map(v => s"'$v'").mkString(", ")
    s"""WITH RECURSIVE vocab(v) AS (SELECT unnest([$arr])),
       |wrd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM documents),
       |vw AS (SELECT DISTINCT wd FROM wrd),
       |step(wd, pos, cnt) AS (
       |  SELECT wd, 1, CAST(0 AS BIGINT) FROM vw
       |  UNION ALL
       |  SELECT wd,
       |         pos + COALESCE((SELECT MAX(length(v)) FROM vocab
       |                         WHERE substring(wd, pos, length(v)) = v), 1),
       |         cnt + 1
       |  FROM step WHERE pos <= length(wd)),
       |wc AS (SELECT wd, MAX(cnt) AS n_sub FROM step GROUP BY wd),
       |dt AS (SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |              CAST(SUM(wc.n_sub) AS BIGINT) AS n_subwords
       |       FROM wrd w JOIN wc ON w.wd = wc.wd GROUP BY w.doc_id)""".stripMargin
  }

  val q137Sql: String =
    s"""$subwordCtes
       |SELECT doc_id, n_words, n_subwords FROM dt ORDER BY doc_id""".stripMargin

  /** q139: the q55 mixture boundary computed from SUBWORD token counts —
    * the drop-in budget-unit swap the q137 scaladoc promises (same
    * deterministic md5-bucket machinery, same integer cross-multiplied
    * boundary; only the token counter changes), promoted to the
    * correctness gate this round: the oracle composes [[subwordCtes]]
    * (q137's counter, shared fragment) with q55's integer-boundary SQL
    * verbatim, so a drift in EITHER the counter or the mixture algebra
    * breaks the hash. OperatorSpec additionally pins deterministic
    * reselection and the per-doc BigInt boundary identity.
    *
    * Scale shape = q55's: the counter is map-side (zero added shuffles —
    * PlanSpec pins it), per-source stats are a tiny partial+final agg
    * broadcast back, and the sampling pass is map-side. */
  def sourceMixSubword(s: SparkSession, d: String): DataFrame = {
    // the counted frame is consumed twice (per-source stats, then the
    // sampling pass) — q55's shape, but HERE the counter is the greedy
    // subword fold, so cache the slim (doc_id, source, n_tok) projection
    // rather than run the fold over the corpus twice (measured 11.4 →
    // ~7 s at 100k docs; at 100 TB the cached frame is 3 columns, no text)
    val docs = subwordTokenCounts(s, d)
      .join(Tables.spread(s, Tables.documents(s, d), "doc_id")
        .select("doc_id", "source"), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n_subwords").as("n_tok"))
      .cache()
    val per = docs.groupBy("source")
      .agg(sum("n_tok").as("tok_s"), count(lit(1)).as("docs_s"))
      .withColumn("ws_int",
        floor(sqrt(col("tok_s").cast("double")) * 1e6).cast("long"))
      .select("source", "docs_s", "ws_int")
    val tot = per.agg(sum(col("ws_int")).as("denom"),
      sum(col("docs_s")).as("total_docs"))
    docs.join(broadcast(per), Seq("source"))
      .crossJoin(broadcast(tot))
      .filter(expr(
        "CAST(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 17, 8), 16, 10) AS BIGINT) % 10000 AS DECIMAL(38,0))" +
          " * denom * docs_s < CAST(10000 AS DECIMAL(38,0)) * ((total_docs * 400) div 1000) * ws_int"))
      .select("doc_id", "source", "n_tok")
      .orderBy("doc_id")
  }

  lazy val q139Sql: String =
    s"""$subwordCtes,
       |d AS (SELECT dt.doc_id, doc.source, dt.n_subwords AS n_tok
       |      FROM dt JOIN documents doc USING (doc_id)),
       |pw AS (
       |  SELECT source, COUNT(*) AS docs_s,
       |         CAST(floor(sqrt(CAST(SUM(n_tok) AS DOUBLE)) * 1000000) AS BIGINT) AS ws_int
       |  FROM d GROUP BY source),
       |tot AS (SELECT SUM(ws_int) AS denom, SUM(docs_s) AS total_docs FROM pw)
       |SELECT d.doc_id, d.source, d.n_tok
       |FROM d JOIN pw USING (source) CROSS JOIN tot
       |WHERE CAST(CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 17, 8)) AS BIGINT) % 10000 AS HUGEINT)
       |        * denom * docs_s
       |      < CAST(10000 AS HUGEINT) * ((total_docs * 400) // 1000) * ws_int
       |ORDER BY d.doc_id""".stripMargin

  /** q140: SEQUENCE PACKING IN SUBWORD UNITS — q62's packer (same budget,
    * same deterministic shard key, same straddle bookkeeping) with the
    * token counter swapped from the whitespace/regex convention to q137's
    * greedy subword count: the pack boundaries a loader actually needs
    * once budgets are in tokenizer units. The oracle composes
    * [[subwordCtes]] with q62's shard-windowed cumulative sum verbatim —
    * counter drift or window drift both break the hash.
    *
    * Scale shape = q62's: the counter is map-side, and the only stateful
    * step is the PER-SHARD running offset (window partitioned by the
    * deterministic shard key, never a global one-partition window —
    * PlanSpec pins the partitioned windowspec; 100 TB packs as thousands
    * of independent shards). */
  def q140PackSubword(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    subwordTokenCounts(s, d)
      .select(col("doc_id"), (col("doc_id") % Corpus.PackShards).as("shard"),
        col("n_subwords").as("n_tokens"))
      .withColumn("tok_start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_first", expr(s"tok_start div ${Corpus.PackBudget}"))
      .withColumn("pack_last",
        expr(s"(tok_start + greatest(n_tokens, 1) - 1) div ${Corpus.PackBudget}"))
      .withColumn("n_packs", col("pack_last") - col("pack_first") + 1)
      .select("doc_id", "shard", "n_tokens", "tok_start",
        "pack_first", "pack_last", "n_packs")
      .orderBy("doc_id")
  }

  lazy val q140Sql: String =
    s"""$subwordCtes,
       |t AS (SELECT doc_id, doc_id % ${Corpus.PackShards} AS shard,
       |             n_subwords AS n_tokens FROM dt),
       |c AS (
       |  SELECT doc_id, shard, n_tokens,
       |         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
       |  FROM t)
       |SELECT doc_id, shard, n_tokens, tok_start,
       |       tok_start // ${Corpus.PackBudget} AS pack_first,
       |       (tok_start + greatest(n_tokens, 1) - 1) // ${Corpus.PackBudget} AS pack_last,
       |       (tok_start + greatest(n_tokens, 1) - 1) // ${Corpus.PackBudget}
       |         - tok_start // ${Corpus.PackBudget} + 1 AS n_packs
       |FROM c ORDER BY doc_id""".stripMargin

  /** GENERATED subword vocabulary for q145 — deterministic and formula-
    * expressible in BOTH engines (the committed-table discipline without
    * committing 1k+ literals): every 2-char combination over a–z (676
    * entries) plus every 3-char combination over the first `three`
    * letters (`three`³ entries; 8 → 512, total 1188 ≥ the 1k-entry gate;
    * 26 → 17576, the plan-size probe). Stands in for a frozen BPE merge
    * table: what matters for the operator is that the vocab is a TABLE
    * the plan joins, not a literal the expression inlines. */
  private[graft] def genVocab(s: SparkSession, three: Int = 8): DataFrame = {
    require(three >= 1 && three <= 26, s"three must be in [1,26], got $three")
    val v2 = s.range(676).selectExpr(
      "char(97 + id DIV 26) || char(97 + id % 26) AS v")
    val v3 = s.range(three.toLong * three * three).selectExpr(
      s"char(97 + id DIV ${three * three}) || char(97 + (id DIV $three) % $three) " +
        s"|| char(97 + id % $three) AS v")
    v2.unionAll(v3)
  }

  /** q145: VOCAB-SCALABLE SUBWORD COUNTER — q137's greedy longest-match
    * semantics reformulated so the vocabulary is DATA, not code: q137's
    * `subwordCountExpr` inlines the vocab as a literal array scanned
    * O(|vocab|) per character — honest for its committed 30-entry table,
    * but a real frozen BPE table (32k–256k entries) would blow up both
    * codegen (one expression tree node per entry) and per-char cost. Here
    * the greedy algebra is identical — at each position take the LONGEST
    * vocab entry matching, else consume one char — but factored into
    * relational steps whose cost per token is INDEPENDENT of vocab size:
    *
    *  1. distinct words (the Zipf dedup: the fold runs once per distinct
    *     word, never once per corpus token);
    *  2. candidate substrings — each position emits one candidate per
    *     DISTINCT VOCAB LENGTH (bounded by max token length, here {2,3}),
    *     equi-joined against the broadcast vocab TABLE; max(entry length)
    *     per position = the longest match (q137's tie-free rule);
    *  3. the per-word greedy walk as the SAME bounded fold as q137's, but
    *     O(1) per char: the position→match-length map rides along as a
    *     map column (`element_at(lm, pos)`, single-char fallback 1);
    *  4. one doc-keyed join + agg attributes counts back to documents.
    *
    * Scale shape: the vocab is broadcast (a 256k-entry table is MBs); the
    * only corpus-sized exchanges are the distinct-word extraction and the
    * final doc agg — the q56 vocabulary-extraction shape, with partial
    * aggregation making both ≈ docs-sized. PlanSpec pins that the plan
    * contains NO vocab literal and that plan size does not grow with the
    * vocab (built at 1,188 and 18,252 entries); the BASELINE anchor pins
    * per-token cost independent of vocab size.
    *
    * Oracle: q137's recursive-CTE greedy walk verbatim, with the vocab
    * CTE generated by the same chr() formula — the two engines share the
    * vocabulary by construction, not by a copied list. */
  def q145SubwordVocab(s: SparkSession, d: String): DataFrame =
    subwordVocabCounts(
      Tables.spread(s, Tables.documents(s, d), "doc_id").select("doc_id", "text"),
      genVocab(s))
      .select("doc_id", "n_words", "n_subwords").orderBy("doc_id")

  /** The q145 core under EXPLICIT (doc_id, text) and vocab tables — the
    * seam for the PlanSpec plan-size-vs-vocab-size probe and the planted
    * greedy-identity specs. */
  private[graft] def subwordVocabCounts(docsIn: DataFrame,
      vocab: DataFrame, candLens: Seq[Int] = Seq(2, 3)): DataFrame = {
    require(candLens.nonEmpty && candLens.forall(_ >= 2),
      s"candidate lengths must be >= 2 (single chars are the fallback): $candLens")
    val s = docsIn.sparkSession
    // NATIVE KERNEL (round 19): the relational middle (candidate explode →
    // broadcast join → per-position max → HOF fold) costs one exploded row
    // per (char, vocab length), so a learned table spanning 4 lengths paid
    // 1.9× the 2-length synthetic serve at the 32k/1M anchor — the
    // premium IS the fan-out. graft_subword_count walks each distinct word
    // once against per-executor hash sets (longest probe first, identical
    // greedy semantics — OperatorSpec pins native ≡ relational, and the
    // relational form below stays as the cross-check), so the per-char
    // cost is #lengths hash probes with no candidate row, no join, and no
    // (wd, pos) shuffle. The vocab COLLECTS once per call — driver-bounded
    // by the same Zipf argument as the trainer's word frame (≤ 256k
    // entries, MBs) — and ships as ONE Broadcast: never a plan literal
    // (plan size stays byte-flat in entry count, the q145 claim), never a
    // per-task closure payload.
    val entries = vocab.select(col("v")).collect().map(_.getString(0)).toSeq
    val table = s.sparkContext.broadcast(
      graft.functions.SubwordCount.buildTable(entries, candLens))
    val docs = docsIn.select(col("doc_id"), split(col("text"), " ").as("w"))
    val words = docs.select(explode(col("w")).as("wd")).distinct()
    val wc = words
      .select(col("wd"),
        graft.functions.SubwordCount.countOf(col("wd"), table).as("c"))
      .select(col("wd"), expr("element_at(c, 1)").as("n_sub"),
        expr("element_at(c, 2)").as("n_fb"))
    docs.select(col("doc_id"), explode(col("w")).as("wd"))
      .join(wc, Seq("wd"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("n_sub")).as("n_subwords"),
        sum(col("n_fb")).as("n_fallback"))
  }

  /** The RELATIONAL formulation of the same greedy algebra — the round-18
    * serve shape, kept as the differential reference for the native
    * kernel (two independent formulations that must agree word-for-word)
    * and as the fallback a pure-SQL deployment would run. */
  private[graft] def subwordVocabCountsRelational(docsIn: DataFrame,
      vocab: DataFrame, candLens: Seq[Int] = Seq(2, 3)): DataFrame = {
    require(candLens.nonEmpty && candLens.forall(_ >= 2),
      s"candidate lengths must be >= 2 (single chars are the fallback): $candLens")
    val minLen = candLens.min
    // full-length candidates only: a truncated tail that happens to match
    // a shorter vocab entry v is REDUNDANT — length(v) is itself a
    // candidate length (candLens = the vocab's distinct lengths), so the
    // exact-length candidate at the same position produces the same
    // string. The trim is a SLICE of the ascending-length candidate array
    // by a static CASE over the known length list (how many lengths fit
    // in the chars remaining at this position) — deliberately NOT a
    // filter() lambda: higher-order functions are interpreted, and
    // wrapping the candidate build in one de-codegens the hottest
    // expression in the serve (a filter()-based first cut measured WORSE
    // than no trim at the 32k/1M anchor — BASELINE round-19 row). The
    // generate fan-out drops from #lengths to
    // min(#lengths, remaining) per position — the long-length candidates
    // a big vocab adds never explode where they cannot fit
    val lensAsc = candLens.sorted
    val nFit = lensAsc.reverse.map(l =>
        s"WHEN length(wd) - pos + 1 >= $l THEN ${lensAsc.count(_ <= l)}")
      .mkString("CASE ", " ", " ELSE 0 END")
    val candArr = lensAsc.map(l => s"substring(wd, pos, $l)")
      .mkString("slice(array(", ", ", s"), 1, $nFit)")
    val vt = vocab.select(col("v"), length(col("v")).as("vlen"))
    val docs = docsIn
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val words = docs.select(explode(col("w")).as("wd")).distinct().cache()
    val lenMap = words.filter(length(col("wd")) >= minLen)
      .select(col("wd"), explode(expr("sequence(1, length(wd))")).as("pos"))
      .select(col("wd"), col("pos"), explode(expr(candArr)).as("cand"))
      .join(broadcast(vt), col("cand") === col("v"))
      .groupBy("wd", "pos").agg(max(col("vlen")).as("mlen"))
      .groupBy("wd")
      .agg(map_from_entries(collect_list(struct(col("pos"), col("mlen")))).as("lm"))
    // the fold also counts FALLBACK steps (positions where no vocab entry
    // matched and a single char was consumed) — the OOV signal the
    // streaming monitor reads; the gated entries project it away
    val wc = words.join(lenMap, Seq("wd"), "left")
      .select(col("wd"), expr(
        "aggregate(sequence(1, greatest(length(wd), 1)), " +
          "named_struct('pos', 1, 'cnt', 0L, 'fb', 0L), " +
          "(acc, i) -> IF(acc.pos > length(wd), acc, named_struct(" +
          "'pos', acc.pos + CAST(coalesce(element_at(lm, acc.pos), 1) AS INT), " +
          "'cnt', acc.cnt + 1L, " +
          "'fb', acc.fb + IF(element_at(lm, acc.pos) IS NULL, 1L, 0L))), " +
          "acc -> named_struct('cnt', acc.cnt, 'fb', acc.fb))").as("c"))
      .select(col("wd"), col("c.cnt").as("n_sub"), col("c.fb").as("n_fb"))
    docs.select(col("doc_id"), explode(col("w")).as("wd"))
      .join(wc, Seq("wd"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("n_sub")).as("n_subwords"),
        sum(col("n_fb")).as("n_fallback"))
  }

  val q145Sql: String =
    """WITH RECURSIVE vocab(v) AS (
      |  SELECT chr(97 + CAST(i // 26 AS INTEGER)) || chr(97 + CAST(i % 26 AS INTEGER))
      |  FROM (SELECT unnest(range(0, 676)) AS i)
      |  UNION ALL
      |  SELECT chr(97 + CAST(i // 64 AS INTEGER)) || chr(97 + CAST((i // 8) % 8 AS INTEGER))
      |         || chr(97 + CAST(i % 8 AS INTEGER))
      |  FROM (SELECT unnest(range(0, 512)) AS i)),
      |wrd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM documents),
      |vw AS (SELECT DISTINCT wd FROM wrd),
      |step(wd, pos, cnt) AS (
      |  SELECT wd, 1, CAST(0 AS BIGINT) FROM vw
      |  UNION ALL
      |  SELECT wd,
      |         pos + COALESCE((SELECT MAX(length(v)) FROM vocab
      |                         WHERE substring(wd, pos, length(v)) = v), 1),
      |         cnt + 1
      |  FROM step WHERE pos <= length(wd)),
      |wc AS (SELECT wd, MAX(cnt) AS n_sub FROM step GROUP BY wd),
      |dt AS (SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
      |              CAST(SUM(wc.n_sub) AS BIGINT) AS n_subwords
      |       FROM wrd w JOIN wc ON w.wd = wc.wd GROUP BY w.doc_id)
      |SELECT doc_id, n_words, n_subwords FROM dt ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q150
  /** Merge rounds learned by q150 — enough for multi-level composition to
    * appear (round 6 merges 'm'+'er' at the gate corpus: a learned token
    * feeding a later merge), small enough that the unrolled oracle CTE
    * chain stays readable. Production vocabularies run this loop 32k
    * times; the per-round cost model is what the entry gates. */
  private val BpeMerges = 6

  /** Cap on LEARNABLE token length, in code points — standard BPE
    * practice (e.g. SentencePiece's max_sentencepiece_length-class knob):
    * pairs whose merged token would exceed it are excluded from every
    * round's argmax, in BOTH trainers and the SQL oracle. Two reasons:
    * ultra-long tokens are memorized strings, not subwords; and the q145
    * serve kernel's candidate fan-out is one substring per DISTINCT entry
    * length per position, so unbounded lengths let a big vocab inflate
    * serve cost (the round-18 32k anchor: ~20 lengths → 1.57× the 18k
    * serve). The cap bounds the fan-out at train time. */
  private[graft] val BpeMaxTokenLen = 16

  /** q150: BPE MERGE-TABLE TRAINING — the learning half of the subword
    * family (q137/q145 APPLY a frozen vocab; this entry produces one):
    * classic byte-pair encoding over the corpus word distribution — start
    * from characters, repeatedly count adjacent symbol pairs weighted by
    * word frequency and merge the most frequent pair (ties: smallest
    * (lft, rgt) pair), greedy left-to-right non-overlapping within each
    * word. Output: the merge table (rank, lft, rgt, merged, pair_count) —
    * the artifact a sentencepiece-style tokenizer freezes and ships.
    *
    * Merge semantics are pinned as the LIST FOLD (merge when the
    * accumulator's last token is `lft` and the next is `rgt`) — exactly
    * Sennrich's greedy re-pair applied left-to-right; both engines run
    * the same fold (Spark: `aggregate` with an array accumulator; DuckDB:
    * `list_reduce` with the token list encoded as a \\u001e-joined string,
    * where merging the suffix `lft` into `lft||rgt` is a plain append —
    * provably the same algebra, OperatorSpec pins it by differential).
    *
    * Scale shape: the ONLY corpus-sized pass is the initial distinct-word
    * count (one map-side-combinable groupBy — at 100 TB this is the q56
    * term-count shape); every training round then runs on the
    * vocab-bounded (word, freq, toks) frame — Zipf caps it at millions of
    * rows regardless of corpus bytes — with one map-side-combinable pair
    * groupBy + a driver argmax scalar (the adjudicated `.head()`
    * cut-point) + a map-side rewrite, `localCheckpoint` barriering each
    * round so the lineage stays O(1) per round (the q114 lesson; 32k
    * production rounds would otherwise stack 32k plan copies). */
  def q150BpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeTrainMerges(s, d)
      .toDF("rank", "lft", "rgt", "merged", "pair_count").orderBy("rank")
  }

  // ---------------------------------------------------------------- q157
  /** q157: VOCAB-SCALE BPE TRAINING — [[bpeTrainLocal]]'s merge table
    * gated under q150's unrolled SQL oracle (both engines must learn the
    * SAME table from the corpus, so the incremental-maintenance trainer
    * is pinned by the same cross-engine differential as the distributed
    * loop — the q150 oracle pattern, shared verbatim). The entry is the
    * production training path: one corpus-sized word-count job, then
    * every merge round in driver memory over the Zipf-bounded frame —
    * ms-class rounds instead of q150's job-class rounds (32k-merge
    * production vocabularies stop being 32k sequential Spark jobs;
    * per-round cost anchored in BASELINE "bpe-train-local"). */
  def q157BpeTrainLocal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeTrainLocal(bpeWordFreqs(s, d), BpeMerges)
      .toDF("rank", "lft", "rgt", "merged", "pair_count").orderBy("rank")
  }

  // -------------------------------------------- vocab serving + retrain
  /** Publish a subword vocabulary as a versioned artifact under `base`
    * through the [[RootPointer]] protocol — the vocab becomes DATA the
    * serve side resolves (the q145 broadcast-table kernel reads exactly
    * this parquet), so a tokenizer rollout is a pointer flip, never a
    * code deploy, and a crashed publish can never be resolved. */
  def publishVocab(s: SparkSession, base: String, vocab: Seq[String]): String = {
    import s.implicits._
    require(vocab.nonEmpty && vocab.forall(_.length >= 2),
      "vocab entries must be multi-char (single chars are the kernel's fallback)")
    RootPointer.cleanStaging(s, base)
    val v = RootPointer.nextVersion(s, base)
    Vocab.write(vocab.toDF("v").coalesce(1), s"$base/$v")
    RootPointer.publish(s, base, v)
    v
  }

  /** A published vocabulary version: one (v) row per entry. */
  private[graft] val Vocab = Artifacts.FileSet("vocab",
    StructType(Seq(StructField("v", StringType))))

  /** Resolve the published vocabulary (root path, entries) — the serve
    * side's per-batch read; a few KB. */
  def resolveVocab(s: SparkSession, base: String): (String, Seq[String]) = {
    val root = RootPointer.resolve(s, base)
    (root, Vocab.read(s, root).collect().map(_.getString(0)).toSeq.sorted)
  }

  // ---------------------------------------------------------------- q159
  /** q159: COUNTS SERVED FROM THE PUBLISHED VOCAB ARTIFACT — the serve
    * half of the retrain loop, oracle-gated (the specs pin the policy;
    * this pins the DATA PATH a serving fleet actually reads): train via
    * [[bpeTrainLocal]], PUBLISH the vocabulary through the
    * [[RootPointer]] protocol, then count the corpus under whatever
    * [[resolveVocab]] returns — never under the in-memory table the
    * trainer produced. The oracle is q152's (train→freeze→apply SQL):
    * identical results REQUIRE that publish→resolve round-trips the
    * vocabulary bit-exactly, so a lost/reordered/partially-visible
    * artifact (the failure classes the pointer protocol exists for)
    * breaks the hash. With [[maybeRetrainVocab]] writing the same
    * artifact, a tokenizer rollout is: retrain publishes, this entry's
    * read path picks it up at the next resolve. */
  def q159VocabServed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = s"${Artifacts.datasetScratch(d)}/vocabroot"
    val learned = bpeTrainLocal(bpeWordFreqs(s, d), BpeMerges).map(_._4).distinct
    if (learned.isEmpty)
      // the q152 degenerate-corpus contract, artifact path included
      Tables.spread(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("wd"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_words"),
          sum(length(col("wd"))).cast("long").as("n_subwords"))
        .orderBy("doc_id")
    else {
      publishVocab(s, base, learned.sorted)
      RootPointer.retireOld(s, base, keep = 2)
      val (_, vocab) = resolveVocab(s, base)
      subwordVocabCounts(
        Tables.spread(s, Tables.documents(s, d), "doc_id").select("doc_id", "text"),
        vocab.toDF("v"), vocab.map(_.length).distinct.sorted)
        .select("doc_id", "n_words", "n_subwords").orderBy("doc_id")
    }
  }

  /** OOV-TRIGGERED TOKENIZER RETRAIN — the `maybeMaintainIvfVersioned` refusal/
    * tier pattern applied to the vocabulary artifact, closing the drift
    * loop q156 + the streaming monitor only OBSERVED: measure the
    * batch's fallback share under the RESOLVED vocab (the q145 kernel's
    * n_fallback, integer ppm); under the tier, do nothing (one counting
    * pass, no writes). Past it, retrain via [[bpeTrainLocal]] over
    * `batch`'s word-frequency frame (callers pass corpus ∪ fresh when
    * the tokenizer's domain is the whole corpus — the trainer input is
    * the caller's contract), publish the learned merge vocabulary as the
    * next version, and retire roots beyond the grace window. Readers
    * pick the new vocab up at their next resolve; in-flight batches
    * keep their resolved root (immutable, grace-retained) — the q158
    * reader-isolation argument verbatim. Returns true iff a retrain
    * published. OperatorSpec gates: planted drift triggers EXACTLY one
    * retrain (the second call measures under the new vocab and stays
    * quiet); the published vocab ≡ a from-scratch train on the same
    * frame; counts under the resolved vocab ≡ counts under that
    * from-scratch vocab; the pre-drift root survives one grace cycle and
    * retires after the next. */
  def maybeRetrainVocab(s: SparkSession, base: String, batch: DataFrame,
      maxOovPpm: Long, nMerges: Int, keep: Int = 2): Boolean = {
    import s.implicits._
    require(maxOovPpm >= 0, s"maxOovPpm must be >= 0, got $maxOovPpm")
    val (_, vocab) = resolveVocab(s, base)
    val row = subwordVocabCounts(batch.select("doc_id", "text"),
        vocab.toDF("v"), vocab.map(_.length).distinct.sorted)
      .agg(coalesce(sum(col("n_subwords")), lit(0L)).cast("long"),
        coalesce(sum(col("n_fallback")), lit(0L)).cast("long")).head()
    val (nSub, nFb) = (row.getLong(0), row.getLong(1))
    val ppm = if (nSub == 0L) 0L else nFb * 1000000L / nSub
    if (ppm <= maxOovPpm) false
    else {
      val learned = bpeTrainLocal(wordFreqsOf(batch), nMerges)
        .map(_._4).distinct.sorted
      require(learned.nonEmpty,
        s"drift at $ppm ppm but the batch admits no learnable merges " +
          "(single-char words?) — a retrain cannot reduce the fallback share")
      publishVocab(s, base, learned)
      RootPointer.retireOld(s, base, keep)
      true
    }
  }

  /** The q150 training loop itself — (rank, lft, rgt, merged, pair_count)
    * per learned merge. Shared by the gated q150 entry and q152 (which
    * freezes the learned table and APPLIES it), so the two can never
    * train differently. */
  private[graft] def bpeTrainMerges(s: SparkSession,
      d: String): Seq[(Long, String, String, String, Long)] = {
    var w = Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))
      .select(col("freq"), array_remove(split(col("word"), ""), "").as("toks"))
      .localCheckpoint()
    // the bpeCtes separator contract: the DuckDB oracle joins token state
    // on chr(30); a corpus word containing U+001E would silently corrupt
    // the SQL fold, so fail loudly HERE (one tiny count over the
    // checkpointed vocab-bounded frame) instead of as an oracle-hash diff
    val nSep = w.filter(array_contains(col("toks"), "\u001E")).count()
    require(nSep == 0,
      s"$nSep corpus words contain U+001E, the BPE oracle's token-state " +
        "separator (bpeCtes chr(30) contract); strip the record separator " +
        "from the corpus before training")
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= BpeMerges && !exhausted) {
      val best = w
        .select(col("freq"), explode(expr(
          "transform(slice(toks, 1, size(toks) - 1), " +
            "(t, i) -> named_struct('lft', t, 'rgt', element_at(toks, i + 2)))")).as("p"))
        .groupBy(col("p.lft").as("lft"), col("p.rgt").as("rgt"))
        .agg(sum("freq").as("cnt"))
        // the learnable-length cap (BpeMaxTokenLen): Spark length() counts
        // code points, matching the oracle's DuckDB length()
        .filter(length(concat(col("lft"), col("rgt"))) <= BpeMaxTokenLen)
        .orderBy(col("cnt").desc, col("lft").asc, col("rgt").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((k.toLong, l, r, l + r, c))
        w = w.select(col("freq"), expr(bpeMergeExpr("toks", l, r)).as("toks"))
          .localCheckpoint()
        k += 1
      }
    }
    merges.result()
  }

  /** The collected (char-tokens, freq) word-frequency frame the scaled
    * trainer iterates — ONE corpus-sized distributed pass (the q56
    * term-count shape, map-side-combinable), then a driver collect of the
    * result. The collect is Zipf-BOUNDED by construction: its row count is
    * the corpus VOCABULARY, not the corpus — the same boundedness argument
    * that makes q145's vocab a broadcast table (measured: 1M GenCorpus
    * docs → ~40k distinct words, a few MB on the driver; real web corpora
    * cap in the tens of millions, still driver-sized, and a df-floor
    * filter composes here if a pathological corpus ever isn't). Includes
    * the same U+001E separator require as [[bpeTrainMerges]]. */
  private[graft] def bpeWordFreqs(s: SparkSession, d: String): Array[(Array[String], Long)] =
    wordFreqsOf(Tables.spread(s, Tables.documents(s, d), "doc_id"))

  /** [[bpeWordFreqs]] over ANY (…, text) frame — the trainer input for
    * retrains whose domain is not a catalog table (corpus ∪ fresh batch,
    * a drifted stream window, …). */
  private[graft] def wordFreqsOf(docs: DataFrame): Array[(Array[String], Long)] = {
    val rows = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))
      .collect()
    require(!rows.exists(_.getString(0).contains('\u001E')),
      "corpus words contain U+001E, the BPE oracle's token-state " +
        "separator (bpeCtes chr(30) contract); strip the record separator " +
        "from the corpus before training")
    // split by CODE POINT, not UTF-16 code unit: the distributed trainer's
    // split(word, '') and the DuckDB oracle both split code-point-wise, so
    // a toCharArray split would hand the local trainer surrogate HALVES of
    // supplementary-plane chars as base tokens and it could learn a
    // different merge table than the loop it is pinned identical to
    // (round-17 advice; the non-ASCII differential in OperatorSpec pins it)
    rows.map(r => (splitCodePoints(r.getString(0)), r.getLong(1)))
  }

  private[graft] def splitCodePoints(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** DRIVER-LOCAL BPE TRAINING at production vocab scale — the q145 move
    * (vocab as DATA, not code) applied to the TRAINING half, answering the
    * q150 design ceiling: the distributed loop costs one Spark job +
    * driver argmax PER MERGE (32k production rounds = 32k sequential
    * jobs), yet the frame it iterates is vocabulary-sized. So train where
    * vocabulary-sized data lives: collect the (word, freq) frame once
    * ([[bpeWordFreqs]] — the ONLY corpus-sized pass), then run the merge
    * loop in-process with INCREMENTAL pair-count maintenance (the
    * classic Sennrich trainer): a pair→count map, a pair→word-occurrence
    * index, and a lazy-deletion priority queue make each round cost
    * O(words containing the merged pair × their length), not O(corpus)
    * and not O(vocabulary) — measured ms-class per round vs the job-class
    * distributed round (BASELINE "bpe-train-local").
    *
    * The fold algebra is IDENTICAL to [[bpeMergeExpr]] (merge fires when
    * the accumulator's last token is `l` and the next element is `r`,
    * greedy left-to-right non-overlapping), the argmax tie-break IDENTICAL
    * to the distributed orderBy (count desc, then lft, rgt in UTF-8 BYTE
    * order — Spark compares strings as UTF-8 binary, so the driver
    * comparator goes through getBytes, not String.compareTo, which
    * diverges on supplementary planes): OperatorSpec pins (a) the shared
    * 6-merge prefix ≡ [[bpeTrainMerges]], (b) a 200-merge differential
    * against a naive recount-every-round reference (exercising exactly
    * the incremental bookkeeping), and q157 gates the 6-merge prefix
    * under q150's unrolled SQL oracle. */
  private[graft] def bpeTrainLocal(words: Array[(Array[String], Long)],
      nMerges: Int): Seq[(Long, String, String, String, Long)] = {
    import scala.collection.mutable
    // UTF-8 byte order = the distributed orderBy's UTF8String binary order.
    // Lone-surrogate caveat (round-17 advice): getBytes maps an ill-formed
    // lone surrogate to '?' — which is EXACTLY what Spark's
    // UTF8String.fromString does on the distributed side, so the mirror is
    // faithful there too; well-formed supplementary-plane tokens encode
    // (and therefore compare) identically on both paths, pinned by the
    // non-ASCII differential in OperatorSpec.
    def utf8Cmp(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val toks = words.map(_._1.clone())
    val freqs = words.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    // growable primitive int array — NOT a BitSet (a BitSet sizes to the
    // LARGEST member: one sparse pair registered by word #3M allocates
    // ~370 KB, and a multi-million-vocab corpus accumulates ~100k such
    // pairs — measured as a GC death on the 3M-vocab stress corpus) and
    // NOT an ArrayBuffer[Int] (boxes). Duplicate indices are fine: the
    // touched scan re-checks membership and a second visit is a no-op.
    final class IntVec {
      var a = new Array[Int](4); var n = 0
      def +=(x: Int): Unit = {
        if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
        a(n) = x; n += 1
      }
    }
    val occurs = mutable.HashMap.empty[(String, String), IntVec]
    // max-heap on (count, then SMALLEST lft/rgt wins ties); stale entries
    // are skipped at pop time by re-checking against the live count map
    val pq = mutable.PriorityQueue.empty[(Long, String, String)](
      new Ordering[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(x._1, y._1)
          if (c != 0) c
          else {
            val l = utf8Cmp(x._2, y._2)
            if (l != 0) -l else -utf8Cmp(x._3, y._3)
          }
        }
      })
    def bump(p: (String, String), by: Long): Unit = {
      val n = counts.getOrElse(p, 0L) + by
      if (n <= 0L) counts.remove(p)
      else {
        counts(p) = n
        pq.enqueue((n, p._1, p._2))
      }
    }
    var i = 0
    while (i < toks.length) {
      val t = toks(i); var j = 0
      while (j < t.length - 1) {
        val p = (t(j), t(j + 1))
        counts(p) = counts.getOrElse(p, 0L) + freqs(i)
        occurs.getOrElseUpdate(p, new IntVec) += i
        j += 1
      }
      i += 1
    }
    counts.foreach { case (p, n) => pq.enqueue((n, p._1, p._2)) }
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= nMerges && !exhausted) {
      // lazy-deletion pop: the heap holds every historical (count, pair)
      // push; an entry is live iff it matches the pair's current count
      var best: (Long, String, String) = null
      while (best == null && pq.nonEmpty) {
        val top = pq.dequeue()
        // live AND under the learnable-length cap (code points — the
        // distributed filter's mirror); an over-cap pair can never become
        // legal again, so dropping its heap entry here is a permanent,
        // correct skip
        if (counts.get((top._2, top._3)).contains(top._1) &&
            top._2.codePointCount(0, top._2.length) +
              top._3.codePointCount(0, top._3.length) <= BpeMaxTokenLen)
          best = top
      }
      if (best == null) exhausted = true
      else {
        val (c, l, r) = best
        val m = l + r
        merges += ((k.toLong, l, r, m, c))
        // rewrite only the words that contain the merged pair; maintain
        // the count map by pair-multiset DELTA accumulated across the
        // WHOLE round — one heap push per net-changed pair per round,
        // not per word (a heavy early merge on a multi-million-word
        // vocabulary touches ~every word containing the pair; per-word
        // pushes made such rounds heap-bound — measured on the 3M-vocab
        // stress corpus)
        val touched = occurs.get((l, r))
          .map(v => java.util.Arrays.copyOf(v.a, v.n)).getOrElse(Array.empty[Int])
        occurs.remove((l, r))
        val roundDelta = mutable.HashMap.empty[(String, String), Long]
        touched.foreach { idx =>
          val old = toks(idx)
          var hit = false
          var j = 0
          while (!hit && j < old.length - 1) {
            hit = old(j) == l && old(j + 1) == r; j += 1
          }
          if (hit) { // occurs entries can be stale after earlier rewrites
            val nw = mutable.ArrayBuffer.empty[String]
            nw += old(0)
            var x = 1
            while (x < old.length) {
              if (nw.last == l && old(x) == r) nw(nw.length - 1) = m
              else nw += old(x)
              x += 1
            }
            var y = 0
            while (y < old.length - 1) {
              val p = (old(y), old(y + 1))
              roundDelta(p) = roundDelta.getOrElse(p, 0L) - freqs(idx); y += 1
            }
            y = 0
            while (y < nw.length - 1) {
              val p = (nw(y), nw(y + 1))
              roundDelta(p) = roundDelta.getOrElse(p, 0L) + freqs(idx)
              // occurrence registration stays per word (set insert, no
              // heap): the index must know every word that may hold p
              occurs.getOrElseUpdate(p, new IntVec) += idx
              y += 1
            }
            toks(idx) = nw.toArray
          }
        }
        roundDelta.foreach { case (p, dl) => if (dl != 0L) bump(p, dl) }
        k += 1
      }
    }
    merges.result()
  }

  /** One BPE merge round over a token-array column: greedy left-to-right
    * non-overlapping re-pair of (l, r) → l+r as a bounded array fold —
    * merge fires when the accumulator's LAST token is `l` and the next
    * element is `r` (a just-merged token never re-matches as `l` because
    * it IS l+r, a different string). Map-side; the spec pins the algebra
    * on planted sequences. */
  private[graft] def bpeMergeExpr(toksCol: String, l: String, r: String): String = {
    // tokens are corpus substrings; escape quotes anyway so a stray
    // apostrophe in a future corpus can't break the generated lambda
    def q(t: String): String = t.replace("\\", "\\\\").replace("'", "\\'")
    s"""aggregate(slice($toksCol, 2, size($toksCol) - 1),
       |  array(element_at($toksCol, 1)),
       |  (acc, x) -> IF(element_at(acc, -1) = '${q(l)}' AND x = '${q(r)}',
       |    concat(slice(acc, 1, size(acc) - 1), array('${q(l + r)}')),
       |    concat(acc, array(x))))""".stripMargin
  }

  /** Unrolled [[BpeMerges]]-round oracle: per round, the pair count is an
    * index-zip over the token list, the argmax a LIMIT-1 scalar CTE, and
    * the rewrite the SAME fold as Spark's via `list_reduce` over the
    * separator-encoded state (appending `rgt` to a state whose last token
    * is `lft` IS the merge, because merged = lft || rgt). */
  /** The [[BpeMerges]]-round training CTE chain (w0, then per round:
    * pair counts p_k, argmax b_k, rewritten state w_k — the last rewrite
    * elided, no consumer reads it) — shared by q150's merge-table oracle
    * and q152's apply oracle. */
  // SEPARATOR CONTRACT: the oracle encodes per-word token state as a
  // chr(30)-joined string (DuckDB lacks list-typed recursive state), so a
  // corpus word CONTAINING U+001E would corrupt the SQL fold while the
  // Spark array fold handles it fine — a spurious cross-engine mismatch.
  // bpeTrainMerges therefore REQUIREs the corpus U+001E-free up front: a
  // future corpus that violates the contract fails loudly on the engine
  // side with this explanation, never as a silent oracle-hash diff.
  private def bpeCtes: String = {
    val ctes = Seq.newBuilder[String]
    ctes += s"""w0 AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
       |         list_aggregate(string_split(word, ''), 'string_agg', chr(30)) AS state
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) > 0
       |  GROUP BY word)""".stripMargin
    for (k <- 1 to BpeMerges) {
      ctes += s"""p$k AS (
         |  SELECT toks[CAST(i AS INTEGER)] AS lft, toks[CAST(i + 1 AS INTEGER)] AS rgt,
         |         SUM(freq) AS cnt
         |  FROM (SELECT freq, toks, unnest(range(1, len(toks))) AS i
         |        FROM (SELECT freq, string_split(state, chr(30)) AS toks FROM w${k - 1}))
         |  GROUP BY 1, 2)""".stripMargin
      ctes += s"""b$k AS (
         |  SELECT lft, rgt, cnt FROM p$k WHERE length(lft || rgt) <= $BpeMaxTokenLen
         |  ORDER BY cnt DESC, lft ASC, rgt ASC LIMIT 1)""".stripMargin
      if (k < BpeMerges) ctes += s"""w$k AS (
         |  SELECT word, freq,
         |         list_reduce(string_split(w.state, chr(30)),
         |           (acc, x) -> CASE WHEN (acc = b.lft OR ends_with(acc, chr(30) || b.lft))
         |                                 AND x = b.rgt
         |                       THEN acc || x ELSE acc || chr(30) || x END) AS state
         |  FROM w${k - 1} w CROSS JOIN b$k b)""".stripMargin
    }
    ctes.result().mkString(",\n")
  }

  lazy val q150Sql: String = {
    val finals = (1 to BpeMerges).map { k =>
      s"SELECT CAST($k AS BIGINT) AS rank, lft, rgt, lft || rgt AS merged, " +
        s"CAST(cnt AS BIGINT) AS pair_count FROM b$k"
    }.mkString(" UNION ALL ")
    s"WITH $bpeCtes\nSELECT * FROM ($finals) ORDER BY rank"
  }

  // ---------------------------------------------------------------- q152
  /** q152: TRAIN → FREEZE → APPLY, one gated entry — the tokenizer
    * lifecycle closed (the serving-loop convention applied to the subword
    * family): the q150 training loop runs, its merge table is FROZEN as
    * the subword vocabulary (alphabet ∪ merged tokens — single chars are
    * the kernel's built-in fallback), and the corpus is re-counted under
    * that learned vocab through q145's vocab-as-data kernel (the
    * broadcast-table longest-match walk — candidate lengths are the
    * DISTINCT learned token lengths, so per-char cost stays O(#lengths),
    * never O(|vocab|)). Output = q137's (doc_id, n_words, n_subwords)
    * contract, counted in learned units — the row a budget pipeline
    * (q139/q140) consumes once the tokenizer is trained on ITS corpus
    * rather than a committed table.
    *
    * Oracle: the q150 training CTE chain composed with q145's recursive
    * greedy walk, the vocabulary CTE being the learned merges — BOTH
    * engines train independently and apply independently, so a drift in
    * either half (or in the freeze between them) breaks the hash.
    *
    * Scale shape: training as q150 (one corpus-sized distinct-word pass,
    * then vocab-bounded rounds); application as q145 (broadcast vocab
    * table, Zipf-deduped per-word walk, one doc-keyed attach agg). */
  def q152LearnedSubwords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // composes the SCALED trainer (bpeTrainLocal — merge-table-identical
    // to the distributed loop, q157/OperatorSpec-pinned), so the gated
    // lifecycle exercises the production training path end-to-end
    val learned = bpeTrainLocal(bpeWordFreqs(s, d), BpeMerges).map(_._4).distinct
    val lens = learned.map(_.length).distinct.sorted
    if (learned.isEmpty)
      // degenerate corpus (zero learnable merges — e.g. only single-char
      // words): every greedy step falls back to one character, so
      // n_subwords = Σ word lengths — EXACTLY what the SQL oracle's
      // recursive walk degrades to with an empty vocab CTE (COALESCE→1
      // per step), where subwordVocabCounts' candLens require would
      // throw. OperatorSpec pins the engine-vs-oracle agreement here.
      Tables.spread(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("wd"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_words"),
          sum(length(col("wd"))).cast("long").as("n_subwords"))
        .orderBy("doc_id")
    else subwordVocabCounts(
      Tables.spread(s, Tables.documents(s, d), "doc_id").select("doc_id", "text"),
      learned.toDF("v"), lens)
      .select("doc_id", "n_words", "n_subwords").orderBy("doc_id")
  }

  lazy val q152Sql: String = {
    val vocabUnion = (1 to BpeMerges)
      .map(k => s"SELECT lft || rgt AS v FROM b$k").mkString(" UNION ALL ")
    s"""WITH RECURSIVE $bpeCtes,
       |vocab(v) AS (SELECT DISTINCT v FROM ($vocabUnion)),
       |wrd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM documents),
       |vw AS (SELECT DISTINCT wd FROM wrd),
       |step(wd, pos, cnt) AS (
       |  SELECT wd, 1, CAST(0 AS BIGINT) FROM vw
       |  UNION ALL
       |  SELECT wd,
       |         pos + COALESCE((SELECT MAX(length(v)) FROM vocab
       |                         WHERE substring(wd, pos, length(v)) = v), 1),
       |         cnt + 1
       |  FROM step WHERE pos <= length(wd)),
       |wc AS (SELECT wd, MAX(cnt) AS n_sub FROM step GROUP BY wd),
       |dt AS (SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |              CAST(SUM(wc.n_sub) AS BIGINT) AS n_subwords
       |       FROM wrd w JOIN wc ON w.wd = wc.wd GROUP BY w.doc_id)
       |SELECT doc_id, n_words, n_subwords FROM dt ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q156
  /** q156: PER-SOURCE OOV AUDIT — the batch, oracle-gated face of the
    * tokenizer-drift monitor ([[graft.streaming.DocStream.vocabOovBatch]]):
    * under the frozen [[SubwordVocab]], per source, how many greedy steps
    * fell back to an uncovered single character, reported with the
    * integer parts-per-million share (`n_fallback·10⁶ div n_subwords` —
    * integer division keeps the gate float-free). The per-source drift
    * ranking is what a corpus operator reads before deciding WHICH
    * source's growth forces a retrain. Runs the q145 vocab-as-data
    * kernel with the committed vocab as the table (candidate lengths
    * {2,3,4} — the committed table's distinct lengths), so the audit,
    * the gated counters, and the streaming monitor all share one fold. */
  def q156OovAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = subwordVocabCounts(
      Tables.spread(s, Tables.documents(s, d), "doc_id").select("doc_id", "text"),
      SubwordVocab.toDF("v"),
      SubwordVocab.map(_.length).distinct.sorted)
    counts
      .join(Tables.documents(s, d).select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_words")).cast("long").as("n_words"),
        sum(col("n_subwords")).cast("long").as("n_subwords"),
        sum(col("n_fallback")).cast("long").as("n_fallback"))
      .withColumn("oov_ppm",
        expr("n_fallback * 1000000L div n_subwords").cast("long"))
      .orderBy("source")
  }

  lazy val q156Sql: String = {
    val arr = SubwordVocab.map(v => s"'$v'").mkString(", ")
    s"""WITH RECURSIVE vocab(v) AS (SELECT unnest([$arr])),
       |wrd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM documents),
       |vw AS (SELECT DISTINCT wd FROM wrd),
       |step(wd, pos, cnt, fb) AS (
       |  SELECT wd, 1, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM vw
       |  UNION ALL
       |  SELECT wd,
       |         pos + COALESCE((SELECT MAX(length(v)) FROM vocab
       |                         WHERE substring(wd, pos, length(v)) = v), 1),
       |         cnt + 1,
       |         fb + CASE WHEN (SELECT MAX(length(v)) FROM vocab
       |                         WHERE substring(wd, pos, length(v)) = v) IS NULL
       |                   THEN 1 ELSE 0 END
       |  FROM step WHERE pos <= length(wd)),
       |wc AS (SELECT wd, MAX(cnt) AS n_sub, MAX(fb) AS n_fb FROM step GROUP BY wd),
       |dt AS (SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |              CAST(SUM(wc.n_sub) AS BIGINT) AS n_subwords,
       |              CAST(SUM(wc.n_fb) AS BIGINT) AS n_fallback
       |       FROM wrd w JOIN wc ON w.wd = wc.wd GROUP BY w.doc_id)
       |SELECT d.source,
       |       CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(dt.n_words) AS BIGINT) AS n_words,
       |       CAST(SUM(dt.n_subwords) AS BIGINT) AS n_subwords,
       |       CAST(SUM(dt.n_fallback) AS BIGINT) AS n_fallback,
       |       CAST(SUM(dt.n_fallback) * 1000000 // SUM(dt.n_subwords) AS BIGINT) AS oov_ppm
       |FROM dt JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  val catalog: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q20_text_stats", q20TextStats _, Some(q20Sql)),
    ("q21_lang_id", q21LangId _, Some(q21Sql)),
    ("q22_fingerprint", q22Fingerprint _, Some(q22Sql)),
    ("q43_winnow_fp", q43WinnowFp _, Some(q43Sql)),
    ("q48_chunk", q48Chunk _, Some(q48Sql)),
    ("q49_redact", q49Redact _, Some(q49Sql)),
    ("q50_repetition", q50Repetition _, Some(q50Sql)),
    ("q56_tfidf", q56Tfidf _, Some(q56Sql)),
    ("q90_bigram_topk", q90BigramTopk _, Some(q90Sql)),
    ("q92_heavy_hitters", q92HeavyHitters _, Some(q92Sql)),
    ("q95_bm25", q95Bm25 _, Some(q95Sql)),
    ("q96_hll_distinct", q96HllDistinct _, Some(q96Sql)),
    ("q97_continuation", q97Continuation _, Some(q97Sql)),
    ("q98_source_overlap", q98SourceOverlap _, Some(q98Sql)),
    ("q102_kneser_ney", q102KneserNey _, Some(q102Sql)),
    ("q104_kneser_ney3", q104KneserNey3 _, Some(q104Sql)),
    ("q107_kn_doc_score", q107KnDocScore _, Some(q107Sql)),
    ("q137_subword_tokens", q137SubwordTokens _, Some(q137Sql)),
    ("q139_mix_subword", sourceMixSubword _, Some(q139Sql)),
    ("q140_pack_subword", q140PackSubword _, Some(q140Sql)),
    ("q145_subword_vocab", q145SubwordVocab _, Some(q145Sql)),
    ("q150_bpe_train", q150BpeTrain _, Some(q150Sql)),
    ("q157_bpe_train_local", q157BpeTrainLocal _, Some(q150Sql)),
    ("q159_vocab_served", q159VocabServed _, Some(q152Sql)),
    ("q152_learned_subwords", q152LearnedSubwords _, Some(q152Sql)),
    ("q156_oov_audit", q156OovAudit _, Some(q156Sql)),
  )
}
