package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus a batch "decode / feature-extract" stage.
  *
  * The Spark-side plumbing is real — schema, partitioning, batch shape — and
  * runs over `mapPartitions` (the Scala equivalent of a Pandas-UDF
  * `mapInPandas` stage: one JVM call per partition, amortizing per-batch
  * setup such as a decoder context). Two decoder bindings ship: the default
  * deterministic fake (the driver corpus is text standing in for media) and
  * two REAL codecs backed by the JDK alone: [[Multimodal.ImageIoDecoder]]
  * (`javax.imageio`, exercised on synthesized PNGs) and
  * [[Multimodal.WavDecoder]] (`javax.sound.sampled`, exercised on
  * synthesized 16-bit PCM WAVs). Video codecs aren't in the JDK; video
  * stays behind the fake.
  */
object Multimodal {

  /** Typed metadata emitted per media blob. */
  case class MediaFeature(
      doc_id: Long,
      n_bytes: Long,
      format: String,
      width: Int,
      height: Int,
      n_frames: Int,
      mean_luma: Double)

  /** Deterministic fake decoder. A real implementation would hand `bytes` to
    * an image/audio library; everything downstream (schema, batching,
    * partitioning) is production-shaped. */
  object FakeDecoder {
    def decode(docId: Long, bytes: Array[Byte]): MediaFeature = {
      val n = bytes.length.toLong
      // pretend-parse a header: first 4 bytes select the "format"
      val fmt = if (n == 0) "empty" else ((bytes(0) & 0xff) % 3) match {
        case 0 => "img"
        case 1 => "audio"
        case _ => "video"
      }
      // deterministic fake dimensions / luma derived from the payload
      var acc = 0L
      var i = 0
      while (i < math.min(bytes.length, 64)) { acc += (bytes(i) & 0xff); i += 1 }
      MediaFeature(
        doc_id = docId,
        n_bytes = n,
        format = fmt,
        width = (n % 640).toInt,
        height = ((n * 7) % 480).toInt,
        n_frames = ((n % 10) + 1).toInt,
        mean_luma = if (n == 0) 0.0 else acc.toDouble / math.min(bytes.length, 64))
    }
  }

  /** Real image decode via `javax.imageio` (JDK built-in — zero new
    * dependencies). PNG/GIF/BMP/JPEG per the JDK's registered readers. The
    * luma is the Rec. 601 weighted mean over all pixels — a real
    * whole-raster computation, so the test can assert exact dimensions and
    * near-exact luma against synthesized images. Not the default decoder:
    * the driver corpus is text standing in for media, which no real codec
    * accepts; pass `ImageIoDecoder.decode` to [[extractFeatures]] when the
    * payload column holds actual image bytes. */
  object ImageIoDecoder {
    def decode(docId: Long, bytes: Array[Byte]): MediaFeature = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, s"doc $docId: no registered ImageIO reader accepts this payload")
      val (w, h) = (img.getWidth, img.getHeight)
      var sum = 0.0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sum += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
            0.114 * (rgb & 0xff)
          x += 1
        }
        y += 1
      }
      MediaFeature(docId, bytes.length.toLong, "image", w, h, 1,
        if (w * h == 0) 0.0 else sum / (w.toLong * h))
    }
  }

  /** Real audio decode via `javax.sound.sampled` (JDK built-in — zero new
    * dependencies). WAV/AIFF/AU per the JDK's registered providers; 16-bit
    * PCM exercised. Field mapping onto the shared MediaFeature schema:
    * width = sample rate (Hz), height = channels, n_frames = PCM frames,
    * mean_luma = mean absolute amplitude in [0, 1] — a real whole-signal
    * computation (a pure sine decodes to amp·2/π, which the spec asserts). */
  object WavDecoder {
    def decode(docId: Long, bytes: Array[Byte]): MediaFeature = {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16,
        s"doc $docId: only 16-bit PCM is wired (${fmt.getSampleSizeInBits}-bit payload)")
      // encoding check, not just width: a 16-bit UNSIGNED payload would pass
      // the width gate and be silently reinterpreted as signed samples —
      // wrong mean amplitude instead of the loud failure the contract promises
      require(fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        s"doc $docId: only signed PCM is wired (${fmt.getEncoding} payload)")
      val frames = math.min(ais.getFrameLength, Int.MaxValue.toLong).toInt
      val data = ais.readAllBytes()
      val n = data.length / 2
      var sum = 0.0
      var i = 0
      while (i + 1 < data.length) {
        val s =
          if (fmt.isBigEndian) ((data(i) << 8) | (data(i + 1) & 0xff)).toShort
          else ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
        sum += math.abs(s / 32768.0)
        i += 2
      }
      MediaFeature(docId, bytes.length.toLong, "audio",
        fmt.getSampleRate.toInt, fmt.getChannels, frames,
        if (n == 0) 0.0 else sum / n)
    }
  }

  /** documents → opaque binary column (stands in for a real media payload;
    * in production the binary comes from the source, e.g. parquet BYTE_ARRAY
    * or a blob-store pointer already resolved upstream). */
  def withBinaryPayload(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"))

  /** Batch feature extraction over the binary column via mapPartitions —
    * decoder context initialized once per partition, rows streamed through.
    * Repartition first so huge blobs spread evenly (at 100 TB a skewed blob
    * distribution would OOM single tasks otherwise). `decode` defaults to
    * the deterministic stub; [[ImageIoDecoder.decode]] is the real-codec
    * binding for genuine image payloads. */
  def extractFeatures(
      df: DataFrame,
      partitions: Int,
      decode: (Long, Array[Byte]) => MediaFeature = FakeDecoder.decode): DataFrame = {
    val enc = Encoders.product[MediaFeature]
    df.select(col("doc_id").cast("long"), col("payload"))
      .repartition(partitions, col("doc_id"))
      .mapPartitions { rows =>
        // per-partition decoder init would go here (open codec ctx once)
        rows.map { r =>
          decode(r.getLong(0), r.getAs[Array[Byte]](1))
        }
      }(enc)
      .toDF()
  }

  /** Resized-media row: the payload is a real re-encoded image. */
  case class ResizedMedia(doc_id: Long, payload: Array[Byte], width: Int, height: Int)

  /** Real image RESIZE stage (`javax.imageio` + AWT `Graphics2D` — JDK only,
    * zero new dependencies): decode → bilinear scale to (targetW, targetH) →
    * re-encode PNG. The normalization every vision-training pipeline runs
    * between ingest and embedding. Batched per partition like
    * [[extractFeatures]] (codec setup amortizes; the doc_id repartition
    * spreads blob skew), and the output payload is a genuine image — the
    * spec round-trips it back through [[ImageIoDecoder]] and asserts target
    * dimensions and color-preserving luma. Fails loudly on undecodable
    * payloads, same contract as the decoders. */
  def resizeImages(df: DataFrame, partitions: Int,
      targetW: Int, targetH: Int): DataFrame = {
    val enc = Encoders.product[ResizedMedia]
    df.select(col("doc_id").cast("long"), col("payload"))
      .repartition(partitions, col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          require(img != null,
            s"doc $id: no registered ImageIO reader accepts this payload")
          val out = new java.awt.image.BufferedImage(
            targetW, targetH, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, targetW, targetH, null)
          g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          ResizedMedia(id, bos.toByteArray, targetW, targetH)
        }
      }(enc).toDF()
  }

  /** 64-bit aHash perceptual fingerprint of a REAL image payload (the
    * content-level multimodal-dedup primitive): decode via `javax.imageio`,
    * integer-downsample the luma raster to an 8×8 grid (mean Rec. 601 luma
    * per cell — plain box averaging, no DCT, portable), threshold each cell
    * at the grid mean. Bit i (row-major) is set iff cell i's luma sum
    * strictly exceeds its share of the grid total — the compare is held in
    * integer cross-multiplied form (sum·64 > total·cellArea-normalized)
    * so no float rounding can flip a bit between platforms. Two
    * re-encodes/resizes of the same picture land within a few bits
    * (hamming ≤ ~10 of 64); unrelated pictures differ by ~32 — the spec
    * plants exactly that. Pairs at corpus scale come from the q134 banding
    * machinery (16-bit bands, equi-join candidates, exact hamming verify
    * on candidates only — never all-pairs). */
  def aHash64(bytes: Array[Byte]): Long = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "no registered ImageIO reader accepts this payload")
    val (w, h) = (img.getWidth, img.getHeight)
    require(w >= 8 && h >= 8, s"image too small for an 8x8 grid: ${w}x$h")
    // integer luma accumulators per cell: sum of (299R + 587G + 114B) and
    // pixel counts — exact integer math end-to-end
    val sums = Array.ofDim[Long](64)
    val cnts = Array.ofDim[Long](64)
    var y = 0
    while (y < h) {
      val gy = math.min(y * 8 / h, 7)
      var x = 0
      while (x < w) {
        val gx = math.min(x * 8 / w, 7)
        val rgb = img.getRGB(x, y)
        val luma = 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
          114L * (rgb & 0xff)
        val c = gy * 8 + gx
        sums(c) += luma
        cnts(c) += 1
        x += 1
      }
      y += 1
    }
    // threshold each cell's MEAN luma against the grand mean. Means are
    // held as ·1000-scaled integer divisions (deterministic on every
    // platform, and overflow-safe where the cross-multiplied form
    // sum_c·cnt_all would wrap past Long on large rasters): per-cell
    // numerators cap at 255000·1000, the grand mean at 64× that.
    val sumAll = sums.sum
    val cntAll = cnts.sum
    val meanAll = sumAll * 1000L / cntAll
    var fp = 0L
    var c = 0
    while (c < 64) {
      if (cnts(c) > 0 && sums(c) * 1000L / cnts(c) > meanAll) fp |= (1L << c)
      c += 1
    }
    fp
  }

  /** Hamming distance between two [[aHash64]] fingerprints. */
  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Deterministic synthetic PNG — the q146 corpus generator (a pure
    * function of `id`, so the committed-expected oracle can regenerate
    * the same rasters). Pictures come in groups of 4 (g = id/4):
    *   id ≡ 0: the group's base gradient at 64×48;
    *   id ≡ 1: the SAME picture re-rendered at 32×24 (every-other-pixel
    *           sampling — the downscaled re-render a real dedup must
    *           recover, ≤ a few aHash bits of drift);
    *   id ≡ 2: unrelated content (its own id-seeded pattern);
    *   id ≡ 3: the base INVERTED (far in hamming space).
    * PNG is lossless and `getRGB` exact, so decode(encode(raster)) ≡
    * raster and [[aHash64]] over these bytes is integer-deterministic
    * end-to-end. */
  private[graft] def synthPng(id: Long): Array[Byte] = {
    val g = id / 4
    val kind = (id % 4).toInt
    def base(x: Int, y: Int): Int =
      (x * (3 + (g % 5)).toInt + y * (2 + (g % 3)).toInt + (g * 37 % 256).toInt) % 256
    def vOf(x: Int, y: Int): Int = kind match {
      case 2 => (x * 7 + y * 11 + (id * 53 % 256).toInt) % 256
      case 3 => 255 - base(x, y)
      case _ => base(x, y)
    }
    val (w, h, sx) = if (kind == 1) (32, 24, 2) else (64, 48, 1)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = vOf(x * sx, y * sx) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Frame-sampling stage shape: one row per sampled frame index — the
    * explode pattern a video pipeline uses between decode and per-frame
    * embedding. */
  def sampleFrames(features: DataFrame, everyN: Int): DataFrame =
    features
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(everyN))))
      .select("doc_id", "frame_idx", "format", "width", "height")
}

/** Oracle-able slice of the multimodal surface: binary metadata extraction
  * with pure column expressions (the part DuckDB can reproduce). */
object MultimodalOps {
  def q30MultimodalMeta(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("n_bytes", length(col("payload")).cast("long"))
      .withColumn("header_hex", substring(hex(col("payload")), 1, 8))
      .withColumn("fake_w", (col("n_bytes") % 640).cast("int"))
      .withColumn("fake_h", ((col("n_bytes") * 7) % 480).cast("int"))
      .select("doc_id", "n_bytes", "header_hex", "fake_w", "fake_h")
      .orderBy("doc_id")

  val q30Sql: String =
    """SELECT doc_id,
      |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |       substring(hex(encode(text)), 1, 8) AS header_hex,
      |       CAST(octet_length(encode(text)) % 640 AS INTEGER) AS fake_w,
      |       CAST((octet_length(encode(text)) * 7) % 480 AS INTEGER) AS fake_h
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Hamming budget for q134 near-dup pairs and the band split (4 bands of
    * 16 bits — the q26 SimHash banding convention). */
  private val PhashMaxHam = 8

  /** q134: PERCEPTUAL-HASH NEAR-DUP PAIRS over the multimodal payload —
    * content-level multimodal dedup (the aHash/dHash family: integer
    * downsample + threshold, no DCT), the operator an image-heavy corpus
    * runs where text dedup runs MinHash. The fingerprint is a 64-bit aHash
    * over the stub decoder's "luma grid": 64 payload samples at positions
    * ⌊i·L/64⌋+1 (the deterministic decode of the text-standing-in-for-media
    * payload — [[Multimodal.FakeDecoder]]'s convention; [[Multimodal
    * .aHash64]] is the REAL-codec binding of the identical grid+threshold
    * recipe, spec-gated on synthesized PNGs), each cell thresholded at the
    * grid mean in exact integer cross-multiplied form (v·64 > Σv — no
    * division, no float, bit-identical cross-engine).
    *
    * Pairing is q26's SimHash BANDING machinery verbatim: the 64 bits
    * split into 4 × 16-bit bands; candidates share ≥ 1 exact band
    * (equi-join on (band, value) — never all-pairs); the exact hamming
    * verify (Σ bit_count(xor) over the 4 band words) runs on candidates
    * only, kept at ≤ [[PhashMaxHam]]. The gated semantics are the banded
    * LSH contract itself (share-a-band AND hamming ≤ H — the oracle
    * states the same two-phase rule), the standard recall trade: a pair
    * with ≤ 8 scattered bit flips may miss banding, exactly like SimHash.
    *
    * Scale shape: fingerprints are map-side (one pass over the payload,
    * 4 longs out — 32 bytes/doc at 100 TB); the band join shuffles n·4
    * 16-byte rows on (band, value); hamming is map-side on matched pairs;
    * the only corpus-sized exchange is the banded candidate join, the
    * exact shape q26 runs. Byte-identical duplicates hash identically, so
    * hamming-0 pairs are guaranteed recall (the q23 set). */
  def q134PhashNearDup(s: SparkSession, d: String): DataFrame =
    phashPairs(Tables.spread(s, Tables.documents(s, d), "doc_id"))

  /** The fingerprint + banding + verify kernel over ANY (doc_id, text)
    * payload frame — the catalog table for q134, a planted near-dup frame
    * for the recall spec; only payload rows cross the interface. */
  /** The whole fingerprint as ONE expression with the grid and its sum
    * bound as LAMBDA VARIABLES (the single-element-array transform trick:
    * a lambda argument is evaluated exactly once). Spelling them as
    * separate withColumn steps reads better but CollapseProject INLINES
    * the grid into every one of the 64 bit comparisons AND into the sum
    * inside each — higher-order functions are interpreted (no codegen, no
    * common-subexpression elimination), so the inlined form re-ran the
    * 64-substring grid ~128× per row: measured as multi-minute straggler
    * tasks at 100k docs where this form is one pass. */
  private[graft] val phashFpExpr: String = phashFpExprFor(4)

  /** The fingerprint expression under an EXPLICIT band layout: the same
    * 64 thresholded grid cells packed into `nBands` words of 64/nBands
    * bits each. The BITS are identical across layouts — only the packing
    * (and therefore the banding collision probability downstream)
    * changes, which is exactly the q143 lever: wider bands have higher
    * per-band entropy, so the share-a-band candidate set collapses. */
  private[graft] def phashFpExprFor(nBands: Int): String = {
    require(nBands >= 1 && 64 % nBands == 0,
      s"band count must divide 64, got $nBands")
    val bw = 64 / nBands
    // the grid position multiplies in BIGINT (CAST(i AS BIGINT) — a 32-bit
    // i·length wraps negative past ~34M chars, and Spark's negative
    // substring position counts from the END: garbage grid, oracle
    // mismatch; the DuckDB mirror was already BIGINT)
    "element_at(transform(array(" +
      "transform(sequence(0, 63), i -> CAST(ascii(substring(" +
      "text, CAST((CAST(i AS BIGINT) * length(text)) DIV 64 AS INT) + 1, 1)) AS BIGINT))" +
      "), garr -> element_at(transform(array(" +
      "aggregate(garr, 0L, (acc, x) -> acc + x)" +
      s"), sm -> transform(sequence(0, ${nBands - 1}), b -> aggregate(sequence(0, ${bw - 1}), 0L, " +
      s"(acc, j) -> acc + IF(element_at(garr, b * $bw + j + 1) * 64 > sm, " +
      "shiftleft(1L, j), 0L)))), 1)), 1)"
  }

  /** Banding observability: candidates scored vs survivor pairs, counted
    * by the SAME tasks that serve the query (`Dataset.observe` — zero
    * extra passes, the [[graft.ops.Similarity]] observedServeMetrics
    * pattern). THE number a dedup operator watches at 100 TB: the
    * candidate/survivor ratio is the banding-skew health signal (measured
    * 31M → 118k at 100k docs on the adversarial corpus), and a blowing-up
    * ratio says the band width no longer fits the corpus's fingerprint
    * entropy — caught per batch here instead of as a stuck stage. */
  def observedPhashMetrics(s: SparkSession, d: String): Map[String, Long] = {
    import org.apache.spark.sql.Observation
    val cand = Observation()
    val served = Observation()
    val out = phashPairs(Tables.spread(s, Tables.documents(s, d), "doc_id"),
        candTap = _.observe(cand, count(lit(1)).as("cands")))
      .observe(served, count(lit(1)).as("pairs"))
    out.write.format("noop").mode("overwrite").save()
    Map(
      "band_candidates" -> cand.get("cands").asInstanceOf[Long],
      "survivor_pairs" -> served.get("pairs").asInstanceOf[Long])
  }

  /** GUARDED BY DEFAULT (the [[graft.ops.Dedup.jaccardPairs]] move
    * mirrored): every phash catalog entry (q134/q143/q146 and the
    * observed-metrics tap) pays one band group-count and refuses past
    * [[graft.ops.Dedup.defaultPairBudget]] instead of shuffling the
    * measured 3.06B-candidate 1M 4×16 mass; under budget the banded
    * plan is unchanged. Deliberate budgets → [[bandPairsBudgeted]]. */
  private[graft] def phashPairs(docs: DataFrame,
      candTap: DataFrame => DataFrame = identity,
      nBands: Int = 4): DataFrame =
    bandPairsGuarded(docs
      .filter(length(col("text")) > 0)
      .withColumn("fp", expr(phashFpExprFor(nBands)))
      .select(col("doc_id"), col("fp")),
      graft.ops.Dedup.defaultPairBudget, candTap)

  /** The band→candidate→verify kernel over ANY (doc_id, fp: array<bigint>)
    * fingerprint frame — stub-decoded text fingerprints (q134/q143) or
    * REAL-codec aHash words (q146); only fingerprint rows cross the
    * interface (the rrfFuse substitution convention). */
  /** BAND CANDIDATE-MASS PROBE: Σ C(n,2) over the (band, value) buckets —
    * an upper bound on the banded self-join's row count, ONE group-count
    * over the fingerprints before any pair materializes (the
    * [[graft.ops.Dedup.jaccardPairsBudgeted]] discipline applied to the
    * phash family — THE number the q134 1M audit computed by hand:
    * 3.06B at 4×16 vs 1.75M at 2×32). */
  def bandCandidateMass(fps: DataFrame): Long =
    fps.select(posexplode(col("fp")).as(Seq("b", "bv")))
      .groupBy("b", "bv").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("m"))
      .head().getLong(0)

  /** [[bandPairs]] behind a SPILL-BUDGET REFUSAL: past the budget it
    * refuses in one group-count's time with the measured mass and the
    * prescriptions — switch to the 2×32 layout (q143: 1,746× collapse at
    * 1M, measured recall trade), route through the q27 embedding near-dup
    * (recall-preserving), or raise the budget knowingly. Under budget it
    * is row-for-row [[bandPairs]]. The operator-side answer to the q134
    * banding ceiling: the lever exists (q143), and now the ceiling is
    * DETECTED per corpus instead of discovered as a stuck stage. */
  def bandPairsBudgeted(fps: DataFrame, maxCandidatePairs: Long): DataFrame =
    bandPairsGuarded(fps, maxCandidatePairs)

  private def bandPairsGuarded(fps: DataFrame, maxCandidatePairs: Long,
      candTap: DataFrame => DataFrame = identity): DataFrame = {
    require(maxCandidatePairs >= 1,
      s"maxCandidatePairs must be >= 1, got $maxCandidatePairs")
    // collision counts: ONE in-plan group-count subtree (never probed
    // eagerly — the round-17 q146 premium's fix) yields the Σ C(n,2)
    // mass bound gating the self-join via [[graft.ops.Dedup.budgetGate]].
    // The fingerprint frame is cached: the pipeline has four lazy
    // consumers (count, gate, two self-join sides) and AQE's broadcast
    // decisions defeat exchange reuse between them; released by the
    // catalog sweep's per-entry clearCache, or by CacheBin.release()
    // for long-lived library sessions (the tracked-cache contract)
    val cached = graft.ops.CacheBin.note(fps.cache())
    val cnt = cached.select(posexplode(col("fp")).as(Seq("b", "bv")))
      .groupBy("b", "bv").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
    val gate = graft.ops.Dedup.budgetGate(
      cnt.agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("m")),
      maxCandidatePairs, "banded",
      "the band layout has too little entropy for this corpus. Switch to " +
        "the wide-band layout (q143: 2 bands x 32 bits - orders of " +
        "magnitude fewer candidates, weaker scattered-flip recall), route " +
        "through the embedding near-dup path (q27), or raise the budget " +
        "if this many hamming verifications are intended.")
    // one-sided gate (the measured champion shape from the q25 variant
    // sweep): the ungated build side races the gate job on the cache
    // fill; the gated stream side still blocks every pair row on the
    // mass check
    val bands = cached.select(col("doc_id"), col("fp"),
      posexplode(col("fp")).as(Seq("b", "bv")))
    bandPairsCore(graft.ops.Dedup.gatedBy(bands, gate), bands, candTap)
      .orderBy("a_id", "b_id")
  }

  /** The UNGUARDED kernel from a fingerprint frame — the public paths all
    * go through [[bandPairsGuarded]], which runs this same core over
    * gated, collision-prefiltered bands. */
  private[graft] def bandPairs(fps: DataFrame,
      candTap: DataFrame => DataFrame = identity): DataFrame = {
    val bands = fps.select(col("doc_id"), col("fp"),
      posexplode(col("fp")).as(Seq("b", "bv")))
    bandPairsCore(bands, bands, candTap).orderBy("a_id", "b_id")
  }

  private def bandPairsCore(bandsA: DataFrame, bandsB: DataFrame,
      candTap: DataFrame => DataFrame = identity): DataFrame = {
    // VERIFY BEFORE DEDUP: the hamming check runs MAP-SIDE in the join
    // stage, so the ≥ 1-shared-band candidate fan-out (band skew can make
    // it 100×+ the survivor count — measured 31M candidates → 118k
    // survivors at 100k docs on the adversarial corpus) is filtered where
    // it is produced; only survivors reach the dedup shuffle. Deduping
    // first would shuffle every candidate row with both fingerprint
    // arrays attached — the ordering, not the banding, was the measured
    // bottleneck.
    candTap(bandsA.as("x").join(bandsB.as("y"),
        col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        col("x.fp").as("fa"), col("y.fp").as("fb")))
      .withColumn("hamming", expr(
        "aggregate(zip_with(fa, fb, (x, y) -> CAST(bit_count(x ^ y) AS BIGINT)), " +
          "0L, (acc, v) -> acc + v)"))
      .filter(col("hamming") <= PhashMaxHam)
      .dropDuplicates(Seq("a_id", "b_id"))
      .select("a_id", "b_id", "hamming")
  }

  /** The banding oracle under an EXPLICIT band layout — DuckDB recomputes
    * the same 64 thresholded cells, packs them into nBands words, and
    * states the identical two-phase rule (share ≥ 1 exact band AND
    * hamming ≤ H). One parametrized text serves q134 (4×16) and q143
    * (2×32), so the two layouts can never drift in anything but the
    * packing. */
  private def phashSqlFor(nBands: Int, source: String = "documents"): String = {
    val bw = 64 / nBands
    val hamSum = (1 to nBands)
      .map(k => s"bit_count(xor(fa.fp[$k], fb.fp[$k]))").mkString("\n            + ")
    s"""WITH cells AS (
       |  SELECT doc_id, i,
       |         CAST(ascii(substring(text,
       |              CAST((i * length(text)) // 64 AS INTEGER) + 1, 1)) AS BIGINT) AS v
       |  FROM $source, LATERAL (SELECT unnest(range(0, 64)) AS i)
       |  WHERE length(text) > 0),
       |tot AS (SELECT doc_id, SUM(v) AS s FROM cells GROUP BY doc_id),
       |bands AS (
       |  SELECT c.doc_id, CAST(c.i // $bw AS BIGINT) AS b,
       |         CAST(SUM(CASE WHEN c.v * 64 > t.s
       |              THEN (CAST(1 AS BIGINT) << CAST(c.i % $bw AS INTEGER))
       |              ELSE 0 END) AS BIGINT) AS bv
       |  FROM cells c JOIN tot t USING (doc_id)
       |  GROUP BY c.doc_id, c.i // $bw),
       |fp AS (SELECT doc_id, list(bv ORDER BY b) AS fp FROM bands GROUP BY doc_id),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv
       |                           AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, hamming FROM (
       |  SELECT c.a_id, c.b_id,
       |         CAST($hamSum AS BIGINT) AS hamming
       |  FROM cand c
       |  JOIN fp fa ON c.a_id = fa.doc_id
       |  JOIN fp fb ON c.b_id = fb.doc_id)
       |WHERE hamming <= $PhashMaxHam
       |ORDER BY a_id, b_id""".stripMargin
  }

  val q134Sql: String = phashSqlFor(4)

  /** q143: WIDE-BAND PERCEPTUAL-HASH NEAR-DUP — the q134 SCALE LEVER as
    * code (the round-15 measured ceiling: 4×16 banding produced 3.06B band
    * candidates at 1M docs, quadratic in bucket depth, because 16-bit band
    * values carry too little entropy on a homogeneous corpus). Identical
    * fingerprint BITS, identical verify (hamming ≤ [[PhashMaxHam]] over
    * the 64 bits), identical two-phase machinery — only the band layout
    * changes: 2 bands × 32 bits. A 32-bit band value has up to 2³² states
    * vs 2¹⁶, so the expected per-band bucket depth drops by the factor the
    * collision mass was quadratic in — the standard LSH bands/rows trade
    * (fewer, wider bands: candidate mass collapses, recall at a given
    * hamming radius weakens because ≤ 8 scattered flips must now leave one
    * of 2 (not 4) bands untouched; the planted-pair spec and the 1M
    * BASELINE row quantify both sides).
    *
    * The corpus is probed with [[PhashPlants]] deterministic EXACT-COPY
    * plants (doc_id + 10⁷ re-keys of the first docs): byte-identical
    * duplicates fingerprint identically, so every band matches under ANY
    * layout — the guaranteed-recall floor — which keeps the gate
    * value-bearing at eval SF (the driver corpus has no byte-identical
    * dups, and its few scattered-flip near-dups are exactly the pairs the
    * wide layout trades away — 0 rows would gate nothing). The oracle
    * states the identical union.
    *
    * Same oracle family as q134 ([[phashSqlFor]] — DuckDB recomputes
    * bands/xor/bit_count under the 2×32 packing). */
  def q143PhashWideband(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select("doc_id", "text")
    val planted = docs.unionByName(
      docs.filter(col("doc_id") < PhashPlants)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
    phashPairs(planted, nBands = 2)
  }

  /** How many exact-copy probes q143 plants. */
  private val PhashPlants = 8

  val q143Sql: String = phashSqlFor(2,
    s"""(SELECT doc_id, text FROM documents
       |   UNION ALL
       |   SELECT doc_id + 10000000, text FROM documents WHERE doc_id < $PhashPlants)""".stripMargin)

  /** q146 corpus size (10 groups of base/re-render/unrelated/inverted). */
  private[graft] val PhashRealN = 40

  /** q146: REAL-CODEC PERCEPTUAL-HASH NEAR-DUP END-TO-END — q134's
    * machinery with the fingerprint computed from ACTUAL IMAGE BYTES:
    * a deterministic synthesized-PNG corpus ([[Multimodal.synthPng]] — 10
    * groups of base / downscaled-re-render / unrelated / inverted rasters)
    * flows through the REAL decode ([[Multimodal.aHash64]]: `javax.imageio`
    * decode → 8×8 integer luma grid → mean threshold) inside the
    * mapPartitions batch stage (the q30 decoder convention: codec context
    * per partition, rows streamed through), and the resulting 64-bit
    * fingerprints split into the 4×16 band words that drive EXACTLY q134's
    * band→candidate→hamming-verify kernel ([[bandPairs]] — shared code, so
    * the stub-payload and real-codec paths can never band differently).
    *
    * Oracle (the committed-expected convention, generated like q71's):
    * DuckDB cannot decode PNGs, so the fingerprints are embedded as a
    * VALUES table COMPUTED AT SQL-GENERATION TIME by the same
    * synthPng+aHash64 code the executors run — the gate pins distributed
    * decode ≡ driver-side reference decode bit-for-bit (any codec or
    * raster drift breaks the hash), while the banding / xor / bit_count /
    * pair algebra is recomputed independently by DuckDB from those values.
    *
    * The corpus is synthesized from ids (not the text tables): real media
    * bytes cannot come from the driver's text corpus, and determinism at
    * any SF is exactly what makes the gate portable. OperatorSpec adds the
    * corpus-level recall claim: every planted re-render pair is recovered
    * THROUGH BANDING (not just unit-level hamming), inverted pairs never. */
  def q146PhashReal(s: SparkSession, d: String): DataFrame = {
    val fps = s.range(PhashRealN).select(col("id").as("doc_id"))
      .repartition(8, col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val f = Multimodal.aHash64(Multimodal.synthPng(id))
          (id, Seq.tabulate(4)(b => (f >> (b * 16)) & 0xFFFFL))
        }
      }(Encoders.product[(Long, Seq[Long])])
      .toDF("doc_id", "fp")
    bandPairsGuarded(fps, graft.ops.Dedup.defaultPairBudget)
  }

  lazy val q146Sql: String = {
    val values = (0L until PhashRealN).map { id =>
      val f = Multimodal.aHash64(Multimodal.synthPng(id))
      s"(CAST($id AS BIGINT), CAST($f AS BIGINT))"
    }.mkString(",\n       ")
    s"""WITH fp(doc_id, f) AS (VALUES
       |       $values),
       |bands AS (
       |  SELECT doc_id, CAST(b AS BIGINT) AS b,
       |         (f >> CAST(b * 16 AS INTEGER)) & 65535 AS bv
       |  FROM fp, LATERAL (SELECT unnest(range(0, 4)) AS b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv
       |                           AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, hamming FROM (
       |  SELECT c.a_id, c.b_id,
       |         CAST(bit_count(xor(fa.f, fb.f)) AS BIGINT) AS hamming
       |  FROM cand c
       |  JOIN fp fa ON c.a_id = fa.doc_id
       |  JOIN fp fb ON c.b_id = fb.doc_id)
       |WHERE hamming <= $PhashMaxHam
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Widen a 4×16 fingerprint frame to the 2×32 packing IN-PLAN — the
    * layouts share their 64 bits ([[phashFpExprFor]]: wide band b = narrow
    * bands 2b, 2b+1 concatenated), so the lever never recomputes a
    * fingerprint: w0 = n0 | n1≪16, w1 = n2 | n3≪16. */
  private val widenFpExpr =
    "transform(sequence(0, 1), i -> element_at(fp, 2 * i + 1) + " +
      "shiftleft(element_at(fp, 2 * i + 2), 16))"

  /** PER-CORPUS BAND-LAYOUT POLICY (`maybe*` pattern) — mechanizes the
    * choice the BASELINE.md round-18 real-codec rows made by hand: the 2×32
    * layout cuts candidate mass by orders of magnitude on realistic
    * geometry (11.8×, recall intact) but costs half the recall on
    * adversarial gradient re-renders (scattered flips leave no wide band
    * untouched). Probe order:
    *  1. both layouts' in-plan mass bounds (one group-count each — the
    *     [[bandCandidateMass]] number, no pair ever materializes);
    *  2. if the guaranteed-recall 4×16 mass is already ≤ `affordableMass`
    *     (or the wide layout wins no mass), keep 4×16 — the lever's
    *     recall trade buys nothing worth probing;
    *  3. otherwise MEASURE the wide layout's recall class on this corpus:
    *     the verified (hamming ≤ [[PhashMaxHam]]) pairs of a
    *     deterministic 1-in-`sampleMod` doc sample under 4×16 banding are
    *     the reference set (sampling cuts the probe's pair mass
    *     ~sampleMod²); the fraction that still shares a 2×32 band IS the
    *     wide layout's banding recall on those pairs. ≥ `recallFloorPpm`
    *     → 2×32 (cheapest layout clearing the floor); below → 4×16.
    * The decision and its evidence are RECORDED in the artifact
    * (`phash_layout` manifest beside the fingerprints), so a serving
    * pipeline can audit why its corpus runs the layout it does.
    * Returns the chosen band count (4 or 2). */
  def maybePhashLayout(s: SparkSession, fps: DataFrame, artifactPath: String,
      affordableMass: Long = 10000000L, recallFloorPpm: Long = 900000L,
      sampleMod: Int = 10): Int = {
    val cached = graft.ops.CacheBin.note(fps.cache())
    val wide = cached.select(col("doc_id"), expr(widenFpExpr).as("fp"))
    val mass4 = bandCandidateMass(cached)
    val mass2 = bandCandidateMass(wide)
    val (chosen, recallPpm) =
      if (mass4 <= affordableMass || mass2 >= mass4) (4, -1L)
      else {
        val sample = cached.filter(col("doc_id") % sampleMod === 0)
        val ref = bandPairsGuarded(sample, graft.ops.Dedup.defaultPairBudget)
          .select("a_id", "b_id")
        val wa = wide.select(col("doc_id").as("a_id"), col("fp").as("wa"))
        val wb = wide.select(col("doc_id").as("b_id"), col("fp").as("wb"))
        val row = ref.join(wa, "a_id").join(wb, "b_id")
          .agg(count(lit(1)).as("n"), coalesce(sum(expr(
            "IF(exists(zip_with(wa, wb, (x, y) -> x = y), b -> b), 1L, 0L)")),
            lit(0L)).as("kept"))
          .head()
        val (n, kept) = (row.getLong(0), row.getLong(1))
        // no verified pairs on the sample = no recall evidence: hold the
        // guaranteed-recall floor rather than trade blind
        if (n == 0L) (4, -1L)
        else {
          val ppm = kept * 1000000L / n
          (if (ppm >= recallFloorPpm) 2 else 4, ppm)
        }
      }
    val fs = new org.apache.hadoop.fs.Path(artifactPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(artifactPath))
    graft.ops.Similarity.writeLines(fs, s"$artifactPath/phash_layout",
      Seq(s"layout=${chosen}x${64 / chosen}", s"mass_4x16=$mass4",
        s"mass_2x32=$mass2", s"sampled_wide_recall_ppm=$recallPpm"))
    chosen
  }

  import org.apache.spark.sql.DataFrame
  val catalog: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q30_multimodal_meta", q30MultimodalMeta _, Some(q30Sql)),
    ("q134_phash_neardup", q134PhashNearDup _, Some(q134Sql)),
    ("q143_phash_wideband", q143PhashWideband _, Some(q143Sql)),
    ("q146_phash_real", q146PhashReal _, Some(q146Sql)),
  )
}
