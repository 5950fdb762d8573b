package graft.perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser

import graft.GenRealText

/** Seeded corpora for the document workloads, built from the committed
  * generators' per-id functions: document text is
  * `GenRealText.docText(offset + i, nBase)` and vector `i` is the
  * `GenEmbeddings` scheme (64 gaussians from
  * `java.util.Random((offset + i) * 2654435761L + 1)`). The seed only
  * moves `offset`; `doc_id`/`vec_id` stay `0..n-1` (then `n..n+fresh-1`
  * for the fresh pool), so the catalog's id conventions hold.
  *
  * Files are written with the parquet library directly, in the schema of
  * the engine's `documents`/`embeddings` tables, so generation runs no
  * Spark job. Each input directory is generated once; a completed one
  * holds a digest file, SHA-256 digests of the generated rows in id order,
  * which every run reports. */
object Gen {
  val Dim = 64

  def offset(seed: Long): Long = 1000000L + seed * 10000019L

  def vector(id: Long): Array[Float] = {
    val r = new java.util.Random(id * 2654435761L + 1)
    Array.fill(Dim)(r.nextGaussian().toFloat)
  }

  private val DocSchema = MessageTypeParser.parseMessageType(
    """message documents { required int64 doc_id; required binary text (UTF8);
      |required binary lang (UTF8); required binary source (UTF8);
      |required int64 n_chars; }""".stripMargin)
  private val VecSchema = MessageTypeParser.parseMessageType(
    """message embeddings { required int64 vec_id;
      |required group embedding (LIST) { repeated group list { required float element; } }
      |required int32 label; }""".stripMargin)

  private def writer(file: String, schema: org.apache.parquet.schema.MessageType) =
    ExampleParquetWriter.builder(new Path(file)).withType(schema)
      .withConf(new Configuration()).withCompressionCodec(CompressionCodecName.SNAPPY).build()

  private def hex(md: MessageDigest): String = md.digest().map("%02x".format(_)).mkString

  /** Write `documents` (and, with `vectors`, `embeddings`) for ids
    * `from until to` as `dir/<prefix>documents.parquet/part-0.parquet`;
    * returns the content digests. `nBase` is the near-duplicate base pool
    * size. */
  def write(dir: String, prefix: String, seed: Long, from: Long, to: Long,
      nBase: Long, vectors: Boolean): Seq[(String, String)] = {
    val off = offset(seed)
    val dmd = MessageDigest.getInstance("SHA-256")
    val dw = writer(s"$dir/${prefix}documents.parquet/part-0.parquet", DocSchema)
    try (from until to).foreach { i =>
      val text = GenRealText.docText(off + i, nBase)
      dmd.update(s"$i\t$text\n".getBytes("UTF-8"))
      val g = new SimpleGroup(DocSchema)
      g.add("doc_id", i); g.add("text", text); g.add("lang", "en")
      g.add("source", s"src${i % 20}"); g.add("n_chars", text.length.toLong)
      dw.write(g)
    } finally dw.close()
    val out = Seq(s"${prefix}documents" -> hex(dmd))
    if (!vectors) out
    else {
      val vmd = MessageDigest.getInstance("SHA-256")
      val bb = java.nio.ByteBuffer.allocate(8 + 4 * Dim)
      val vw = writer(s"$dir/${prefix}embeddings.parquet/part-0.parquet", VecSchema)
      try (from until to).foreach { i =>
        val v = vector(off + i)
        bb.clear(); bb.putLong(i); v.foreach(bb.putFloat); vmd.update(bb.array())
        val g = new SimpleGroup(VecSchema)
        g.add("vec_id", i)
        val list = g.addGroup("embedding")
        v.foreach(x => list.addGroup("list").add("element", x))
        g.add("label", (i % 20).toInt)
        vw.write(g)
      } finally vw.close()
      out :+ (s"${prefix}embeddings" -> hex(vmd))
    }
  }

  /** Generate once per input directory (`marker` names its digest file);
    * afterwards only read the digests. */
  def cached(dir: String, marker: String, r: Main.Recorder)(make: => Seq[(String, String)]): Unit = {
    val sums = Paths.get(dir, marker)
    val lines =
      if (Files.exists(sums)) {
        r.info("inputs_cached") = "true"
        new String(Files.readAllBytes(sums), "UTF-8").split("\n").toSeq.filter(_.nonEmpty)
      } else {
        r.info("inputs_cached") = "false"
        val ls = make.map { case (k, v) => s"$k $v" }
        Files.createDirectories(Paths.get(dir))
        Files.write(sums, ls.mkString("", "\n", "\n").getBytes("UTF-8"))
        ls
      }
    lines.foreach { l => val Array(k, v) = l.split(" ", 2); r.info(s"checksum.$k") = v }
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally walk.close()
    }
  }
}
