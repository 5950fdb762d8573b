package graft

import org.apache.spark.sql.SaveMode
import graft.obs.Session

/** Deterministic embedding-table generator for the sfbig self-baseline —
  * `graft.GenEmbeddings [outDir] [nVecs]` (default /tmp/sfbig 100000):
  * per-id seeded gaussians in the driver testdata's embeddings schema
  * (vec_id long, embedding array<float> dim 64, label int), so the
  * embedding-side anchors (q58/q64/q69) measure a 50× vector count instead
  * of re-reading the 2k-row sf0.1 table. Generation is distributed
  * (spark.range → per-row seeded RNG) and bit-identical across runs and
  * machines.
  */
object GenEmbeddings {
  private val Dim = 64

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/sfbig")
    val n = if (args.length > 1) args(1).toLong else 100000L
    val spark = Session.local(Session.cpus)
    import spark.implicits._
    spark.range(0, n, 1, 32).map { id =>
      val r = new java.util.Random(id * 2654435761L + 1)
      (id, Array.fill(Dim)(r.nextGaussian().toFloat), (id % 20).toInt)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    println(s"wrote $n embeddings to $out/embeddings.parquet")
    spark.stop()
  }
}
