package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Bounded top-k aggregate: `graft_topk(score, id, k)` → the k (score, id)
  * pairs with the highest score per group, as `array<struct<score, id>>`
  * sorted by (score desc, id asc); ties on score break toward the smaller
  * id, so the result is total-order deterministic.
  *
  * The 100 TB shape for per-group top-k: the window formulation
  * (`row_number().over(partitionBy(g).orderBy(s))`) SORTS every group in
  * full — at a billion rows per group that is a full shuffle + sort whose
  * output is then 99.999% discarded. This aggregate carries at most k pairs
  * per (group × partition) through the map-side combine and merges
  * k-vs-k at the reducer — memory O(k), shuffle O(groups × k), no sort of
  * the group body. The per-row update is a linear insert into a k-array
  * (k is small by definition of top-k; for large k switch to a heap).
  *
  * Ordering is the IEEE-754 total order (`java.lang.Double.compare`): NaN
  * ranks above every number, matching Spark's and DuckDB's DESC sort — so
  * the window-formulation oracle agrees even on NaN scores. Null scores or
  * ids are EXCLUDED by contract (a window ranks nulls last in DESC; callers
  * that want null rows in a short group's tail should coalesce first).
  */
case class TopKAgg(
    score: Expression,
    id: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKAgg.Buffer] with ImplicitCastInputTypes {

  require(k >= 1, s"graft_topk k must be >= 1, got $k")

  override def children: Seq[Expression] = Seq(score, id)
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_topk"

  override def createAggregationBuffer(): TopKAgg.Buffer = TopKAgg.newBuffer(k, 0)

  // true if (s1, i1) ranks strictly higher than (s2, i2); Double.compare is
  // the IEEE total order (NaN greatest), matching DESC sort in both engines
  @inline private def beats(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(s1, s2)
    c > 0 || (c == 0 && i1 < i2)
  }

  private def insert(buf: TopKAgg.Buffer, s: Double, i: Long): Unit = {
    var p =
      if (buf.n < k) {
        // append at the tail (array kept sorted best-first)
        if (buf.n == buf.scores.length) buf.grow(k)
        val pos = buf.n
        buf.n += 1
        buf.scores(pos) = s; buf.ids(pos) = i
        pos
      } else if (beats(s, i, buf.scores(k - 1), buf.ids(k - 1))) {
        // replace the current worst
        buf.scores(k - 1) = s; buf.ids(k - 1) = i
        k - 1
      } else return
    while (p > 0 && beats(buf.scores(p), buf.ids(p), buf.scores(p - 1), buf.ids(p - 1))) {
      val ts = buf.scores(p); buf.scores(p) = buf.scores(p - 1); buf.scores(p - 1) = ts
      val ti = buf.ids(p); buf.ids(p) = buf.ids(p - 1); buf.ids(p - 1) = ti
      p -= 1
    }
  }

  override def update(buf: TopKAgg.Buffer, input: InternalRow): TopKAgg.Buffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      insert(buf, s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(a: TopKAgg.Buffer, b: TopKAgg.Buffer): TopKAgg.Buffer = {
    var j = 0
    while (j < b.n) { insert(a, b.scores(j), b.ids(j)); j += 1 }
    a
  }

  override def eval(buf: TopKAgg.Buffer): Any = {
    val rows: Array[Any] = Array.tabulate(buf.n) { j =>
      InternalRow(buf.scores(j), buf.ids(j))
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKAgg.Buffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.n * 16)
    bb.putInt(buf.n)
    var j = 0
    while (j < buf.n) { bb.putDouble(buf.scores(j)); bb.putLong(buf.ids(j)); j += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKAgg.Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = TopKAgg.newBuffer(k, n)
    var j = 0
    while (j < n) { buf.scores(j) = bb.getDouble; buf.ids(j) = bb.getLong; j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): TopKAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TopKAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopKAgg {
  /** Sorted best-first arrays; n = live entries. Capacity starts small
    * and doubles up to k, so an "unbounded" k (Int.MaxValue: every
    * candidate, ranked) costs memory for the rows a group actually has. */
  final class Buffer(var scores: Array[Double], var ids: Array[Long], var n: Int) {
    def grow(k: Int): Unit = {
      val cap = math.min(k.toLong, math.max(1L, scores.length * 2L)).toInt
      scores = java.util.Arrays.copyOf(scores, cap)
      ids = java.util.Arrays.copyOf(ids, cap)
    }
  }

  private val InitialCapacity = 16

  /** An empty-slotted buffer able to hold `n` entries without growing. */
  private def newBuffer(k: Int, n: Int): Buffer = {
    val cap = math.max(n, math.min(k, InitialCapacity))
    new Buffer(new Array[Double](cap), new Array[Long](cap), n)
  }

  /** Register `graft_topk(score, id, k)` in the session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_topk",
      exprs => TopKAgg(exprs(0), exprs(1), exprs(2) match {
        case Literal(i: Int, IntegerType) => i
        case other => throw new IllegalArgumentException(
          s"graft_topk k must be an int literal, got $other")
      }),
      "built-in")
}
