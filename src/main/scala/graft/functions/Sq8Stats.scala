package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** One-pass corpus statistics of an `array<double>` vector column, the
  * SQ8 train step of [[graft.operators.Similarity]]: one struct
  * `(n, mins, widths)` where
  *   - `n` counts every input row, NULL vectors included (`df.count()`,
  *     which sizes the auto band width);
  *   - `mins[d]` / `widths[d] = max[d] - mins[d]` are the per-dimension
  *     range under Spark `min`/`max` double semantics: null elements
  *     skip their dimension (a dimension with no value is NULL in both
  *     arrays), NaN is the largest value, and -0.0 ties 0.0 with the
  *     first value seen kept (Spark's `least`/`greatest` fold);
  *   - no non-null vector at all (or no rows) gives empty arrays.
  *
  * A non-null vector whose length is not `dim` fails the row with the
  * `USER_RAISED_EXCEPTION` the `raise_error` dim check raised.
  *
  * It replaces a `count` job plus a posexplode -> groupBy(pos) -> min/max
  * -> collect_list -> array_sort -> transform pipeline: one map-side
  * combined aggregate of `dim` primitive (min, max) pairs per task.
  */
case class Sq8Stats(
    vec: Expression,               // ArrayType(DoubleType)
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[Sq8Stats.Buffer] {
  import Sq8Stats.Buffer

  require(dim >= 1, s"dim must be >= 1, got $dim")

  override def children: Seq[Expression] = Seq(vec)
  override def nullable: Boolean = false
  override def dataType: DataType = Sq8Stats.Schema
  override def prettyName: String = "sq8_stats"

  override def createAggregationBuffer(): Buffer = new Buffer(dim)

  override def update(buffer: Buffer, input: InternalRow): Buffer = {
    buffer.n += 1L
    val v = vec.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      if (a.numElements() != dim) throw org.apache.spark.sql.graft.ErrorBridge.userRaised(
        s"sq8Params: expected dim=$dim vectors, got size=${a.numElements()}")
      buffer.vectors = true
      var d = 0
      while (d < dim) {
        if (!a.isNullAt(d)) buffer.add(d, a.getDouble(d), a.getDouble(d))
        d += 1
      }
    }
    buffer
  }

  override def merge(buffer: Buffer, input: Buffer): Buffer = {
    buffer.n += input.n
    buffer.vectors ||= input.vectors
    var d = 0
    while (d < dim) {
      if (input.seen(d)) buffer.add(d, input.mins(d), input.maxs(d))
      d += 1
    }
    buffer
  }

  override def eval(buffer: Buffer): Any = {
    val (mins, widths) =
      if (!buffer.vectors) (Array.empty[Any], Array.empty[Any])
      else {
        val seen = buffer.seen
        (Array.tabulate[Any](dim)(d => if (seen(d)) buffer.mins(d) else null),
          Array.tabulate[Any](dim)(d => if (seen(d)) buffer.maxs(d) - buffer.mins(d) else null))
      }
    InternalRow(buffer.n, new GenericArrayData(mins), new GenericArrayData(widths))
  }

  /** Layout: n, the any-vector flag, then per dimension its seen flag,
    * min and max. */
  override def serialize(buffer: Buffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(9 + 17 * dim)
    bb.putLong(buffer.n).put((if (buffer.vectors) 1 else 0).toByte)
    var d = 0
    while (d < dim) {
      bb.put((if (buffer.seen(d)) 1 else 0).toByte).putDouble(buffer.mins(d)).putDouble(buffer.maxs(d))
      d += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buffer = new Buffer(dim)
    buffer.n = bb.getLong()
    buffer.vectors = bb.get() != 0
    var d = 0
    while (d < dim) {
      buffer.seen(d) = bb.get() != 0
      buffer.mins(d) = bb.getDouble()
      buffer.maxs(d) = bb.getDouble()
      d += 1
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): Sq8Stats =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): Sq8Stats =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Sq8Stats =
    copy(vec = newChildren.head)
}

object Sq8Stats {
  val Schema: StructType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("mins", ArrayType(DoubleType, containsNull = true), nullable = false),
    StructField("widths", ArrayType(DoubleType, containsNull = true), nullable = false)))

  /** Row count, whether any non-null vector arrived, and the running
    * per-dimension (min, max) of the dimensions that saw a value. */
  final class Buffer(dim: Int) {
    var n = 0L
    var vectors = false
    val seen = new Array[Boolean](dim)
    val mins = new Array[Double](dim)
    val maxs = new Array[Double](dim)

    /** Fold a (min, max) candidate into dimension d: the buffer keeps its
      * value unless the candidate is strictly smaller (larger) in Spark's
      * double order, as `least(buffer, x)` / `greatest(buffer, x)` do. */
    def add(d: Int, mn: Double, mx: Double): Unit =
      if (!seen(d)) { seen(d) = true; mins(d) = mn; maxs(d) = mx }
      else {
        if (SQLOrderingUtil.compareDoubles(mn, mins(d)) < 0) mins(d) = mn
        if (SQLOrderingUtil.compareDoubles(mx, maxs(d)) > 0) maxs(d) = mx
      }
  }
}
