package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{BinaryType, DataType}

/** One-pass exact-threshold class-count histogram: the exact-mode twin of
  * [[MultiFeatureHistogram]]. Where the binned kernel counts rows into a
  * dense (bin x class) block per feature, exact mode's candidate set is
  * every distinct value, so the buffer is SPARSE: one open-addressing map
  * per (node, feature) slot from a normalized value key to its K class
  * counts, plus per-node class totals (the node sentinel: every row of the
  * node, whatever its feature nulls).
  *
  * Value keys follow Spark's grouping semantics: -0.0 counts as 0.0 and
  * every NaN as the one canonical NaN. Null feature values skip that
  * feature's slot only; rows with a null/out-of-range class or node count
  * nowhere. The buffer holds one entry per distinct (node, feature, value)
  * a task sees - at most task rows x F, the same bound as the hash
  * aggregate of a melted frame, so there is no budget and no fallback.
  *
  * `eval` emits the merged buffer in its serialized form (one binary
  * value); the caller decodes it with [[ExactHistogram.decode]] and reads
  * each slot in ascending value order with [[ExactHistogram.Buffer.sorted]].
  */
case class ExactHistogram(
    featuresArray: Expression,     // ArrayType(DoubleType): packed feature slots
    classIndex: Expression,        // int class index, -1/null = no class
    nodeIndex: Expression,         // int pending-node index, null = settled row
    numFeatures: Int,
    numClasses: Int,
    numNodes: Int = 1,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[ExactHistogram.Buffer] {
  import ExactHistogram._

  override def children: Seq[Expression] = Seq(featuresArray, classIndex, nodeIndex)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "exact_histogram"

  override def createAggregationBuffer(): Buffer = new Buffer(numNodes, numFeatures, numClasses)

  override def update(buffer: Buffer, input: InternalRow): Buffer = {
    val node = nodeIndex.eval(input)
    if (node != null) {
      val n = node.asInstanceOf[Int]
      if (n >= 0 && n < numNodes) {
        val cls = classIndex.eval(input)
        if (cls != null) {
          val k = cls.asInstanceOf[Int]
          if (k >= 0 && k < numClasses) {
            val arr = featuresArray.eval(input).asInstanceOf[ArrayData]
            var f = 0
            while (f < numFeatures) {
              if (!arr.isNullAt(f)) buffer.slot(n, f).add(keyOf(arr.getDouble(f)), k)
              f += 1
            }
            buffer.nodeTotals(n * numClasses + k) += 1L
          }
        }
      }
    }
    buffer
  }

  override def merge(buffer: Buffer, input: Buffer): Buffer = {
    var i = 0
    while (i < buffer.nodeTotals.length) { buffer.nodeTotals(i) += input.nodeTotals(i); i += 1 }
    var s = 0
    while (s < input.slots.length) {
      val src = input.slots(s)
      if (src != null) {
        val dst = buffer.slot(s / numFeatures, s % numFeatures)
        dst.reserve(src.size)
        var e = 0
        while (e < src.keys.length) {
          if (src.keys(e) != Empty) dst.addCounts(src.keys(e), src.counts, e * numClasses)
          e += 1
        }
      }
      s += 1
    }
    buffer
  }

  override def eval(buffer: Buffer): Any = serialize(buffer)

  /** Layout: node totals (numNodes x K longs), then per slot its entry
    * count n (int) followed by n x (key, K counts) longs. */
  override def serialize(buffer: Buffer): Array[Byte] = {
    val entries = buffer.slots.map(s => if (s == null) 0L else s.size.toLong).sum
    val bytes = 8L * buffer.nodeTotals.length + 4L * buffer.slots.length +
      8L * (1 + numClasses) * entries
    require(bytes <= Int.MaxValue, s"exact histogram buffer of $bytes bytes exceeds 2 GB")
    val bb = ByteBuffer.allocate(bytes.toInt)
    buffer.nodeTotals.foreach(bb.putLong)
    buffer.slots.foreach { s =>
      if (s == null) bb.putInt(0)
      else {
        bb.putInt(s.size)
        var e = 0
        while (e < s.keys.length) {
          if (s.keys(e) != Empty) {
            bb.putLong(s.keys(e))
            var c = 0
            while (c < numClasses) { bb.putLong(s.counts(e * numClasses + c)); c += 1 }
          }
          e += 1
        }
      }
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = decode(bytes, numNodes, numFeatures, numClasses)

  override def withNewMutableAggBufferOffset(newOffset: Int): ExactHistogram =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ExactHistogram =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExactHistogram =
    copy(featuresArray = newChildren(0), classIndex = newChildren(1),
      nodeIndex = newChildren(2))
}

object ExactHistogram {

  /** No normalized key has these bits: [[keyOf]] never emits a
    * non-canonical NaN. */
  private val Empty: Long = 0x7ff0000000000001L

  /** Spark's grouping normalization as a hash key: -0.0 -> 0.0, every NaN
    * -> the canonical NaN. */
  private def keyOf(v: Double): Long = if (v == 0.0) 0L else java.lang.Double.doubleToLongBits(v)

  /** Value key -> K class counts, linear probing over a power-of-two table
    * kept at most half full. */
  final class ValueCounts(k: Int) {
    private var bits = 4
    var keys: Array[Long] = emptyKeys(1 << bits)
    var counts: Array[Long] = new Array[Long]((1 << bits) * k)
    var size = 0

    private def emptyKeys(n: Int): Array[Long] = {
      val a = new Array[Long](n)
      java.util.Arrays.fill(a, Empty)
      a
    }

    /** Fibonacci hashing: the top `bits` bits of key x golden ratio, so
      * doubles that differ only in high-order bits still spread. */
    private def home(key: Long): Int = ((key * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt

    /** The slot holding `key`, or the empty slot where it would go. */
    private def probe(key: Long): Int = {
      val mask = keys.length - 1
      var i = home(key)
      while (keys(i) != key && keys(i) != Empty) i = (i + 1) & mask
      i
    }

    /** Entry index of `key`, inserting it with zero counts if absent. */
    private def entry(key: Long): Int = {
      val i = probe(key)
      if (keys(i) == Empty) {
        if (2 * (size + 1) > keys.length) { resize(bits + 1); return entry(key) }
        keys(i) = key
        size += 1
      }
      i
    }

    /** Make room for `extra` more keys before a bulk insert. Bulk inserts
      * arrive in another table's slot order, i.e. sorted by home; into a
      * table sized for only a prefix of them, that sorted run piles into
      * one cluster and linear probing turns quadratic in the run length.
      * Sized up front, the run spreads over the whole table. */
    def reserve(extra: Int): Unit = {
      var b = bits
      while (2L * (size + extra) > (1L << b)) b += 1
      if (b > bits) resize(b)
    }

    /** Entry index of `key`, or -1. */
    def indexOf(key: Long): Int = {
      val i = probe(key)
      if (keys(i) == Empty) -1 else i
    }

    def add(key: Long, cls: Int): Unit = {
      val e = entry(key) // may grow: read `counts` only after it
      counts(e * k + cls) += 1L
    }

    def addCounts(key: Long, src: Array[Long], off: Int): Unit = {
      val base = entry(key) * k
      var c = 0
      while (c < k) { counts(base + c) += src(off + c); c += 1 }
    }

    private def resize(newBits: Int): Unit = {
      val (oldKeys, oldCounts) = (keys, counts)
      bits = newBits
      keys = emptyKeys(1 << bits)
      counts = new Array[Long]((1 << bits) * k)
      size = 0
      var e = 0
      while (e < oldKeys.length) {
        if (oldKeys(e) != Empty) addCounts(oldKeys(e), oldCounts, e * k)
        e += 1
      }
    }
  }

  /** Per-node class totals plus one lazily created [[ValueCounts]] per
    * (node, feature) slot. */
  final class Buffer(numNodes: Int, numFeatures: Int, k: Int) {
    val nodeTotals = new Array[Long](numNodes * k)
    val slots = new Array[ValueCounts](numNodes * numFeatures)

    def slot(node: Int, feature: Int): ValueCounts = {
      val s = node * numFeatures + feature
      if (slots(s) == null) slots(s) = new ValueCounts(k)
      slots(s)
    }

    /** One slot's distinct values in ascending Spark order (NaN last) with
      * their class counts (value-major, K per value); empty for a slot
      * that saw no non-null value. */
    def sorted(node: Int, feature: Int): (Array[Double], Array[Long]) = {
      val s = slots(node * numFeatures + feature)
      if (s == null) (Array.emptyDoubleArray, Array.emptyLongArray)
      else {
        val values = s.keys.filter(_ != Empty).map(java.lang.Double.longBitsToDouble)
        java.util.Arrays.sort(values) // no -0.0 left, so this is Spark's order
        val counts = new Array[Long](values.length * k)
        var i = 0
        while (i < values.length) {
          System.arraycopy(s.counts, s.indexOf(keyOf(values(i))) * k, counts, i * k, k)
          i += 1
        }
        (values, counts)
      }
    }
  }

  /** Inverse of [[ExactHistogram.serialize]] (and so of `eval`). */
  def decode(bytes: Array[Byte], numNodes: Int, numFeatures: Int, k: Int): Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Buffer(numNodes, numFeatures, k)
    var i = 0
    while (i < buf.nodeTotals.length) { buf.nodeTotals(i) = bb.getLong(); i += 1 }
    val row = new Array[Long](k)
    var s = 0
    while (s < buf.slots.length) {
      val n = bb.getInt()
      if (n > 0) {
        val vc = buf.slot(s / numFeatures, s % numFeatures)
        vc.reserve(n)
        var e = 0
        while (e < n) {
          val key = bb.getLong()
          var c = 0
          while (c < k) { row(c) = bb.getLong(); c += 1 }
          vc.addCounts(key, row, 0)
          e += 1
        }
      }
      s += 1
    }
    buf
  }
}
