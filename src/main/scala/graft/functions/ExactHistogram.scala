package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

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
  * feature's slot only. The buffer holds one entry per distinct
  * (node, feature, value) a task sees - at most task rows x F, the same
  * bound as the hash aggregate of a melted frame, so there is no budget
  * and no fallback. A task [[pack]]s its buffer into dense arrays, 8·(1+K)
  * bytes per entry; the driver merges each into one [[ExactHistogram.Buffer]]
  * and reads each slot in ascending value order with
  * [[ExactHistogram.Buffer.sorted]].
  */
final class ExactHistogram(numFeatures: Int, numClasses: Int, numNodes: Int)
    extends LevelHistogram[ExactHistogram.Buffer, ExactHistogram.Packed] {
  import ExactHistogram._

  def newBuffer(): Buffer = new Buffer(numNodes, numFeatures, numClasses)

  def update(buffer: Buffer, arr: ArrayData, cls: Int, node: Int): Unit = {
    var f = 0
    while (f < numFeatures) {
      if (!arr.isNullAt(f)) buffer.slot(node, f).add(keyOf(arr.getDouble(f)), cls)
      f += 1
    }
    buffer.nodeTotals(node * numClasses + cls) += 1L
  }

  def pack(buffer: Buffer): Packed =
    new Packed(buffer.nodeTotals, buffer.slots.map(s => if (s == null) null else s.entries))

  def merge(buffer: Buffer, part: Packed): Unit = {
    var i = 0
    while (i < buffer.nodeTotals.length) { buffer.nodeTotals(i) += part.nodeTotals(i); i += 1 }
    var s = 0
    val width = 1 + numClasses
    while (s < part.slots.length) {
      val entries = part.slots(s)
      if (entries != null) {
        val dst = buffer.slot(s / numFeatures, s % numFeatures)
        dst.reserve(entries.length / width)
        var e = 0
        while (e < entries.length) { dst.addCounts(entries(e), entries, e + 1); e += width }
      }
      s += 1
    }
  }
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

    /** The entries densely, in table order: per key, the key then its K
      * counts. */
    def entries: Array[Long] = {
      val out = new Array[Long](size * (1 + k))
      var e = 0
      var o = 0
      while (e < keys.length) {
        if (keys(e) != Empty) {
          out(o) = keys(e)
          System.arraycopy(counts, e * k, out, o + 1, k)
          o += 1 + k
        }
        e += 1
      }
      out
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

  /** A task's [[Buffer]] on its way to the driver: the node totals and
    * each slot's [[ValueCounts.entries]] (null for a slot that saw no
    * value), so it serializes to 8·(1+K) bytes per entry, not the hash
    * table's empty cells too. */
  final class Packed(val nodeTotals: Array[Long], val slots: Array[Array[Long]]) extends Serializable
}
