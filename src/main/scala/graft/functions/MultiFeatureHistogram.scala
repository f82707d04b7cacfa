package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** One-pass multi-feature class-count histogram — the custom memory
  * optimization sketched in SURVEY.md §7/§4: an MLlib-style
  * `TypedImperativeAggregate` that computes EVERY feature's binned
  * (class x threshold-candidate) counts in a single scan of the node's
  * rows, with no row melt.
  *
  * The melted-explode formulation multiplies every input row by
  * (#features + 1) before the map-side combine — pure CPU overhead that
  * scales with feature count (the reference's flagship workload has 190
  * columns). Here the aggregation buffer is one flat Long array of
  * (numFeatures + 1) x (numBins + 1) x numClasses cells:
  *
  *   - feature f, bin b (upper-edge index; bin numBins = the +inf
  *     catch-all), class k -> count of rows with value <= edges(f)(b)
  *     boundary semantics identical to [[graft.tree.SplitSearch.snapToEdges]];
  *   - the extra feature block (index numFeatures) is the node sentinel:
  *     class counts over ALL rows regardless of feature nulls.
  *
  * Rows with a null feature value skip that feature's block only; rows
  * with a null/unknown target count toward no class (matching
  * `count(when(target === v, 1))`).
  *
  * `eval` emits the flat array; the caller unpacks it driver-side (the
  * buffer is tiny: N x (F+1) x (B+1) x K longs) and runs the gain math
  * there. With the `nodeIndex` dimension the SAME single job serves a
  * whole tree LEVEL: every pending node's histograms come back in one
  * row — the level-wise trainer's per-level cost is exactly one scan.
  */
case class MultiFeatureHistogram(
    featuresArray: Expression,     // ArrayType(DoubleType): packed feature slots
    classIndex: Expression,        // int class index, -1/null = no class
    nodeIndex: Expression,         // int pending-node index, null = settled row
    edges: Seq[Seq[Double]],       // per-feature ascending bin edges
    numClasses: Int,
    numNodes: Int = 1,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[Array[Long]] {

  private val numFeatures = edges.size
  private val numBins = edges.map(_.size).max + 1  // +1 for the +inf bucket
  private val blockSize = numBins * numClasses
  private val nodeLen = (numFeatures + 1) * blockSize
  private val bufferLen = numNodes * nodeLen
  // immutable snapshot for executor-side binary search
  private val edgeArrays: Array[Array[Double]] = edges.map(_.toArray).toArray

  override def children: Seq[Expression] = Seq(featuresArray, classIndex, nodeIndex)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "multi_feature_histogram"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](bufferLen)

  /** First edge index with value <= edge, else the +inf bucket. */
  private def binOf(f: Int, v: Double): Int = {
    val e = edgeArrays(f)
    var lo = 0
    var hi = e.length // answer in [lo, hi]; e(i) >= v forall i >= answer
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (e(mid) >= v) hi = mid else lo = mid + 1
    }
    lo // == e.length -> +inf bucket
  }

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val node = nodeIndex.eval(input)
    if (node != null) {
      val n = node.asInstanceOf[Int]
      if (n >= 0 && n < numNodes) {
        val cls = classIndex.eval(input)
        if (cls != null) {
          val k = cls.asInstanceOf[Int]
          if (k >= 0 && k < numClasses) {
            val off = n * nodeLen
            // One codegen-projected primitive array read per row instead of
            // numFeatures boxed child evals — at 190 features the boxing was
            // the histogram scan's dominant allocation.
            val arr = featuresArray.eval(input)
              .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            var f = 0
            while (f < numFeatures) {
              if (!arr.isNullAt(f)) {
                val b = binOf(f, arr.getDouble(f))
                buffer(off + f * blockSize + b * numClasses + k) += 1L
              }
              f += 1
            }
            // node sentinel block: all rows of the node, bin 0
            buffer(off + numFeatures * blockSize + k) += 1L
          }
        }
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], input: Array[Long]): Array[Long] = {
    var i = 0
    while (i < bufferLen) { buffer(i) += input(i); i += 1 }
    buffer
  }

  // primitive copy; a GenericArrayData would box every cell into an Array[Any]
  override def eval(buffer: Array[Long]): Any = UnsafeArrayData.fromPrimitiveArray(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(bufferLen * 8)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bufferLen)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MultiFeatureHistogram =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MultiFeatureHistogram =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MultiFeatureHistogram =
    copy(featuresArray = newChildren(0), classIndex = newChildren(1),
      nodeIndex = newChildren(2))
}
