package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** One-pass multi-feature class-count histogram — the custom memory
  * optimization sketched in SURVEY.md §7/§4: an MLlib-style kernel that
  * computes EVERY feature's binned (class x threshold-candidate) counts in
  * a single scan of the node's rows, with no row melt.
  *
  * The melted-explode formulation multiplies every input row by
  * (#features + 1) before the map-side combine — pure CPU overhead that
  * scales with feature count (the reference's flagship workload has 190
  * columns). Here the buffer is one flat Long array of
  * numNodes x (numFeatures + 1) x (numBins + 1) x numClasses cells:
  *
  *   - feature f, bin b (upper-edge index; bin numBins = the +inf
  *     catch-all), class k -> count of rows with value <= edges(f)(b)
  *     boundary semantics identical to [[graft.tree.SplitSearch.snapToEdges]];
  *   - the extra feature block (index numFeatures) is the node sentinel:
  *     class counts over ALL rows regardless of feature nulls.
  *
  * Rows with a null feature value skip that feature's block only. The
  * buffer is its own partial: the driver unpacks the merged array (it is
  * tiny: N x (F+1) x (B+1) x K longs) and runs the gain math there. With
  * the node dimension one job serves a whole tree LEVEL: every pending
  * node's histograms come back in one buffer.
  */
final class MultiFeatureHistogram(
    edges: Seq[Seq[Double]],  // per-feature ascending bin edges
    numClasses: Int,
    numNodes: Int
) extends LevelHistogram[Array[Long], Array[Long]] {

  private val numFeatures = edges.size
  private val numBins = edges.map(_.size).max + 1  // +1 for the +inf bucket
  private val blockSize = numBins * numClasses
  private val nodeLen = (numFeatures + 1) * blockSize
  private val bufferLen = numNodes * nodeLen
  // immutable snapshot for executor-side binary search
  private val edgeArrays: Array[Array[Double]] = edges.map(_.toArray).toArray

  def newBuffer(): Array[Long] = new Array[Long](bufferLen)

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

  def update(buffer: Array[Long], arr: ArrayData, cls: Int, node: Int): Unit = {
    val off = node * nodeLen
    var f = 0
    while (f < numFeatures) {
      if (!arr.isNullAt(f)) buffer(off + f * blockSize + binOf(f, arr.getDouble(f)) * numClasses + cls) += 1L
      f += 1
    }
    // node sentinel block: all rows of the node, bin 0
    buffer(off + numFeatures * blockSize + cls) += 1L
  }

  def pack(buffer: Array[Long]): Array[Long] = buffer

  def merge(buffer: Array[Long], part: Array[Long]): Unit = {
    var i = 0
    while (i < bufferLen) { buffer(i) += part(i); i += 1 }
  }
}
