package graft.tree

import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}

/** A partial tree as a level job routes rows through it: a flat pre-order
  * split table. Row r splits on feature slot `slot(r)` of [[SplitSearch.pack]]'s
  * `__arr` at `threshold(r)`; each child reference in `left`/`right`, like
  * `root`, is another row (>= 0) or a terminal: [[Router.pending]] of a
  * pending node's id, or [[Router.Settled]] for a finalized leaf.
  *
  * A non-null value goes left iff `compareDoubles(v, threshold) <= 0`,
  * which is Spark's `<=` on doubles (NaN above every value, -0.0 equal to
  * 0.0); a null value settles the row, as 3-valued logic drops it from both
  * children (the reference's mask + ~mask recursion, tree.py:351-358).
  * [[route]] is therefore `when(c <= t, l).when(c > t, r).otherwise(null)`
  * nested over the tree, with no SQL expression to plan.
  */
private[graft] final class Router(
    slot: Array[Int],
    threshold: Array[Double],
    left: Array[Int],
    right: Array[Int],
    root: Int
) extends Serializable {

  /** The pending node id of the row with feature slots `arr`, or -1 when
    * the row is settled. */
  def route(arr: ArrayData): Int = {
    var ref = root
    while (ref >= 0) {
      val s = slot(ref)
      if (arr.isNullAt(s)) return -1
      ref = if (SQLOrderingUtil.compareDoubles(arr.getDouble(s), threshold(ref)) <= 0) left(ref)
        else right(ref)
    }
    Router.pending(ref) // an involution: Settled -> -1
  }
}

private[graft] object Router {

  /** Terminal reference of a row that sits in a finalized leaf. */
  val Settled: Int = -1

  /** Terminal reference of pending node `id` (>= 0). */
  def pending(id: Int): Int = -2 - id

  /** Every row to pending node 0: the whole input is one node. */
  val root: Router = new Router(Array.emptyIntArray, Array.emptyDoubleArray,
    Array.emptyIntArray, Array.emptyIntArray, pending(0))
}
