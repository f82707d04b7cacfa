package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** A tree level's class-count histogram kernel, as the trainer's level job
  * drives it ([[graft.tree.SplitSearch]]): each task folds its routed rows
  * into a fresh buffer `B` with [[update]] and [[pack]]s it into the partial
  * `P` it returns; the driver [[merge]]s each partial into one buffer as
  * the task finishes. Buffers never leave the JVM that made them; only
  * partials are serialized.
  */
trait LevelHistogram[B, P] extends Serializable {

  def newBuffer(): B

  /** Count one row: feature slots `arr` (a null slot is a null feature),
    * class index `cls` in [0, numClasses) and pending node `node` in
    * [0, numNodes). */
  def update(buffer: B, arr: ArrayData, cls: Int, node: Int): Unit

  def pack(buffer: B): P

  def merge(buffer: B, part: P): Unit
}
