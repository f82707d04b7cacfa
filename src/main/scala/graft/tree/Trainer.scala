package graft.tree

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.apache.spark.storage.StorageLevel

/** Memory-efficient decision-tree classifier, trained entirely as
  * DataFrame dataflow — the Spark-native rebuild of the reference's
  * Polars-backed `DecisionTreeClassifier` (reference: efficient_trees/tree.py:16-385).
  *
  * Fit pipeline: ONE stats pass, ONE pack, then one job per level.
  *  1. Stats pass: a single aggregate over the input answers the distinct
  *     targets, the f32 shrink gate and, in binned mode, every feature's
  *     quantile bin edges ([[graft.functions.MultiQuantileSketch]]).
  *  2. Pack: the rows are projected once into [[SplitSearch.pack]]'s
  *     `(__arr array<double>, __cls int)` frame, with the shrink casts and
  *     the class index folded in, and that frame is cached.
  *  3. Levels: each tree level runs ONE Spark job over the packed rows,
  *     with no SQL plan or shuffle, that answers every pending node at
  *     once — tasks route rows through the partial tree's split table
  *     ([[Router]]) into per-feature class-count histograms AND each
  *     node's class distribution, and the driver merges the task partials;
  *     one driver-side gain scan picks the splits, and the children's
  *     distributions fall out of the winner's cumulative counts, so leaves
  *     cost zero jobs. `maxBins` picks the histogram's key layout: exact
  *     mode runs the sparse [[graft.functions.ExactHistogram]] keyed by
  *     distinct value, binned mode the dense
  *     [[graft.functions.MultiFeatureHistogram]] keyed by bin index.
  * A fit that reaches its depth cap d with c categorical columns runs c + 1 + d SQL
  * executions (one per categorical for its target-encoding means). The
  * reference runs ~3 executions per NODE (per-feature `collect_all`
  * fan-out + mask collect + distribution collect, tree.py:339-372).
  *
  * @param maxDepth       depth cap; at `depth >= maxDepth` a majority-class
  *                       leaf is emitted (reference: tree.py:202-203)
  * @param categoricalColumns columns to ordinal-target-encode before
  *                       training (reference: tree.py:93-108)
  * @param shrinkDtype    mirror the reference's `shrink_dtype()` projection
  *                       (tree.py:90): double feature columns pass through
  *                       Float32 during FIT, so learned thresholds sit on
  *                       the f32 grid (e.g. 1.9 -> 1.8999999761581421).
  *                       Prediction runs on the caller's unshrunk frame —
  *                       exactly like the reference, where a full-precision
  *                       1.9 then lands in the RIGHT branch of that
  *                       threshold. The reference's golden iris lists
  *                       depend on this (IrisGoldenSpec); integer-typed
  *                       columns are value-preserving under the
  *                       reference's shrink, so only doubles are touched,
  *                       and (like Polars) only when the column's values
  *                       fit f32 range — out-of-range features stay f64
  *                       instead of collapsing to Infinity.
  * @param criterion      entropy or gini (reference: enums.py:8-14)
  * @param maxBins        when set, candidate thresholds per feature are
  *                       restricted to `maxBins` approximate quantile edges
  *                       computed ONCE on the training data (MLlib-style),
  *                       and every level is one single-pass histogram
  *                       job over un-melted rows with a fixed-size
  *                       buffer — the scale-safe mode for continuous
  *                       features, where exact mode's buffer and driver
  *                       scan grow with every distinct value. Counts at the
  *                       chosen edges stay exact; only the candidate set
  *                       shrinks. None = exact mode (reference parity,
  *                       golden tests).
  * @param cacheNodes     persist the packed training frame (MEMORY_AND_DISK)
  *                       for the duration of the build. The reference's
  *                       lazy/streaming mode re-derives every level from the
  *                       root scan instead (tree.py:233-234, SURVEY.md §3
  *                       EP1) — set false to reproduce that
  *                       recompute-everything behavior (lower memory, more
  *                       scans). On a cluster, cached data spills to
  *                       executor-local disk, so this is the out-of-core
  *                       analogue of the reference's streaming engine, with
  *                       strictly fewer input rescans.
  */
final case class DecisionTreeClassifier(
    maxDepth: Option[Int] = None,
    categoricalColumns: Seq[String] = Nil,
    shrinkDtype: Boolean = true,
    criterion: Criterion = Criterion.Entropy,
    maxBins: Option[Int] = None,
    cacheNodes: Boolean = true
) {

  /** Level-wise construction state: the partially built tree, where
    * [[BPending]] marks nodes whose split is still to be decided. Pending
    * ids are (re)assigned every level in pre-order, matching the order the
    * level's [[Router]] numbers them. */
  private sealed trait Building
  private final case class BSplit(feature: String, threshold: Double, gain: Double,
      crit: Double, dist: Seq[Long], left: Building, right: Building) extends Building
  private final case class BLeaf(value: Any) extends Building
  private final case class BPending(inherited: Option[Seq[Long]]) extends Building

  /** Train. Pipeline mirrors the reference's `fit` (tree.py:79-115):
    * schema introspection -> target-encode categoricals -> ONE stats pass
    * (distinct targets, the dtype-shrink gate and, in maxBins mode, the
    * [[graft.functions.MultiQuantileSketch]] bin edges) -> pack the rows
    * once into [[SplitSearch.pack]]'s `(__arr, __cls)` frame, with the
    * f32 shrink and the class index folded in -> level-wise build over
    * that one cached frame.
    */
  def fit(data: DataFrame, targetName: String): DecisionTreeModel = {
    val featureNames = data.schema.fieldNames.filterNot(_ == targetName).toSeq
    val targetType = data.schema(targetName).dataType

    // NULL targets are excluded up front: `=== lit(null)` never matches, so
    // a null class could never accrue histogram counts — both histograms
    // would drop those rows, and a node holding only them would throw
    // "majority of empty node". The reference pipeline's count_examples
    // would still count them, so the filter also keeps the trainer's
    // gains equal to the reference's on the same rows. (The
    // reference never defines null-target behavior; its examples fill_null
    // before fit — amex_default.py:23.)
    val nonNullTarget = data.where(col(targetName).isNotNull)

    val (encoded, mappings) =
      if (categoricalColumns.nonEmpty) {
        val m = TargetEncoder.fitMappings(nonNullTarget, categoricalColumns, targetName)
        (TargetEncoder.applyMappings(nonNullTarget, m), m)
      } else (nonNullTarget, Map.empty[String, Map[String, Int]])

    // Distinct target values (tree.py:110-113) exactly as
    // `distinct().orderBy(t)` returns them, folded into the stats pass.
    // collect_set keeps one element per NaN ROW (its hash set finds NaN
    // unequal to itself), so NaN is gathered as a flag and appended last,
    // where Spark's ordering puts it; -0.0 joins 0.0, as grouping keys do.
    // The reference's order is engine-arbitrary; we sort for deterministic
    // class indexing.
    val t = col(targetName)
    val (targetAggs, nan) = targetType match {
      case FloatType | DoubleType =>
        (Seq(array_sort(collect_set(when(t === 0, lit(0).cast(targetType)).when(!isnan(t), t))),
          max(isnan(t))), Some(if (targetType == FloatType) Float.NaN: Any else Double.NaN: Any))
      case _ => (Seq(array_sort(collect_set(t))), None)
    }
    def targetsOf(r: Row, i: Int): Seq[Any] =
      r.getSeq[Any](i).toSeq ++ nan.filter(_ => r.getAs[Any](i + 1) == true)

    // shrink_dtype parity (tree.py:90): double features lose to f32 grid
    // during fit only. Like Polars, shrink is a COLUMN-level decision
    // gated on the values fitting f32 range — a feature with magnitudes
    // beyond Float.MaxValue stays f64 rather than collapsing to Infinity.
    // Encoded categoricals are small ints — untouched.
    val doubleFeatures = featureNames.filter(f => encoded.schema(f).dataType == DoubleType)

    // maxBins mode: per-feature quantile edges, computed once on the root
    // data and reused for every node (MLlib-style binning). One
    // MultiQuantileSketch aggregate over a packed array projection — the
    // same Greenwald-Khanna summaries and 1/(4b) error contract as
    // `df.stat.approxQuantile`, without its per-row Row conversion that
    // re-boxes every feature (at 190 features that conversion was ~90% of
    // the whole binned fit). The SAME pass also answers the shrink
    // decision: GK summaries retain the exact extremes, so querying
    // probabilities 0 and 1 yields each feature's exact min/max and the
    // f32-fit gate costs no second corpus scan (exact mode asks a max(abs)
    // aggregate in its stats pass instead). Edges are therefore computed
    // on the PRE-shrink doubles — still valid cut points for the
    // f32-shrunk training values (counts AT the chosen edges stay exact;
    // only the candidate grid shifts within the sketch's error bound). NaN
    // is ignored in both modes, as Polars' max ignores it: a NaN never
    // blocks shrink (NaN survives the f32 cast value-preserved). Spark's
    // max orders NaN above every value, so the exact-mode max(abs) masks
    // NaN to null before it aggregates.
    val (targets, absMax, binEdges) = maxBins match {
      case Some(b) =>
        require(b >= 2, s"maxBins must be >= 2, got $b")
        import org.apache.spark.sql.graft.ColumnBridge
        val probs = 0.0 +: (1 until b).map(_.toDouble / b) :+ 1.0
        val agg = graft.functions.MultiQuantileSketch(
          ColumnBridge.expression(col("__arr")), featureNames.size, 1.0 / (4 * b), probs)
        // the sketch reads a projected array column: see SplitSearch.pack
        val r = encoded
          .select(array(featureNames.map(f => col(f).cast(DoubleType)): _*).as("__arr"), t)
          .select(ColumnBridge.column(agg.toAggregateExpression()) +: targetAggs: _*)
          .head()
        val quantiles = r.getSeq[scala.collection.Seq[Double]](0).map(_.toSeq)
        val absMax = featureNames.zip(quantiles).collect {
          case (f, qs) if qs.nonEmpty => f -> math.max(math.abs(qs.head), math.abs(qs.last))
        }.toMap
        val edges = featureNames
          .zip(quantiles.map(qs =>
            if (qs.isEmpty) qs else qs.drop(1).dropRight(1).distinct.sorted))
          .filter(_._2.nonEmpty).toMap
        (targetsOf(r, 1), absMax, edges)
      case None =>
        // reads the rows before target encoding: neither the targets nor
        // the (non-categorical) double features depend on it, and a large
        // mapping's broadcast join would cost the pass an extra job
        val shrinkable = if (shrinkDtype) doubleFeatures else Nil
        val r = nonNullTarget.agg(targetAggs.head,
          targetAggs.tail ++ shrinkable.map(f => max(abs(when(!isnan(col(f)), col(f))))): _*).head()
        val absMax = shrinkable.zipWithIndex.collect {
          case (f, i) if !r.isNullAt(targetAggs.size + i) => f -> r.getDouble(targetAggs.size + i)
        }.toMap
        (targetsOf(r, 0), absMax, Map.empty[String, Seq[Double]])
    }
    // absent = all-null/all-NaN feature: the cast is a no-op either way
    val shrink = if (shrinkDtype) {
      doubleFeatures.filter(f => absMax.get(f).forall(_ <= Float.MaxValue.toDouble)).toSet
    } else Set.empty[String]

    val packed = SplitSearch.pack(encoded, featureNames, targetName, targets, shrink)
    DecisionTreeModel(trainLevels(packed, featureNames, targets, binEdges), mappings, targetType)
  }

  // ---- level-wise construction (one Spark job per tree LEVEL) -------------

  /** Breadth-first trainer over [[SplitSearch.pack]]'s frame: each level
    * runs ONE Spark job ([[SplitSearch.exactSearch]], or
    * [[SplitSearch.binnedSearch]] in binned mode) that answers every
    * pending node at once — tasks route each row to its pending node
    * through the partial tree's [[Router]] split table. Jobs per tree =
    * depth, not node count; the packed frame is cached once. Node
    * membership follows the reference's filter/negated-filter recursion
    * (tree.py:351-358; pinned against RefTree in TreeSpec and
    * SplitSearchSpec).
    */
  private def trainLevels(
      packed: DataFrame,
      featureNames: Seq[String],
      targets: Seq[Any],
      binEdges: Map[String, Seq[Double]]
  ): TreeNode = {
    val source = if (cacheNodes) packed.persist(StorageLevel.MEMORY_AND_DISK) else packed
    val slot = featureNames.zipWithIndex.toMap

    def countPendings(b: Building): Int = b match {
      case s: BSplit   => countPendings(s.left) + countPendings(s.right)
      case _: BLeaf    => 0
      case _: BPending => 1
    }

    /** The partial tree as a [[Router]] split table: splits and pending
      * nodes numbered in pre-order, as `rebuild` reads the results. */
    def routerOf(b: Building): Router = {
      import scala.collection.mutable.ArrayBuffer
      val (slots, thresholds) = (ArrayBuffer[Int](), ArrayBuffer[Double]())
      val (lefts, rights) = (ArrayBuffer[Int](), ArrayBuffer[Int]())
      var pendings = 0
      def walk(n: Building): Int = n match {
        case _: BLeaf => Router.Settled
        case _: BPending =>
          pendings += 1; Router.pending(pendings - 1)
        case s: BSplit =>
          val row = lefts.size
          slots += slot(s.feature); thresholds += s.threshold; lefts += 0; rights += 0
          lefts(row) = walk(s.left)
          rights(row) = walk(s.right)
          row
      }
      val root = walk(b)
      new Router(slots.toArray, thresholds.toArray, lefts.toArray, rights.toArray, root)
    }

    def finalizeAtDepthCap(b: Building, isRoot: Boolean = false): Building = b match {
      case s: BSplit => s.copy(left = finalizeAtDepthCap(s.left), right = finalizeAtDepthCap(s.right))
      case l: BLeaf  => l
      case BPending(inherited) =>
        // Only the root can legitimately lack an inherited distribution
        // (maxDepth = 0: no level job ever ran). Every deeper pending node
        // was created alongside its distribution; falling back to a
        // distributionJob over the ROOT source there would silently
        // compute the wrong majority — make the invariant loud instead.
        val dist = inherited.getOrElse {
          if (isRoot) distributionJob(source, targets.size)
          else throw new IllegalStateException(
            "pending node below the root hit the depth cap without an inherited distribution")
        }
        BLeaf(majorityFromDist(dist, targets))
    }

    def toTree(b: Building): TreeNode = b match {
      case BSplit(f, t, g, c, d, l, r) => SplitNode(f, t, g, c, d, toTree(l), toTree(r))
      case BLeaf(v)                    => LeafNode(v)
      case _: BPending =>
        throw new IllegalStateException("pending node survived construction")
    }

    try {
      var tree: Building = BPending(None)
      var depth = 0
      while (countPendings(tree) > 0) {
        if (maxDepth.exists(depth >= _)) {
          tree = finalizeAtDepthCap(tree, isRoot = depth == 0)
        } else {
          val numPendings = countPendings(tree)
          val router = routerOf(tree)
          val results: Map[Int, SplitSearch.NodeSearch] =
            // binEdges is empty in exact mode, and in maxBins mode only when
            // every feature is all-null — then the exact search (which finds
            // no candidates either) still answers the node distributions
            if (binEdges.nonEmpty)
              SplitSearch.binnedSearch(source, router, numPendings,
                featureNames, targets.size, criterion, binEdges)
            else
              SplitSearch.exactSearch(source, router, numPendings,
                featureNames, targets.size, criterion)
          var idx = -1
          def rebuild(b: Building): Building = b match {
            case s: BSplit => s.copy(left = rebuild(s.left), right = rebuild(s.right))
            case l: BLeaf  => l
            case BPending(inherited) =>
              idx += 1
              results.get(idx) match {
                case Some(search) =>
                  search.best match {
                    case Some(cs) if cs.candidate.informationGain > 0 =>
                      val c = cs.candidate
                      val leftDist = cs.leftClassCounts
                      val rightDist = cs.featureClassTotals.zip(cs.leftClassCounts)
                        .map { case (t, l) => t - l }
                      BSplit(c.feature, c.threshold, c.informationGain, c.parentCriterion,
                        search.nodeDistribution,
                        BPending(Some(leftDist)), BPending(Some(rightDist)))
                    case _ =>
                      BLeaf(majorityFromDist(search.nodeDistribution, targets))
                  }
                case None =>
                  // node received no rows — only reachable through an
                  // inherited distribution, which then decides the leaf
                  BLeaf(majorityFromDist(
                    inherited.getOrElse(throw new IllegalStateException(
                      s"pending node $idx has neither rows nor an inherited distribution")),
                    targets))
              }
          }
          tree = rebuild(tree)
          depth += 1
        }
      }
      toTree(tree)
    } finally {
      if (cacheNodes) source.unpersist(blocking = false)
    }
  }

  /** Majority label from a class-count vector aligned to the (sorted)
    * `targets`: argmax count, smallest label on ties (the reference takes
    * an arbitrary row on ties — documented divergence, SURVEY.md §2.11). */
  private def majorityFromDist(dist: Seq[Long], targets: Seq[Any]): Any = {
    require(dist.exists(_ > 0), "majority of empty node")
    targets(dist.indexOf(dist.max))
  }

  /** Fallback single job for the rare no-inherited-distribution case
    * (depth cap at the root), over the packed frame's class index. */
  private def distributionJob(packed: DataFrame, k: Int): Seq[Long] = {
    val counts = packed.groupBy(col("__cls")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until k).map(counts.getOrElse(_, 0L))
  }
}
