package graft.tree

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Memory-efficient decision-tree classifier, trained entirely as
  * DataFrame dataflow — the Spark-native rebuild of the reference's
  * Polars-backed `DecisionTreeClassifier` (reference: efficient_trees/tree.py:16-385).
  *
  * Execution shape: ONE level-wise loop. Each tree level runs ONE native
  * aggregate over un-melted rows that answers every pending node at once —
  * per-feature class-count histograms AND each node's class distribution;
  * one driver-side gain scan picks the splits, and the children's
  * distributions fall out of the winner's cumulative counts, so leaves
  * cost zero jobs. `maxBins` picks the histogram's key layout: exact mode
  * runs [[SplitSearch.searchLevelExact]] (a sparse
  * [[graft.functions.ExactHistogram]] keyed by distinct value), binned
  * mode runs [[SplitSearch.searchLevelAggregated]] (a dense
  * [[graft.functions.MultiFeatureHistogram]] keyed by bin index). The
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
  *                       aggregate over un-melted rows with a fixed-size
  *                       buffer — the scale-safe mode for continuous
  *                       features, where exact mode's buffer and driver
  *                       scan grow with every distinct value. Counts at the
  *                       chosen edges stay exact; only the candidate set
  *                       shrinks. None = exact mode (reference parity,
  *                       golden tests).
  * @param cacheNodes     persist the training rows (MEMORY_AND_DISK) for the
  *                       duration of the build. The reference's
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
    * nodeId expression emits them. */
  private sealed trait Building
  private final case class BSplit(feature: String, threshold: Double, gain: Double,
      crit: Double, dist: Seq[Long], left: Building, right: Building) extends Building
  private final case class BLeaf(value: Any) extends Building
  private final case class BPending(inherited: Option[Seq[Long]]) extends Building

  /** Train. Pipeline mirrors the reference's `fit` (tree.py:79-115):
    * schema introspection -> (dtype shrink: a no-op under Tungsten) ->
    * target-encode categoricals -> collect distinct targets ->
    * (maxBins mode: one [[graft.functions.MultiQuantileSketch]] pass for
    * bin edges) -> level-wise build.
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

    val (encoded0, mappings) =
      if (categoricalColumns.nonEmpty) {
        val m = TargetEncoder.fitMappings(nonNullTarget, categoricalColumns, targetName)
        (TargetEncoder.applyMappings(nonNullTarget, m), m)
      } else (nonNullTarget, Map.empty[String, Map[String, Int]])

    // shrink_dtype parity (tree.py:90): double features lose to f32 grid
    // during fit only. Like Polars, shrink is a COLUMN-level decision
    // gated on the values fitting f32 range — a feature with magnitudes
    // beyond Float.MaxValue stays f64 rather than collapsing to Infinity.
    // Encoded categoricals are small ints — untouched.
    val doubleFeatures = featureNames.filter(f =>
      encoded0.schema(f).dataType == org.apache.spark.sql.types.DoubleType)
    def shrinkWith(absMax: String => Option[Double]): DataFrame =
      if (shrinkDtype && doubleFeatures.nonEmpty) {
        // one select, not a withColumn fold — each withColumn re-analyzes
        // the accumulated plan, O(width^2) driver time at 190 features
        // (measured on the 190-feature bench fit)
        val shrinkSet = doubleFeatures.filter(f =>
          // absent = all-null/all-NaN feature: the cast is a no-op either way
          absMax(f).forall(_ <= Float.MaxValue.toDouble)).toSet
        encoded0.select(encoded0.columns.map { c =>
          if (shrinkSet(c)) col(c).cast("float").cast("double").as(c) else col(c)
        }: _*)
      } else encoded0

    // maxBins mode: per-feature quantile edges, computed once on the root
    // data and reused for every node (MLlib-style binning). One
    // MultiQuantileSketch aggregate over a packed array projection — the
    // same Greenwald-Khanna summaries and 1/(4b) error contract as
    // `df.stat.approxQuantile`, without its per-row Row conversion that
    // re-boxes every feature (at 190 features that conversion was ~90% of
    // the whole binned fit). The SAME pass also answers the shrink
    // decision: GK summaries retain the exact extremes, so querying
    // probabilities 0 and 1 yields each feature's exact min/max and the
    // f32-fit gate costs no second corpus scan (exact mode keeps its
    // dedicated max(abs) aggregate). Edges are therefore computed on the
    // PRE-shrink doubles — still valid cut points for the f32-shrunk
    // training values (counts AT the chosen edges stay exact; only the
    // candidate grid shifts within the sketch's error bound). NaN is
    // ignored throughout: a NaN never blocks shrink (NaN survives the
    // f32 cast value-preserved), unlike a max(abs) aggregate where NaN
    // would poison the comparison.
    val (encoded: DataFrame, binEdges: Map[String, Seq[Double]]) = maxBins match {
      case Some(b) =>
        require(b >= 2, s"maxBins must be >= 2, got $b")
        import org.apache.spark.sql.graft.ColumnBridge
        val probs = 0.0 +: (1 until b).map(_.toDouble / b) :+ 1.0
        val packed = array(featureNames.map(f => col(f).cast("double")): _*)
        val agg = graft.functions.MultiQuantileSketch(
          ColumnBridge.expression(col("__arr")), featureNames.size, 1.0 / (4 * b), probs)
        // Pre-project the packed array through whole-stage codegen (r21):
        // an imperative aggregate evaluates its child expressions with
        // interpreted eval per row, so the bare CreateArray boxed every
        // feature of every row (at 190 features the boxing dominated the
        // pass and its garbage drove the 32-core page-churn pathology the
        // r20 scaling block exposed). A bound attribute read is free.
        val quantiles: Seq[Seq[Double]] = encoded0
          .select(packed.as("__arr"))
          .select(ColumnBridge.column(agg.toAggregateExpression()).as("qs"))
          .head().getSeq[scala.collection.Seq[Double]](0).map(_.toSeq)
        val absMax: Map[String, Double] = featureNames.zip(quantiles).collect {
          case (f, qs) if qs.nonEmpty =>
            f -> math.max(math.abs(qs.head), math.abs(qs.last))
        }.toMap
        val edges = featureNames
          .zip(quantiles.map(qs =>
            if (qs.isEmpty) qs else qs.drop(1).dropRight(1).distinct.sorted))
          .filter(_._2.nonEmpty).toMap
        (shrinkWith(absMax.get), edges)
      case None =>
        val maxAbs: Map[String, Double] =
          if (shrinkDtype && doubleFeatures.nonEmpty) {
            val aggs = doubleFeatures.map(f => max(abs(col(f))).as(s"__ma_$f"))
            val r = encoded0.agg(aggs.head, aggs.tail: _*).head()
            doubleFeatures.flatMap { f =>
              Option(r.getAs[Any](s"__ma_$f")).map { case m: Double => f -> m }
            }.toMap
          } else Map.empty
        (shrinkWith(maxAbs.get), Map.empty[String, Seq[Double]])
    }

    // Distinct target values (tree.py:110-113). The reference's order is
    // engine-arbitrary; we sort for deterministic class indexing.
    val targets: Seq[Any] =
      encoded.select(col(targetName)).distinct().orderBy(col(targetName)).collect().map(_.get(0)).toSeq

    val tree = trainLevels(encoded, featureNames, targetName, targets, binEdges)
    DecisionTreeModel(tree, mappings, targetType)
  }

  // ---- level-wise construction (one Spark job per tree LEVEL) -------------

  /** Breadth-first trainer: each level runs ONE aggregate job
    * ([[SplitSearch.searchLevelExact]], or
    * [[SplitSearch.searchLevelAggregated]] in binned mode) that answers
    * every pending node at once — rows are routed to
    * their pending node by a when-chain id expression over the partial
    * tree. Jobs per tree = depth, not node count; the source is cached
    * once. Node membership follows the reference's filter/negated-filter
    * recursion (tree.py:351-358; pinned against RefTree in TreeSpec and
    * SplitSearchSpec). The id when-chain has one branch per node at the
    * current frontier, so keep depth <= ~12 (the reference's own examples
    * cap at 4-8).
    */
  private def trainLevels(
      data: DataFrame,
      featureNames: Seq[String],
      targetName: String,
      targets: Seq[Any],
      binEdges: Map[String, Seq[Double]]
  ): TreeNode = {
    val source = if (cacheNodes) data.persist(StorageLevel.MEMORY_AND_DISK) else data

    def countPendings(b: Building): Int = b match {
      case s: BSplit   => countPendings(s.left) + countPendings(s.right)
      case _: BLeaf    => 0
      case _: BPending => 1
    }

    /** Pre-order pending-node id routing expression over the partial tree.
      * NULL id = row sits in a finalized leaf or drops out at a NULL split
      * feature (3-valued logic — the reference's mask + ~mask drops
      * NULL-feature rows from both children, tree.py:351-358). */
    def idExpr(b: Building): org.apache.spark.sql.Column = {
      var idx = -1
      def walk(n: Building): org.apache.spark.sql.Column = n match {
        case _: BLeaf => lit(null).cast("int")
        case _: BPending =>
          idx += 1; lit(idx).cast("int")
        case s: BSplit =>
          val c = col(s.feature).cast("double")
          val lc = walk(s.left)
          val rc = walk(s.right)
          when(c <= lit(s.threshold), lc).when(c > lit(s.threshold), rc)
            .otherwise(lit(null).cast("int"))
      }
      walk(b)
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
          if (isRoot) distributionJob(source, targetName, targets)
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
          val nodeId = idExpr(tree)
          val results: Map[Int, SplitSearch.NodeSearch] =
            // binEdges is empty in exact mode, and in maxBins mode only when
            // every feature is all-null — then the exact search (which finds
            // no candidates either) still answers the node distributions
            if (binEdges.nonEmpty)
              SplitSearch.searchLevelAggregated(source, nodeId, numPendings,
                featureNames, targetName, targets, criterion, binEdges)
            else
              SplitSearch.searchLevelExact(source, nodeId, numPendings,
                featureNames, targetName, targets, criterion)
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
    * (depth cap at the root). */
  private def distributionJob(df: DataFrame, targetName: String, targets: Seq[Any]): Seq[Long] = {
    val counts = df.groupBy(col(targetName)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.get(0) -> r.getAs[Long]("n")).toMap
    targets.map(t => counts.getOrElse(t, 0L))
  }
}
