package graft.tree

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Exhaustive best-split search by information gain.
  *
  * Reproduces the reference's split-search dataflow
  * (reference: efficient_trees/tree.py:206-348): per feature —
  * project+null-filter -> group-by feature value with per-class conditional
  * counts -> sort ascending -> cumulative + total counts -> drop the last
  * cumulative row (so the right branch is non-empty) -> left/right/parent
  * class proportions -> criterion (entropy or gini) -> weighted child
  * criterion -> information gain -> top-1 per feature.
  *
  * Two formulations live here. The reference-shaped pipeline
  * ([[meltedHistogram]] -> [[cumulativeCounts]] -> [[gainPerThreshold]] ->
  * [[bestSplit]]) *melts* all feature columns into (feature, feature_value,
  * target) rows with a single `explode`, aggregates by (feature, value) and
  * runs windows per feature: the relational encoding, kept for the oracle
  * entries and as the tests' yardstick. The trainer instead runs each tree
  * level as ONE Spark job over un-melted packed rows ([[levelJob]]): tasks
  * route rows through the partial tree's split table ([[Router]]) into a
  * native histogram kernel — [[graft.functions.ExactHistogram]] (exact
  * thresholds, sparse value keys) or
  * [[graft.functions.MultiFeatureHistogram]] (binned, dense bin index) —
  * and one shared driver-side gain scan ([[bestThreshold]]) reproduces the
  * pipeline's gains bit for bit. Either way one scan answers every
  * feature, where the reference fans out one plan per feature joined by
  * `pl.collect_all` (tree.py:338-339).
  */
object SplitSearch {

  /** Winning split candidate for one feature (collected to the driver —
    * at most one row per feature, reference: tree.py:341-348). */
  final case class Candidate(
      feature: String,
      threshold: Double,
      informationGain: Double,
      parentCriterion: Double
  )

  /** Per-feature winner enriched with the class-count columns the gain was
    * computed from, so the trainer can derive both children's class
    * distributions (left = cum counts at the threshold, right = feature
    * totals - cum) without running any further Spark job. */
  final case class CandidateStats(
      candidate: Candidate,
      leftClassCounts: Seq[Long],
      featureClassTotals: Seq[Long]
  )

  /** One split-search job's full result: the per-feature winners plus the
    * node's own class distribution (in `targets` order). */
  final case class NodeSearch(
      candidates: Seq[CandidateStats],
      nodeDistribution: Seq[Long]
  ) {
    /** Global best with deterministic tie-break (gain DESC, feature ASC,
      * threshold ASC — reference leaves this unspecified, SURVEY §2.11). */
    def best: Option[CandidateStats] =
      if (candidates.isEmpty) None
      else Some(candidates.minBy(c =>
        (-c.candidate.informationGain, c.candidate.feature, c.candidate.threshold)))
  }

  /** Snap a feature value to the smallest bin edge >= value (edges sorted
    * ascending); values beyond the last edge collapse into a +Infinity
    * catch-all bucket, which sorts last and is dropped by the
    * "right side non-empty" rule. Counts at every edge threshold remain
    * EXACT (v <= e  <=>  snap(v) <= e for e in edges); only the candidate
    * set is restricted — the standard MLlib-style maxBins trade. */
  def snapToEdges(c: Column, edges: Seq[Double]): Column = {
    require(edges.nonEmpty, "snapToEdges needs at least one edge")
    val sorted = edges.sorted
    sorted.tail.foldLeft(when(c <= sorted.head, lit(sorted.head))) {
      case (chain, e) => chain.when(c <= e, lit(e))
    }.otherwise(lit(Double.PositiveInfinity))
  }

  /** 0*log2(0) := 0 convention: the reference computes p*log2(p) then
    * `fill_nan(0.0)` (tree.py:215). Spark's `log` returns NULL (not NaN)
    * for non-positive input, so we need coalesce as well as nanvl. */
  private def pLog2p(p: Column): Column =
    coalesce(nanvl(p * log(2.0, p), lit(0.0)), lit(0.0))

  /** Criterion over proportion columns `{direction}_proportion_class_{i}`.
    * Entropy: -sum(p*log2 p) (tree.py:206-221); Gini: 1 - sum(p^2)
    * (tree.py:222-231). */
  def criterionExpr(direction: String, numClasses: Int, criterion: Criterion): Column = {
    val ps = (0 until numClasses).map(i => col(s"${direction}_proportion_class_$i"))
    val e = criterion match {
      case Criterion.Entropy => lit(-1.0) * ps.map(pLog2p).reduce(_ + _)
      case Criterion.Gini    => lit(1.0) - ps.map(p => p * p).reduce(_ + _)
    }
    e.as(s"${direction}_criterion")
  }

  /** One row per (feature, observed value) with per-class conditional counts
    * and the total count — the split histogram (reference: tree.py:243-254).
    * `targets` is the list of distinct target values; class columns are
    * named by index (`class_{i}_count`) for name-safety.
    */
  def meltedHistogram(
      df: DataFrame,
      features: Seq[String],
      targetName: String,
      targets: Seq[Any]
  ): DataFrame = {
    val fv = features.map(f =>
      struct(lit(f).as("feature"), col(f).cast(DoubleType).as("feature_value")))
    val melted = df
      .select(col(targetName).as("__target"), explode(array(fv: _*)).as("fv"))
      .select(col("fv.feature").as("feature"), col("fv.feature_value").as("feature_value"),
        col("__target"))
      .where(col("feature_value").isNotNull) // per-feature null filter (tree.py:239)
    val classCounts = targets.zipWithIndex.map { case (v, i) =>
      count(when(col("__target") === lit(v), 1)).as(s"class_${i}_count")
    }
    melted
      .groupBy("feature", "feature_value")
      .agg(classCounts.head, (classCounts.tail :+ count(lit(1)).as("count_examples")): _*)
  }

  /** From the histogram: cumulative and total counts per feature
    * (reference: tree.py:255-273 — cum_sum after sort, plus scalar totals;
    * Polars broadcasts scalar aggregates inside a projection, Spark needs
    * an unbounded window. Post-aggregation frames are tiny — at most the
    * number of distinct feature values — so the per-feature window is cheap).
    */
  def cumulativeCounts(hist: DataFrame, numClasses: Int): DataFrame = {
    val wCum = Window.partitionBy("feature").orderBy("feature_value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("feature")
    val cums = (0 until numClasses).flatMap { i =>
      Seq(
        sum(col(s"class_${i}_count")).over(wCum).as(s"cum_sum_class_${i}_count"),
        sum(col(s"class_${i}_count")).over(wAll).as(s"sum_class_${i}_count")
      )
    } ++ Seq(
      sum(col("count_examples")).over(wCum).as("cum_sum_count_examples"),
      sum(col("count_examples")).over(wAll).as("sum_count_examples")
    )
    hist.select((Seq(col("feature"), col("feature_value")) ++ cums): _*)
  }

  /** Scale-safe twin of [[cumulativeCounts]] for EXACT mode on continuous
    * features, where the per-feature window would put O(distinct values)
    * rows in a single task. A fully declarative distributed prefix sum —
    * ONE query, no checkpoint, no repartition sampling, no driver collect:
    *
    *  1. per-feature min/max of `feature_value` (a tiny order-independent
    *     aggregate, broadcast back) defines `numBuckets` uniform value
    *     ranges; the bucket id is a monotonic codegen'd arithmetic
    *     expression, so every cumulative window partition is bounded by
    *     one bucket's worth of distinct values;
    *  2. per-(feature, bucket) totals -> exclusive prefix offsets + feature
    *     grand totals, via windows over the tiny totals frame (<= features
    *     x buckets rows), broadcast back;
    *  3. running sums inside each (feature, bucket) window plus the offsets.
    *
    * The histogram subplan feeds the min/max branch, the totals branch,
    * and the final window; its shuffle runs once and is ReusedExchange'd
    * into the others. Degenerate groups (constant value, NaN) collapse
    * into a single bucket — monotonicity trivially holds. Value-uniform
    * (not frequency-uniform) buckets can skew under pathological value
    * distributions; quantile edges would fix that at the cost of a
    * nondeterministic-merge aggregate, and the windowed math is exact
    * either way. Output is row-identical to [[cumulativeCounts]]
    * (asserted by the cum_counts_partitioned DuckDB oracle and
    * SplitSearchSpec).
    */
  def cumulativeCountsPartitioned(
      hist: DataFrame,
      numClasses: Int,
      numBuckets: Int
  ): DataFrame = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    val countCols = (0 until numClasses).map(i => s"class_${i}_count") :+ "count_examples"
    val fv = col("feature_value")

    // NaN sorts above every double in Spark orderings, so NaN rows belong in
    // the last bucket; a constant-valued (or all-NaN) group collapses there
    // too, which keeps the expression total without an ANSI divide-by-zero.
    val ranges = hist.groupBy("feature").agg(
      min(when(!isnan(fv), fv)).as("__mn"),
      max(when(!isnan(fv), fv)).as("__mx"))
    val (mn, mx) = (col("__mn"), col("__mx"))
    val withBucket = hist.join(broadcast(ranges), "feature")
      .withColumn("__bkt",
        when(isnan(fv) || mx.isNull || mx === mn, lit(numBuckets - 1))
          .otherwise(least(
            floor((fv - mn) / ((mx - mn) / lit(numBuckets.toDouble))).cast("int"),
            lit(numBuckets - 1))))
      .drop("__mn", "__mx")

    val bucketTotals = withBucket.groupBy("feature", "__bkt")
      .agg(sum(col(countCols.head)).as(countCols.head),
        countCols.tail.map(c => sum(col(c)).as(c)): _*)
    val wPrev = Window.partitionBy("feature").orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy("feature")
    val offsets = bucketTotals.select(
      Seq(col("feature"), col("__bkt")) ++
        countCols.map(c => coalesce(sum(col(c)).over(wPrev), lit(0L)).as(s"__off_$c")) ++
        countCols.map(c => sum(col(c)).over(wTot).as(s"__tot_$c")): _*)

    val wCum = Window.partitionBy("feature", "__bkt").orderBy("feature_value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = withBucket.join(broadcast(offsets), Seq("feature", "__bkt"))
    val outCols = (0 until numClasses).flatMap { i =>
      val c = s"class_${i}_count"
      Seq(
        (sum(col(c)).over(wCum) + col(s"__off_$c")).as(s"cum_sum_class_${i}_count"),
        col(s"__tot_$c").as(s"sum_class_${i}_count"))
    } ++ Seq(
      (sum(col("count_examples")).over(wCum) + col("__off_count_examples"))
        .as("cum_sum_count_examples"),
      col("__tot_count_examples").as("sum_count_examples"))
    joined.select((Seq(col("feature"), fv) ++ outCols): _*)
  }

  /** Full gain pipeline: histogram -> cumulative counts -> candidate filter
    * -> proportions -> criteria -> weighted child criterion -> gain
    * (reference: tree.py:274-331). Returns one row per candidate threshold.
    */
  def gainPerThreshold(
      df: DataFrame,
      features: Seq[String],
      targetName: String,
      targets: Seq[Any],
      criterion: Criterion
  ): DataFrame = {
    val k = targets.size
    val cum = cumulativeCounts(meltedHistogram(df, features, targetName, targets), k)
      // "at least one example available" on the right (tree.py:274-277)
      .where(col("sum_count_examples") > col("cum_sum_count_examples"))
    val proportions = (0 until k).flatMap { i =>
      Seq(
        (col(s"cum_sum_class_${i}_count") / col("cum_sum_count_examples"))
          .as(s"left_proportion_class_$i"),
        ((col(s"sum_class_${i}_count") - col(s"cum_sum_class_${i}_count")) /
          (col("sum_count_examples") - col("cum_sum_count_examples")))
          .as(s"right_proportion_class_$i"),
        (col(s"sum_class_${i}_count") / col("sum_count_examples"))
          .as(s"parent_proportion_class_$i")
      )
    }
    val withProps = cum.select(
      (Seq(col("feature"), col("feature_value"),
        col("cum_sum_count_examples"), col("sum_count_examples")) ++ proportions): _*)
    val withCrit = withProps.select(
      col("feature"), col("feature_value"),
      col("cum_sum_count_examples"), col("sum_count_examples"),
      criterionExpr("left", k, criterion),
      criterionExpr("right", k, criterion),
      criterionExpr("parent", k, criterion)
    )
    // weighted child criterion + gain (tree.py:314-330)
    withCrit
      .withColumn(
        "child_criterion",
        col("cum_sum_count_examples") / col("sum_count_examples") * col("left_criterion") +
          (col("sum_count_examples") - col("cum_sum_count_examples")) /
            col("sum_count_examples") * col("right_criterion")
      )
      .select(
        col("feature"),
        col("feature_value"),
        (col("parent_criterion") - col("child_criterion")).as("information_gain"),
        col("parent_criterion")
      )
      .where(!isnan(col("information_gain")) && col("information_gain").isNotNull) // (tree.py:331)
  }

  /** Top-1 candidate per feature (reference: tree.py:332-334), with a
    * deterministic tie-break (gain DESC, threshold ASC) the reference
    * leaves unspecified (documented divergence, SURVEY.md §2.11).
    */
  def bestSplitsPerFeature(
      df: DataFrame,
      features: Seq[String],
      targetName: String,
      targets: Seq[Any],
      criterion: Criterion
  ): DataFrame = {
    val w = Window.partitionBy("feature")
      .orderBy(col("information_gain").desc, col("feature_value").asc)
    gainPerThreshold(df, features, targetName, targets, criterion)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** The trainer's per-node search, one Spark job: per-feature best splits
    * AND the node's class distribution ([[exactSearch]] with every row in
    * node 0). Replaces the reference's ~3 executions per node (collect_all
    * fan-out + mask collect + distribution collect, tree.py:339-372) with
    * one. The result's candidates, counts, gains and tie-breaks equal the
    * reference pipeline's ([[bestSplit]] / [[gainPerThreshold]], asserted
    * with `==` in SplitSearchSpec).
    */
  def searchWithStats(
      df: DataFrame,
      features: Seq[String],
      targetName: String,
      targets: Seq[Any],
      criterion: Criterion
  ): NodeSearch =
    exactSearch(pack(df, features, targetName, targets), Router.root, 1, features,
      targets.size, criterion)
      .getOrElse(0, throw new IllegalArgumentException(
        "searchWithStats on empty input data (no rows reached the search)"))

  /** Binned twin of [[searchWithStats]]: [[binnedSearch]] with every row in
    * node 0. Features without bin edges (all-null features have none)
    * yield no candidate; targets must be non-null. On null-free features
    * with finite edges, candidate set, counts and gains match
    * [[searchWithStats]] run over [[snapToEdges]]-snapped features
    * (asserted in SplitSearchSpec). Unlike the snap, null feature values
    * count in no bin, and an interior +Inf edge keeps its own bin apart
    * from NaN.
    */
  def searchLevelAggregated(
      df: DataFrame,
      features: Seq[String],
      targetName: String,
      targets: Seq[Any],
      criterion: Criterion,
      binEdges: Map[String, Seq[Double]]
  ): NodeSearch =
    binnedSearch(pack(df, features, targetName, targets), Router.root, 1, features,
      targets.size, criterion, binEdges)
      .getOrElse(0, throw new IllegalArgumentException(
        "searchLevelAggregated on empty input data (no rows reached the search)"))

  /** Exact-mode level search over a [[pack]]ed frame: ONE
    * [[graft.functions.ExactHistogram]] [[levelJob]] per tree LEVEL, which
    * counts, per (pending node, feature), the classes of every distinct
    * value. The driver sorts each slot and runs [[bestThreshold]] over it.
    * Rows whose class index is -1 count nowhere. Nodes with no rows are
    * absent from the result map.
    */
  private[graft] def exactSearch(
      packed: DataFrame,
      router: Router,
      numNodes: Int,
      features: Seq[String],
      k: Int,
      criterion: Criterion
  ): Map[Int, NodeSearch] = {
    val hist = levelJob(packed, router, new graft.functions.ExactHistogram(features.size, k, numNodes))
    (0 until numNodes).flatMap { node =>
      val nodeDist = hist.nodeTotals.slice(node * k, (node + 1) * k).toVector
      if (nodeDist.sum == 0) None
      else Some(node -> NodeSearch(features.indices.flatMap { f =>
        val (values, counts) = hist.sorted(node, f)
        bestThreshold(features(f), values, counts, k, criterion)
      }, nodeDist))
    }.toMap
  }

  /** Binned-mode level search over a [[pack]]ed frame: ONE
    * [[graft.functions.MultiFeatureHistogram]] [[levelJob]] per tree LEVEL
    * (the buffer = nodes x (F+1) x (B+1) x K longs) and the entire gain
    * computation on the driver. Nodes with no rows are absent from the
    * result map.
    */
  private[graft] def binnedSearch(
      packed: DataFrame,
      router: Router,
      numNodes: Int,
      features: Seq[String],
      k: Int,
      criterion: Criterion,
      binEdges: Map[String, Seq[Double]]
  ): Map[Int, NodeSearch] = {
    val edges = features.map(binEdges.getOrElse(_, Nil))
    val buffer = levelJob(packed, router, new graft.functions.MultiFeatureHistogram(edges, k, numNodes))
    val block = (edges.map(_.size).max + 1) * k
    val nodeLen = (features.size + 1) * block
    (0 until numNodes).flatMap { node =>
      val base = node * nodeLen
      val sentinel = base + features.size * block
      val nodeDist = buffer.slice(sentinel, sentinel + k).toVector // node sentinel block, bin 0
      if (nodeDist.sum == 0) None
      else Some(node -> NodeSearch(features.indices.flatMap { f =>
        val off = base + f * block
        bestThreshold(features(f), edges(f).toArray,
          buffer.slice(off, off + (edges(f).size + 1) * k), k, criterion)
      }, nodeDist))
    }.toMap
  }

  /** One tree level as ONE Spark job of one stage over a [[pack]]ed frame's
    * rows, with no SQL plan or exchange of its own: each task routes its
    * rows through `router` and counts them into a fresh `hist` buffer; the
    * driver merges each task's packed partial into one buffer as the task
    * finishes. It runs as a SQL execution of the packed frame, named by
    * this call site, so listeners and the UI file one execution per level.
    * The frame's physical plan is made once (`toRdd` is lazy on the
    * frame), and over the trainer's cached frame it is the cache scan.
    */
  private def levelJob[B, P: ClassTag](packed: DataFrame, router: Router,
      hist: graft.functions.LevelHistogram[B, P]): B = {
    val qe = packed.queryExecution
    val total = hist.newBuffer()
    SQLExecution.withNewExecutionId(qe) {
      packed.sparkSession.sparkContext.runJob(qe.toRdd, (rows: Iterator[InternalRow]) => {
        val buffer = hist.newBuffer()
        while (rows.hasNext) {
          val row = rows.next()
          val arr = row.getArray(0)
          val node = router.route(arr)
          val cls = row.getInt(1)
          if (node >= 0 && cls >= 0) hist.update(buffer, arr, cls, node)
        }
        hist.pack(buffer)
      }, (_: Int, part: P) => hist.merge(total, part))
    }
    total
  }

  /** The level searches' one input layout: the packed feature array
    * `__arr` (slot i = feature i as a double; the features in `shrink`
    * pass through Float32 first) and the class index `__cls` (position in
    * `targets`, -1 = no class; never null). The trainer projects and
    * caches it once per fit, so no level rebuilds the array or the class
    * when-chain from feature columns, and the level kernels read each row's
    * features as one primitive array without boxing. */
  private[graft] def pack(
      df: DataFrame,
      features: Seq[String],
      targetName: String,
      targets: Seq[Any],
      shrink: Set[String] = Set.empty
  ): DataFrame = {
    val classIdx = targets.zipWithIndex.foldLeft(
      when(lit(false), lit(-1))) { case (chain, (v, i)) =>
      chain.when(col(targetName) === lit(v), lit(i))
    }.otherwise(lit(-1)).cast("int")
    df.select(array(features.map { f =>
      if (shrink(f)) col(f).cast("float").cast(DoubleType) else col(f).cast(DoubleType)
    }: _*).as("__arr"), classIdx.as("__cls"))
  }

  private val Log2 = StrictMath.log(2.0)

  /** Criterion of the class counts `counts` over `n` rows, operation for
    * operation as [[criterionExpr]] evaluates it: long/long proportions
    * divided in double, `p * (log p / log 2)` with `StrictMath.log` (what
    * Spark's `Logarithm` runs) and 0 for p = 0, terms summed left to right
    * as `reduce(_ + _)` does. */
  private def criterionOf(criterion: Criterion, counts: Array[Long], n: Long): Double = {
    var s = 0.0
    var c = 0
    while (c < counts.length) {
      val p = counts(c).toDouble / n.toDouble
      val t = criterion match {
        case Criterion.Entropy => if (p > 0) p * (StrictMath.log(p) / Log2) else 0.0
        case Criterion.Gini    => p * p
      }
      s = if (c == 0) t else s + t
      c += 1
    }
    criterion match {
      case Criterion.Entropy => -1.0 * s
      case Criterion.Gini    => 1.0 - s
    }
  }

  /** One feature's best split from its histogram — the gain scan both
    * level searches share. `thresholds` ascend; `counts` holds K class
    * counts per bin (bin-major), bin b < thresholds.length covering the
    * rows above thresholds(b - 1) up to thresholds(b). A trailing bin with
    * no threshold (binned mode's +inf catch-all) only adds to the totals.
    * A threshold is a candidate when its bin is non-empty and rows remain
    * on the right (tree.py:274-277) and its gain is not NaN (tree.py:331);
    * the gain follows [[gainPerThreshold]]'s association order, so it is
    * bit-identical to the reference pipeline's. Ties: gain DESC, threshold
    * ASC. None when no candidate exists.
    */
  private def bestThreshold(
      feature: String,
      thresholds: Array[Double],
      counts: Array[Long],
      k: Int,
      criterion: Criterion
  ): Option[CandidateStats] = {
    val totals = new Array[Long](k)
    counts.indices.foreach(i => totals(i % k) += counts(i))
    val totN = totals.sum
    if (totN == 0) return None
    val parentCrit = criterionOf(criterion, totals, totN)
    val cums = new Array[Long](k)
    val right = new Array[Long](k)
    var cumN = 0L
    var best: Option[(Double, Double, Array[Long])] = None // (threshold, gain, left counts)
    var b = 0
    while (b < thresholds.length) {
      var binN = 0L
      var c = 0
      while (c < k) { cums(c) += counts(b * k + c); binN += counts(b * k + c); c += 1 }
      cumN += binN
      if (binN > 0 && cumN < totN) {
        c = 0
        while (c < k) { right(c) = totals(c) - cums(c); c += 1 }
        val child = cumN.toDouble / totN.toDouble * criterionOf(criterion, cums, cumN) +
          (totN - cumN).toDouble / totN.toDouble * criterionOf(criterion, right, totN - cumN)
        val gain = parentCrit - child
        if (!gain.isNaN && best.forall(gain > _._2)) best = Some((thresholds(b), gain, cums.clone()))
      }
      b += 1
    }
    best.map { case (thr, gain, left) =>
      CandidateStats(Candidate(feature, thr, gain, parentCrit), left.toVector, totals.toVector)
    }
  }

  /** Collect the per-feature winners and pick the global best on the driver
    * (<= one row per feature; reference: tree.py:341-348). Deterministic
    * global tie-break: gain DESC, feature ASC, threshold ASC. Returns None
    * when no candidate threshold exists anywhere (reference: tree.py:345-346).
    */
  def bestSplit(
      df: DataFrame,
      features: Seq[String],
      targetName: String,
      targets: Seq[Any],
      criterion: Criterion
  ): Option[Candidate] = {
    val rows = bestSplitsPerFeature(df, features, targetName, targets, criterion).collect()
    val cands = rows.toSeq.map { r =>
      Candidate(
        r.getAs[String]("feature"),
        r.getAs[Double]("feature_value"),
        r.getAs[Double]("information_gain"),
        r.getAs[Double]("parent_criterion")
      )
    }
    if (cands.isEmpty) None
    else Some(cands.minBy(c => (-c.informationGain, c.feature, c.threshold)))
  }
}
