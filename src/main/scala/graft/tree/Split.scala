package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
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
  * Spark-first architecture: instead of the reference's one-lazy-plan-per-
  * feature fan-out joined by `pl.collect_all` (tree.py:338-339), we *melt*
  * all feature columns into (feature, feature_value, target) rows with a
  * single `explode` and run ONE aggregation job for every feature at once:
  * one scan, one partial-aggregated shuffle keyed by (feature, value), then
  * windows over the tiny post-aggregation frame partitioned by feature.
  * At cluster scale this replaces k full input scans with 1, and the
  * shuffle volume is bounded by the number of distinct (feature, value)
  * pairs, not the row count (hash aggregation does map-side combine).
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
  def cumulativeCounts(hist: DataFrame, numClasses: Int,
      keyCols: Seq[String] = Seq("feature")): DataFrame = {
    val wCum = Window.partitionBy(keyCols.map(col): _*).orderBy("feature_value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCols.map(col): _*)
    val cums = (0 until numClasses).flatMap { i =>
      Seq(
        sum(col(s"class_${i}_count")).over(wCum).as(s"cum_sum_class_${i}_count"),
        sum(col(s"class_${i}_count")).over(wAll).as(s"sum_class_${i}_count")
      )
    } ++ Seq(
      sum(col("count_examples")).over(wCum).as("cum_sum_count_examples"),
      sum(col("count_examples")).over(wAll).as("sum_count_examples")
    )
    hist.select((keyCols.map(col) ++ Seq(col("feature_value")) ++ cums): _*)
  }

  /** Scale-safe twin of [[cumulativeCounts]] for EXACT mode on continuous
    * features, where the per-feature window would put O(distinct values)
    * rows in a single task. A fully declarative distributed prefix sum —
    * ONE query, no checkpoint, no repartition sampling, no driver collect:
    *
    *  1. per-key min/max of `feature_value` (a tiny order-independent
    *     aggregate, broadcast back) defines `numBuckets` uniform value
    *     ranges; the bucket id is a monotonic codegen'd arithmetic
    *     expression, so every cumulative window partition is bounded by
    *     one bucket's worth of distinct values;
    *  2. per-(key, bucket) totals -> exclusive prefix offsets + key grand
    *     totals, via windows over the tiny totals frame (<= keys x
    *     buckets rows), broadcast back;
    *  3. running sums inside each (key, bucket) window plus the offsets.
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
      numBuckets: Int,
      keyCols: Seq[String] = Seq("feature"),
      // keys are compared to the `feature` column with `lit(_)`: feature
      // NAMES for the oracle-shaped string melt, feature INDICES for the
      // trainer's int melt (r20 — int equality codegens to a primitive
      // compare where the string chain paid a per-row UTF8 compare per
      // branch)
      featureRanges: Map[Any, (Double, Double)] = Map.empty
  ): DataFrame = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    val countCols = (0 until numClasses).map(i => s"class_${i}_count") :+ "count_examples"
    val key = keyCols.map(col)
    val fv = col("feature_value")

    // NaN sorts above every double in Spark orderings, so NaN rows belong in
    // the last bucket; a constant-valued (or all-NaN) group collapses there
    // too, which keeps the expression total without an ANSI divide-by-zero.
    def bucketFor(mn: Column, mx: Column): Column =
      when(isnan(fv) || mx.isNull || mx === mn, lit(numBuckets - 1))
        .otherwise(least(
          floor((fv - mn) / ((mx - mn) / lit(numBuckets.toDouble))).cast("int"),
          lit(numBuckets - 1)))
    // Callers that know per-feature (min, max) up front (the trainer
    // computes them once at fit time) get a pure literal bucket expression;
    // otherwise the ranges come from one extra tiny in-plan aggregate of
    // the histogram, broadcast back. Features absent from a non-empty map
    // (e.g. the node sentinel) collapse into the last bucket.
    val withBucket =
      if (featureRanges.nonEmpty) {
        val chain = featureRanges.foldLeft(when(lit(false), lit(0))) {
          case (c, (f, (mn, mx))) =>
            c.when(col("feature") === lit(f), bucketFor(lit(mn), lit(mx)))
        }.otherwise(lit(numBuckets - 1))
        hist.withColumn("__bkt", chain)
      } else {
        val ranges = hist.groupBy(key: _*).agg(
          min(when(!isnan(fv), fv)).as("__mn"),
          max(when(!isnan(fv), fv)).as("__mx"))
        hist.join(broadcast(ranges), keyCols)
          .withColumn("__bkt", bucketFor(col("__mn"), col("__mx")))
          .drop("__mn", "__mx")
      }

    val bucketTotals = withBucket.groupBy((keyCols :+ "__bkt").map(col): _*)
      .agg(sum(col(countCols.head)).as(countCols.head),
        countCols.tail.map(c => sum(col(c)).as(c)): _*)
    val wPrev = Window.partitionBy(key: _*).orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(key: _*)
    val offsets = bucketTotals.select(
      (key :+ col("__bkt")) ++
        countCols.map(c => coalesce(sum(col(c)).over(wPrev), lit(0L)).as(s"__off_$c")) ++
        countCols.map(c => sum(col(c)).over(wTot).as(s"__tot_$c")): _*)

    val wCum = Window.partitionBy((keyCols :+ "__bkt").map(col): _*).orderBy("feature_value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = withBucket.join(broadcast(offsets), keyCols :+ "__bkt")
    val outCols = (0 until numClasses).flatMap { i =>
      val c = s"class_${i}_count"
      Seq(
        (sum(col(c)).over(wCum) + col(s"__off_$c")).as(s"cum_sum_class_${i}_count"),
        col(s"__tot_$c").as(s"sum_class_${i}_count"))
    } ++ Seq(
      (sum(col("count_examples")).over(wCum) + col("__off_count_examples"))
        .as("cum_sum_count_examples"),
      col("__tot_count_examples").as("sum_count_examples"))
    joined.select((keyCols.map(col) ++ Seq(col("feature_value")) ++ outCols): _*)
  }

  /** Trainer-internal melt keyed by feature INDEX (r20 optimization):
    * `posexplode` over a plain double array replaces the oracle-shaped
    * [[meltedHistogram]]'s explode of (name string, value) structs on the
    * fit hot path. Three costs drop at once, none visible in the result:
    *
    *   - per melted row the exchange/aggregate key narrows from a
    *     variable-length UTF8 feature name (~8-16 bytes, hashed and
    *     compared per row) to a fixed 4-byte int (guide §2.3 "narrower
    *     types" — at 190 features and 10^8 melted rows per level the name
    *     bytes dominated the key);
    *   - the melt projection builds ONE array of F doubles instead of F
    *     (lit(name), value) structs — no per-row struct headers, and the
    *     array position IS the feature id, so the id costs zero bytes
    *     until posexplode materializes it;
    *   - every downstream keyed operation (partial aggregate, bucket
    *     chain, winners argmax) compares ints.
    *
    * The index->name decode happens once per LEVEL on the collected
    * winners frame (<= nodes x (F+1) rows), so results are identical to
    * the string melt (SplitSearchSpec pins the trainer path against the
    * oracle-shaped pipeline). The node sentinel is index `features.size` —
    * a lit(0.0) array element, never null, so its one histogram row per
    * node totals the node's class distribution over ALL rows; a single
    * distinct value leaves no right-hand side, so it is never a split
    * candidate. Raw features keep nulls and the post-explode null filter
    * drops them (tree.py:239).
    */
  private def meltedHistogramIdx(
      df: DataFrame,
      features: Seq[String],
      targetName: String,
      targets: Seq[Any],
      extraKeys: Seq[String]
  ): DataFrame = {
    val packed = array((features.map(f => col(f).cast(DoubleType)) :+
      lit(0.0)): _*) // node sentinel at index features.size
    val keyed = extraKeys.map(col)
    val melted = df
      .select((keyed :+ col(targetName).as("__target") :+
        posexplode(packed).as(Seq("feature", "feature_value"))): _*)
      .where(col("feature_value").isNotNull) // per-feature null filter (tree.py:239)
    val classCounts = targets.zipWithIndex.map { case (v, i) =>
      count(when(col("__target") === lit(v), 1)).as(s"class_${i}_count")
    }
    melted
      .groupBy((extraKeys :+ "feature" :+ "feature_value").map(col): _*)
      .agg(classCounts.head, (classCounts.tail :+ count(lit(1)).as("count_examples")): _*)
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

  /** The trainer's ONE Spark job per tree node: per-feature best splits AND
    * the node's class distribution, in a single collect.
    *
    * Differences from the oracle-shaped [[bestSplitsPerFeature]] pipeline:
    *   - a node-sentinel pseudo-feature is melted in, contributing one
    *     histogram row whose totals are the node's class distribution;
    *   - instead of filtering out the last cumulative row (F3) and NaN
    *     gains (F4), the gain is computed as
    *     `when(valid, gain).otherwise(null)` and the per-feature top-1
    *     window orders gain DESC NULLS LAST — so a feature with no valid
    *     candidate (and the sentinel, which never has one) still emits its
    *     winner row carrying the count columns. Null-gain rows become
    *     distribution carriers; non-null rows are real candidates.
    *
    * Replaces the reference's ~3 executions per node (collect_all fan-out +
    * mask collect + distribution collect, tree.py:339-372) with one.
    */
  def searchWithStats(
      df: DataFrame,
      features: Seq[String],
      targetName: String,
      targets: Seq[Any],
      criterion: Criterion,
      cumBuckets: Option[Int] = None,
      cumRanges: Map[String, (Double, Double)] = Map.empty
  ): NodeSearch =
    searchLevelWithStats(df, lit(0), features, targetName, targets, criterion,
      cumBuckets, cumRanges)
      .getOrElse(0, throw new IllegalArgumentException(
        "searchWithStats on empty input data (no rows reached the search)"))

  /** Level-wise generalization of [[searchWithStats]]: `nodeId` assigns
    * every row to a pending tree node (NULL = row settled in a finalized
    * leaf or dropped by a NULL split feature — excluded), and ONE job
    * returns every pending node's candidates + distribution, keyed by id.
    * This is what makes whole-level training cost one scan: histograms,
    * windows, and winners are all additionally keyed by `__node`.
    */
  def searchLevelWithStats(
      df: DataFrame,
      nodeId: Column,
      features: Seq[String],
      targetName: String,
      targets: Seq[Any],
      criterion: Criterion,
      cumBuckets: Option[Int] = None,
      cumRanges: Map[String, (Double, Double)] = Map.empty
  ): Map[Int, NodeSearch] = {
    val k = targets.size
    val winners = searchLevelFrame(df, nodeId, features, targetName, targets,
      criterion, cumBuckets, cumRanges).collect()

    val sentinelIdx = features.size
    winners.toSeq.groupBy(_.getAs[Int]("__node")).map { case (node, rows) =>
      val (sentinelRows, featureRows) = rows.partition(_.getAs[Int]("feature") == sentinelIdx)
      require(sentinelRows.nonEmpty, s"searchLevelWithStats: node $node has no sentinel row")
      val nodeDist = (0 until k).map(i => sentinelRows.head.getAs[Long](s"sum_class_${i}_count"))
      val candidates = featureRows
        .filter(r => !r.isNullAt(r.fieldIndex("information_gain")))
        .map { r =>
          CandidateStats(
            Candidate(
              features(r.getAs[Int]("feature")),
              r.getAs[Double]("feature_value"),
              r.getAs[Double]("information_gain"),
              r.getAs[Double]("parent_criterion")),
            (0 until k).map(i => r.getAs[Long](s"cum_sum_class_${i}_count")),
            (0 until k).map(i => r.getAs[Long](s"sum_class_${i}_count")))
        }
      node -> NodeSearch(candidates, nodeDist)
    }
  }

  /** The level search's winners DataFrame (one row per (node, feature) with
    * the argmax payload), pre-collect. Feature column is the melt INDEX
    * (sentinel = `features.size`); [[searchLevelWithStats]] decodes it to
    * names. */
  private def searchLevelFrame(
      df: DataFrame,
      nodeId: Column,
      features: Seq[String],
      targetName: String,
      targets: Seq[Any],
      criterion: Criterion,
      cumBuckets: Option[Int],
      cumRanges: Map[String, (Double, Double)]
  ): DataFrame = {
    val k = targets.size
    val base = df.withColumn("__node", nodeId.cast("int")).where(col("__node").isNotNull)
    val hist = meltedHistogramIdx(base, features, targetName, targets,
      extraKeys = Seq("__node"))
    // index-keyed ranges for the bucket chain (the sentinel index is absent
    // from the map and collapses into the last bucket, same as the string
    // melt's absent sentinel name)
    val fIdx: Map[String, Int] = features.zipWithIndex.toMap
    val idxRanges: Map[Any, (Double, Double)] =
      cumRanges.collect { case (f, r) if fIdx.contains(f) => (fIdx(f): Any) -> r }
    val cum = cumBuckets match {
      case Some(p) => cumulativeCountsPartitioned(hist, k, p,
        keyCols = Seq("__node", "feature"), featureRanges = idxRanges)
      case None    => cumulativeCounts(hist, k, keyCols = Seq("__node", "feature"))
    }
    // Rows where cum == sum (the per-feature maximum and the sentinel) are
    // not candidates; under ANSI mode (Spark 4 default) their right-side
    // proportion would throw DIVIDE_BY_ZERO, so guard it to NULL — the
    // criterion's 0*log2(0) coalesce then yields 0, and the validity filter
    // below nulls the gain anyway (the oracle-shaped pipeline instead
    // filters these rows out before dividing, F3).
    val hasRight = col("sum_count_examples") > col("cum_sum_count_examples")
    val proportions = (0 until k).flatMap { i =>
      Seq(
        (col(s"cum_sum_class_${i}_count") / col("cum_sum_count_examples"))
          .as(s"left_proportion_class_$i"),
        when(hasRight,
          (col(s"sum_class_${i}_count") - col(s"cum_sum_class_${i}_count")) /
            (col("sum_count_examples") - col("cum_sum_count_examples")))
          .as(s"right_proportion_class_$i"),
        (col(s"sum_class_${i}_count") / col("sum_count_examples"))
          .as(s"parent_proportion_class_$i")
      )
    }
    val countCols = (0 until k).flatMap(i =>
      Seq(col(s"cum_sum_class_${i}_count"), col(s"sum_class_${i}_count"))) ++
      Seq(col("cum_sum_count_examples"), col("sum_count_examples"))
    val keyed = Seq(col("__node"), col("feature"), col("feature_value"))
    val withCrit = cum
      .select((keyed ++ countCols ++ proportions): _*)
      .select((keyed ++ countCols ++ Seq(
        criterionExpr("left", k, criterion),
        criterionExpr("right", k, criterion),
        criterionExpr("parent", k, criterion))): _*)
    val rawGain = col("parent_criterion") -
      (col("cum_sum_count_examples") / col("sum_count_examples") * col("left_criterion") +
        (col("sum_count_examples") - col("cum_sum_count_examples")) /
          col("sum_count_examples") * col("right_criterion"))
    val valid = (col("sum_count_examples") > col("cum_sum_count_examples")) &&
      !isnan(rawGain) && rawGain.isNotNull
    val withGain = withCrit.withColumn("information_gain", when(valid, rawGain))
    // Per-feature argmax as an AGGREGATION, not a window: min over a
    // (sort-key, payload) struct does map-side combine, so no single task
    // ever gathers a whole feature's candidate rows (a row_number window
    // partitioned by (node, feature) would — the one remaining single-task
    // stage of the exact path at scale). Null gains (distribution-carrier
    // rows) sort last via the MaxValue key; ties break on feature_value
    // ASC — same order as (gain DESC NULLS LAST, feature_value ASC).
    val payload = struct((Seq(col("feature_value"), col("information_gain"),
      col("parent_criterion")) ++ countCols): _*)
    val sortKey = struct(
      coalesce(col("information_gain") * lit(-1.0), lit(Double.MaxValue)).as("k1"),
      col("feature_value").as("k2"))
    withGain
      .groupBy(col("__node"), col("feature"))
      .agg(min(struct(sortKey.as("k"), payload.as("p"))).as("w"))
      .select(col("__node"), col("feature"), col("w.p.*"))
  }

  /** Binned-mode level search: ONE [[graft.functions.MultiFeatureHistogram]]
    * aggregate job per tree LEVEL (no melt — a single pass over un-exploded
    * rows; the buffer = nodes x (F+1) x (B+1) x K longs merged to one row)
    * and the entire gain computation on the driver. Requires bin edges for
    * every splittable feature (all-null features have none and are
    * skipped) and non-null targets. On null-free features with finite
    * edges, candidate set, counts, tie-breaks, and float association order
    * match the exact [[searchWithStats]] run over [[snapToEdges]]-snapped
    * features (asserted in SplitSearchSpec). Unlike the snap, null feature
    * values count in no bin, and an interior +Inf edge keeps its own bin
    * apart from NaN. Nodes with no rows are absent from the result map.
    */
  def searchLevelAggregated(
      df: DataFrame,
      nodeId: Column,
      numNodes: Int,
      features: Seq[String],
      targetName: String,
      targets: Seq[Any],
      criterion: Criterion,
      binEdges: Map[String, Seq[Double]]
  ): Map[Int, NodeSearch] = {
    import org.apache.spark.sql.graft.ColumnBridge
    val k = targets.size
    val feats = features.filter(binEdges.contains) // all-null features have no edges
    val edges = feats.map(binEdges)
    val classIdx = targets.zipWithIndex.foldLeft(
      when(lit(false), lit(-1))) { case (chain, (v, i)) =>
      chain.when(col(targetName) === lit(v), lit(i))
    }.otherwise(lit(-1)).cast("int")
    val agg = graft.functions.MultiFeatureHistogram(
      ColumnBridge.expression(col("__arr")),
      ColumnBridge.expression(col("__cls")),
      ColumnBridge.expression(col("__node")), edges, k, numNodes)
    // Pre-project array/class/node through whole-stage codegen (r21): the
    // imperative aggregate's update evaluates its children interpreted
    // per row, so the bare CreateArray boxed every feature of every row
    // (at 190 features that boxing was the histogram scan's dominant
    // allocation and fed the 32-core page-churn pathology in the r20
    // scaling block); bound attribute reads allocate nothing.
    val buffer: Seq[Long] = df
      .select(array(feats.map(f => col(f).cast(DoubleType)): _*).as("__arr"),
        classIdx.as("__cls"), nodeId.cast("int").as("__node"))
      .select(ColumnBridge.column(agg.toAggregateExpression()).as("hist"))
      .head().getSeq[Long](0)

    val numBins = edges.map(_.size).max + 1
    val block = numBins * k
    val nodeLen = (feats.size + 1) * block
    (0 until numNodes).flatMap { node =>
      def cell(f: Int, b: Int, c: Int): Long = buffer(node * nodeLen + f * block + b * k + c)
      val nodeDist = (0 until k).map(c => cell(feats.size, 0, c))
      if (nodeDist.sum == 0) None
      else Some(node -> unpackNode(cell, feats, edges, k, criterion, nodeDist))
    }.toMap
  }

  /** Driver-side gain math over one node's histogram block, mirroring the
    * column expressions' association order. */
  private def unpackNode(
      cell: (Int, Int, Int) => Long,
      feats: Seq[String],
      edges: Seq[Seq[Double]],
      k: Int,
      criterion: Criterion,
      nodeDist: Seq[Long]
  ): NodeSearch = {

    // gain math mirroring the column expressions' association order
    def crit(ps: Seq[Double]): Double = criterion match {
      case Criterion.Entropy =>
        -1.0 * ps.map(p => if (p > 0) p * (math.log(p) / math.log(2.0)) else 0.0)
          .reduce(_ + _)
      case Criterion.Gini =>
        1.0 - ps.map(p => p * p).reduce(_ + _)
    }

    val candidates = feats.indices.flatMap { f =>
      val fEdges = edges(f)
      val totals = (0 until k).map(c => (0 to fEdges.size).map(b => cell(f, b, c)).sum)
      val totN = totals.sum
      if (totN == 0) None
      else {
        val parentCrit = crit(totals.map(t => t.toDouble / totN.toDouble))
        val cums = new Array[Long](k)
        var cumN = 0L
        val scored = (0 until fEdges.size).flatMap { b =>
          val binCount = (0 until k).map(c => cell(f, b, c)).sum
          (0 until k).foreach(c => cums(c) += cell(f, b, c))
          cumN += binCount
          if (binCount == 0 || cumN >= totN) None // empty bin / right side empty
          else {
            val left = crit((0 until k).map(c => cums(c).toDouble / cumN.toDouble))
            val right = crit((0 until k).map(c =>
              (totals(c) - cums(c)).toDouble / (totN - cumN).toDouble))
            val child = cumN.toDouble / totN.toDouble * left +
              (totN - cumN).toDouble / totN.toDouble * right
            val gain = parentCrit - child
            if (gain.isNaN) None
            else Some((fEdges(b), gain, (0 until k).map(cums(_)).toIndexedSeq))
          }
        }
        if (scored.isEmpty) None
        else {
          val (thr, gain, leftCounts) = scored.minBy { case (t, g, _) => (-g, t) }
          Some(CandidateStats(
            Candidate(feats(f), thr, gain, parentCrit), leftCounts, totals))
        }
      }
    }
    NodeSearch(candidates, nodeDist)
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
