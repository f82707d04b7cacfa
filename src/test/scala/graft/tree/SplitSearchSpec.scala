package graft.tree

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Hand-computed split-search values on a tiny fixture, plus agreement
  * between the oracle-shaped pipeline, the trainer's exact histogram
  * search, and the binned histogram search. */
class SplitSearchSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // 8 rows, feature x in {1,2,3,4}, two classes. x<=2 -> class 0 (pure),
  // x>2 -> class 1 except one noise row at x=3.
  private def df = {
    val rows = Seq(
      Row(1.0, 0), Row(1.0, 0), Row(2.0, 0), Row(2.0, 0),
      Row(3.0, 1), Row(3.0, 0), Row(4.0, 1), Row(4.0, 1))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("x", DoubleType), StructField("target", IntegerType))))
  }

  private def entropy(ps: Seq[Double]): Double =
    -ps.filter(_ > 0).map(p => p * math.log(p) / math.log(2)).sum

  test("gainPerThreshold matches hand computation (entropy)") {
    val rows = SplitSearch.gainPerThreshold(df, Seq("x"), "target", Seq(0, 1), Criterion.Entropy)
      .orderBy("feature_value").collect()
    assert(rows.map(_.getDouble(1)).toSeq == Seq(1.0, 2.0, 3.0)) // max (4.0) excluded
    val parent = entropy(Seq(5.0 / 8, 3.0 / 8))
    // threshold 2: left = 4x class0 (entropy 0), right = {0,1,1,1}
    val g2 = parent - (4.0 / 8 * 0.0 + 4.0 / 8 * entropy(Seq(1.0 / 4, 3.0 / 4)))
    val got = rows.find(_.getDouble(1) == 2.0).get.getAs[Double]("information_gain")
    assert(math.abs(got - g2) < 1e-12, s"got $got expected $g2")
    assert(math.abs(rows.head.getAs[Double]("parent_criterion") - parent) < 1e-12)
  }

  test("best split picks threshold 2 and searchWithStats agrees with bestSplit") {
    for (crit <- Seq(Criterion.Entropy, Criterion.Gini)) {
      val best = SplitSearch.bestSplit(df, Seq("x"), "target", Seq(0, 1), crit).get
      assert(best.feature == "x" && best.threshold == 2.0)
      val search = SplitSearch.searchWithStats(df, Seq("x"), "target", Seq(0, 1), crit)
      val sBest = search.best.get
      assert(sBest.candidate == best)
      assert(search.nodeDistribution == Seq(5L, 3L))
      assert(sBest.leftClassCounts == Seq(4L, 0L))
      assert(sBest.featureClassTotals == Seq(5L, 3L))
    }
  }

  test("searchWithStats node distribution counts null-feature rows; candidates do not") {
    val rows = Seq(Row(1.0, 0), Row(2.0, 0), Row(9.0, 1), Row(null, 1))
    val d = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("x", DoubleType, nullable = true), StructField("target", IntegerType))))
    val s = SplitSearch.searchWithStats(d, Seq("x"), "target", Seq(0, 1), Criterion.Entropy)
    assert(s.nodeDistribution == Seq(2L, 2L)) // null row counted in node
    assert(s.best.get.featureClassTotals == Seq(2L, 1L)) // but not under the feature
  }

  test("single-valued feature yields no candidates (right side must be non-empty)") {
    val rows = Seq(Row(5.0, 0), Row(5.0, 1))
    val d = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("x", DoubleType), StructField("target", IntegerType))))
    val s = SplitSearch.searchWithStats(d, Seq("x"), "target", Seq(0, 1), Criterion.Entropy)
    assert(s.candidates.isEmpty && s.nodeDistribution == Seq(1L, 1L))
    assert(SplitSearch.bestSplit(d, Seq("x"), "target", Seq(0, 1), Criterion.Entropy).isEmpty)
  }

  test("partitioned prefix-sum cumulative counts match the windowed version") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val hist = SplitSearch.meltedHistogram(
      li, Seq("l_quantity", "l_discount", "l_extendedprice"), "l_returnflag",
      Seq("A", "N", "R"))
    def canon(d: org.apache.spark.sql.DataFrame) = {
      val cols = d.columns.sorted
      d.select(cols.head, cols.tail: _*).orderBy("feature", "feature_value")
        .collect().map(_.toSeq).toSeq
    }
    val windowed = canon(SplitSearch.cumulativeCounts(hist, 3))
    for (p <- Seq(1, 3, 16)) {
      assert(canon(SplitSearch.cumulativeCountsPartitioned(hist, 3, p)) == windowed,
        s"partitioned(p=$p) differs from windowed")
    }
  }

  test("exact kernel search equals the reference pipeline exactly, across partial merges") {
    // ExactHistogram + the shared gain scan against the melt/window
    // pipeline (bestSplitsPerFeature, cumulativeCounts, bestSplit): ==
    // on thresholds, gains and counts. Hash-partitioning on the 3-valued
    // target into 8 partitions leaves at least 5 empty, and the shuffle
    // means every partial buffer is serialized, deserialized and merged.
    // f_edge holds nulls, NaN, and -0.0 (flag N) next to 0.0: merged as
    // in the pipeline's grouping, its one threshold is 0.0 with only the
    // NaN rows on the right; split apart, -0.0 would cut off flag N.
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_quantity"), col("l_discount"), col("l_extendedprice"),
        when(col("l_linenumber") === 1, lit(null).cast("double"))
          .when(col("l_linenumber") === 2, lit(Double.NaN))
          .when(col("l_returnflag") === "N", lit(-0.0))
          .otherwise(lit(0.0)).as("f_edge"),
        col("l_returnflag"))
      .repartition(8, col("l_returnflag"))
    assert(li.rdd.glom().map(_.isEmpty).collect().count(identity) >= 5)
    val features = Seq("l_quantity", "l_discount", "l_extendedprice", "f_edge")
    val targets = Seq[Any]("A", "N", "R")
    val cum = SplitSearch.cumulativeCounts(
      SplitSearch.meltedHistogram(li, features, "l_returnflag", targets), 3).collect()
      .map(r => (r.getAs[String]("feature"), r.getAs[Double]("feature_value")) -> r).toMap
    val classCounts = li.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (crit <- Seq(Criterion.Entropy, Criterion.Gini)) {
      val search = SplitSearch.searchWithStats(li, features, "l_returnflag", targets, crit)
      assert(search.nodeDistribution == targets.map(t => classCounts(t.toString)))
      val ref = SplitSearch.bestSplitsPerFeature(li, features, "l_returnflag", targets, crit)
        .collect().map(r => r.getAs[String]("feature") -> r).toMap
      val got = search.candidates.map(c => c.candidate.feature -> c).toMap
      assert(got.keySet == features.toSet && ref.keySet == got.keySet)
      got.foreach { case (f, cs) =>
        val r = ref(f)
        assert(cs.candidate == SplitSearch.Candidate(f, r.getAs[Double]("feature_value"),
          r.getAs[Double]("information_gain"), r.getAs[Double]("parent_criterion")), s"$f candidate")
        val c = cum((f, cs.candidate.threshold))
        assert(cs.leftClassCounts == (0 until 3).map(i => c.getAs[Long](s"cum_sum_class_${i}_count")),
          s"$f left counts")
        assert(cs.featureClassTotals == (0 until 3).map(i => c.getAs[Long](s"sum_class_${i}_count")),
          s"$f totals")
      }
      assert(got("f_edge").featureClassTotals.sum < li.count()) // nulls left out
      assert(search.best.map(_.candidate) ==
        SplitSearch.bestSplit(li, features, "l_returnflag", targets, crit))
    }
  }

  test("aggregated single-pass histogram search matches the DataFrame pipeline") {
    // the binned search (MultiFeatureHistogram + driver gain math) must
    // equal the exact search run over the same rows with every feature
    // snapped to its bin edge: same candidate set, exact counts
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val features = Seq("l_quantity", "l_discount", "l_tax", "l_extendedprice")
    val targets = Seq[Any]("A", "N", "R")
    val edges = Map(
      "l_quantity" -> Seq(10.0, 20.0, 30.0, 40.0),
      "l_discount" -> Seq(0.02, 0.05, 0.08),
      "l_tax" -> Seq(0.03, 0.06),
      "l_extendedprice" -> Seq(10000.0, 30000.0, 60000.0, 90000.0))
    val snapped = li.select(features.map(f =>
      SplitSearch.snapToEdges(col(f).cast("double"), edges(f)).as(f)) :+ col("l_returnflag"): _*)
    for (crit <- Seq(Criterion.Entropy, Criterion.Gini)) {
      val viaPipeline = SplitSearch.searchWithStats(
        snapped, features, "l_returnflag", targets, crit)
      val viaAggregate = SplitSearch.searchLevelAggregated(
        li, features, "l_returnflag", targets, crit, edges)
      assert(viaAggregate.nodeDistribution == viaPipeline.nodeDistribution)
      val p = viaPipeline.candidates.map(c => c.candidate.feature -> c).toMap
      val a = viaAggregate.candidates.map(c => c.candidate.feature -> c).toMap
      assert(a.keySet == p.keySet && a.size == features.size)
      a.foreach { case (f, ca) =>
        val cp = p(f)
        assert(ca.candidate.threshold == cp.candidate.threshold, s"$f threshold")
        // one shared gain scan: bit-identical, not just close
        assert(ca.candidate.informationGain == cp.candidate.informationGain, s"$f gain")
        assert(ca.candidate.parentCriterion == cp.candidate.parentCriterion, s"$f crit")
        assert(ca.leftClassCounts == cp.leftClassCounts, s"$f left counts")
        assert(ca.featureClassTotals == cp.featureClassTotals, s"$f totals")
      }
    }
  }

  test("level-wise null routing matches RefTree on null-laden data") {
    // nulls in the split features: rows must drop out of BOTH children at
    // the level router, as in the reference's mask + ~mask
    // recursion that RefTree reproduces. shrinkDtype = false keeps the
    // Gaussian values off the f32 grid RefTree does not model.
    val rnd = new scala.util.Random(5)
    val vals = (0 until 200).map { i =>
      val c = i % 2
      (if (i % 7 == 0) None else Some(c * 2.0 + rnd.nextGaussian()),
        if (i % 11 == 0) None else Some(3.0 - c + rnd.nextGaussian()),
        c)
    }
    val rows = vals.map { case (f1, f2, c) =>
      Row(f1.map(Double.box).orNull, f2.map(Double.box).orNull, c)
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("f1", DoubleType, nullable = true),
        StructField("f2", DoubleType, nullable = true),
        StructField("target", IntegerType))))
    val refRows = vals.map { case (f1, f2, _) => Map("f1" -> f1, "f2" -> f2) }
    def same(a: TreeNode, b: TreeNode): Boolean = (a, b) match {
      case (LeafNode(x), LeafNode(y)) => x == y
      case (SplitNode(f1, t1, g1, c1, d1, l1, r1), SplitNode(f2, t2, g2, c2, d2, l2, r2)) =>
        f1 == f2 && t1 == t2 && d1 == d2 &&
          math.abs(g1 - g2) < 1e-9 && math.abs(c1 - c2) < 1e-9 &&
          same(l1, l2) && same(r1, r2)
      case _ => false
    }
    for (crit <- Seq(Criterion.Entropy, Criterion.Gini)) {
      val model = DecisionTreeClassifier(maxDepth = Some(3), criterion = crit,
        shrinkDtype = false).fit(df, "target")
      val ref = RefTree.fit(refRows, vals.map(_._3), Seq("f1", "f2"), crit, maxDepth = 3)
      assert(model.tree.depth == 3, s"${crit.name}: too shallow to exercise routing")
      assert(same(model.tree, ref.tree), s"${crit.name}\nengine: ${model.tree}\nref: ${ref.tree}")
    }
  }

  test("snapToEdges: exact counts at edges, +inf catch-all") {
    val vals = spark.range(1, 101).select((col("id").cast("double") / 10.0).as("v"))
    val edges = Seq(2.0, 5.0, 8.0)
    val snapped = vals.select(SplitSearch.snapToEdges(col("v"), edges).as("s"))
      .groupBy("s").count().collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(snapped(2.0) == 20)  // 0.1..2.0
    assert(snapped(5.0) == 30)  // 2.1..5.0
    assert(snapped(8.0) == 30)  // 5.1..8.0
    assert(snapped(Double.PositiveInfinity) == 20) // 8.1..10.0
  }

  test("binned search gives exact gain at a chosen edge") {
    val search = SplitSearch.searchLevelAggregated(df, Seq("x"), "target", Seq(0, 1),
      Criterion.Entropy, Map("x" -> Seq(2.0, 3.0)))
    val exact = SplitSearch.bestSplit(df, Seq("x"), "target", Seq(0, 1), Criterion.Entropy).get
    val b = search.best.get.candidate
    // 2.0 is in the edge set, so the binned winner must equal the exact one
    assert(b == exact)
  }

  test("binned search bins +Inf apart from NaN and -0.0 with 0.0") {
    // an interior +Inf edge is a real threshold: +Inf rows sit on it, NaN
    // rows (above every value in Spark's ordering) go right of it; -0.0
    // and 0.0 compare equal, so both land on the -0.0 edge's bin
    val rows = Seq(
      Row(1.0, -0.0, 0), Row(Double.PositiveInfinity, 0.0, 0), Row(Double.PositiveInfinity, 0.0, 0),
      Row(Double.NaN, 1.0, 1), Row(Double.NaN, 1.0, 1), Row(null, 1.0, 1))
    val d = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("x", DoubleType, nullable = true),
        StructField("z", DoubleType), StructField("target", IntegerType))))
    val s = SplitSearch.searchLevelAggregated(d, Seq("x", "z"), "target", Seq(0, 1),
      Criterion.Entropy, Map("x" -> Seq(1.0, Double.PositiveInfinity), "z" -> Seq(-0.0, 0.0, 1.0)))
    assert(s.nodeDistribution == Seq(3L, 3L))
    val byFeature = s.candidates.map(c => c.candidate.feature -> c).toMap
    val x = byFeature("x")
    assert(x.candidate.threshold == Double.PositiveInfinity)
    assert(x.leftClassCounts == Seq(3L, 0L) && x.featureClassTotals == Seq(3L, 2L))
    val z = byFeature("z")
    assert(z.candidate.threshold.equals(-0.0))
    assert(z.leftClassCounts == Seq(3L, 0L) && z.featureClassTotals == Seq(3L, 3L))
    assert(s.best.get.candidate.feature == "z") // a pure split, gain 1
  }
}
