package graft.tree

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Port of the reference's integration test structure
  * (reference: tests/integration/test_tree.py:67-102): a 16-case matrix of
  * {target dtype int/str} x {cache on/off — the lazy/eager axis collapses
  * in Spark} x {with/without the cyclic categorical_feature column} x
  * {entropy/gini}, asserting
  *   (a) the engine tree equals an independent in-memory reference
  *       implementation ([[RefTree]]) — structure and golden predictions,
  *   (b) `predict` (local walker) == `predict_many` (engine path), the
  *       reference's differential assertion (test_tree.py:91-95).
  *
  * The sklearn iris fixture and its hard-coded golden lists are not
  * reproducible in this offline environment (no sklearn, no iris data);
  * RefTree supplies the golden predictions instead. Like the reference's
  * fixture, the categorical_feature column is a plain numeric feature —
  * the reference never passes categorical_columns in its test.
  */
class TreeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Deterministic 150x4 three-class dataset with real signal (seeded JVM
    * LCG — stable across runs/platforms), standing in for iris. */
  private val rnd = new scala.util.Random(42)
  private val featureNames = Seq("sepal_length", "sepal_width", "petal_length", "petal_width")
  private val baseRows: Seq[(Seq[Double], Int)] = (0 until 150).map { i =>
    val c = i % 3
    val f = Seq(
      4.5 + c * 0.8 + rnd.nextGaussian() * 0.6,
      2.5 + (2 - c) * 0.4 + rnd.nextGaussian() * 0.5,
      1.5 + c * 1.6 + rnd.nextGaussian() * 0.7,
      0.2 + c * 0.7 + rnd.nextGaussian() * 0.3
    ).map(v => math.rint(v * 10) / 10.0) // 1-decimal grid like iris
    (f, c)
  }
  private val labelStr = Map(0 -> "setosa", 1 -> "versicolor", 2 -> "virginica")

  private def makeDf(strTarget: Boolean, withCat: Boolean) = {
    val catVals = Iterator.continually(Seq(1, 2, 3)).flatten
    val rows = baseRows.map { case (f, c) =>
      val cat = catVals.next()
      val tail: Seq[Any] =
        (if (withCat) Seq(cat.toDouble) else Nil) :+
          (if (strTarget) labelStr(c) else c)
      Row.fromSeq(f ++ tail)
    }
    val fields =
      featureNames.map(StructField(_, DoubleType, nullable = false)) ++
        (if (withCat) Seq(StructField("categorical_feature", DoubleType, nullable = false)) else Nil) :+
        StructField("target", if (strTarget) StringType else IntegerType, nullable = false)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), StructType(fields))
  }

  private def refRows(strTarget: Boolean, withCat: Boolean): (Seq[Map[String, Option[Double]]], Seq[Any]) = {
    val catVals = Iterator.continually(Seq(1, 2, 3)).flatten
    val feats = featureNames ++ (if (withCat) Seq("categorical_feature") else Nil)
    val rows = baseRows.map { case (f, _) =>
      val cat = catVals.next()
      // mirror the engine's shrinkDtype fit projection (f32 grid)
      val vals = (f ++ (if (withCat) Seq(cat.toDouble) else Nil)).map(_.toFloat.toDouble)
      feats.zip(vals.map(Option(_))).toMap
    }
    val ys: Seq[Any] = baseRows.map { case (_, c) => if (strTarget) labelStr(c) else c }
    (rows, ys)
  }

  private def sameTree(a: TreeNode, b: TreeNode): Boolean = (a, b) match {
    case (LeafNode(x), LeafNode(y)) => x == y
    case (SplitNode(f1, t1, g1, c1, _, l1, r1), SplitNode(f2, t2, g2, c2, _, l2, r2)) =>
      f1 == f2 && t1 == t2 && math.abs(g1 - g2) < 1e-9 && math.abs(c1 - c2) < 1e-9 &&
        sameTree(l1, l2) && sameTree(r1, r2)
    case _ => false
  }

  for {
    strTarget <- Seq(false, true)
    cache <- Seq(true, false)
    withCat <- Seq(true, false)
    crit <- Seq(Criterion.Entropy, Criterion.Gini)
  } test(s"matrix: target=${if (strTarget) "str" else "int"} cache=$cache cat=$withCat ${crit.name}") {
    val df = makeDf(strTarget, withCat)
    val (rrows, rys) = refRows(strTarget, withCat)
    val feats = featureNames ++ (if (withCat) Seq("categorical_feature") else Nil)

    val model = DecisionTreeClassifier(maxDepth = Some(4), criterion = crit, cacheNodes = cache)
      .fit(df, "target")
    val ref = RefTree.fit(rrows, rys, feats, crit, maxDepth = 4)

    assert(sameTree(model.tree, ref.tree),
      s"engine tree != reference tree\nengine: ${model.tree}\nref: ${ref.tree}")

    // golden predictions from the reference implementation
    val engine = Predict.predictMany(model, df)
      .select((feats.map(org.apache.spark.sql.functions.col) :+
        org.apache.spark.sql.functions.col("prediction")): _*)
      .collect()
    engine.foreach { r =>
      val row = feats.zipWithIndex.map { case (f, i) => f -> Option(r.getDouble(i)) }.toMap
      val expected = RefTree.predict(ref.tree, row).get
      assert(r.get(feats.size) == expected, s"prediction mismatch at $row")
    }

    // differential: local walker == engine scorer (test_tree.py:91-95)
    engine.foreach { r =>
      val sample = feats.zipWithIndex.map { case (f, i) => f -> (r.getDouble(i): Any) }.toMap
      assert(Predict.predictRow(model.tree, sample) == r.get(feats.size))
    }
  }

  test("null targets are excluded from fit: same tree as pre-filtered data, all paths") {
    import org.apache.spark.sql.functions._
    val clean = makeDf(strTarget = true, withCat = false)
    // poison every 7th row's target with NULL
    val dirty = clean.withColumn("target",
      when(pmod(hash(col("sepal_length"), col("petal_length")), lit(7)) === 0, lit(null))
        .otherwise(col("target")))
    val prefiltered = dirty.where(col("target").isNotNull)
    // exact melt and binned histogram search
    for (bins <- Seq(None, Some(16))) {
      val m1 = DecisionTreeClassifier(maxDepth = Some(3), maxBins = bins).fit(dirty, "target")
      val m2 = DecisionTreeClassifier(maxDepth = Some(3), maxBins = bins).fit(prefiltered, "target")
      assert(m1.tree.depth == 3, s"tree too shallow to exercise the search (maxBins=$bins)")
      assert(sameTree(m1.tree, m2.tree), s"null-target rows leaked into training (maxBins=$bins)")
    }
  }

  test("degenerate fits: single-class data -> one leaf; empty input fails loudly") {
    val single = makeDf(strTarget = false, withCat = false)
      .withColumn("target", org.apache.spark.sql.functions.lit(1))
    for (bins <- Seq(None, Some(16))) {
      val m = DecisionTreeClassifier(maxDepth = Some(3), maxBins = bins).fit(single, "target")
      assert(m.tree == LeafNode(1), s"pure node must be a leaf (maxBins=$bins)")
    }
    val empty = makeDf(strTarget = false, withCat = false).limit(0)
    val e = intercept[Exception](DecisionTreeClassifier(maxDepth = Some(2)).fit(empty, "target"))
    assert(e.getMessage != null && e.getMessage.nonEmpty)
  }

  test("maxDepth = None: unbounded depth terminates via the gain stop rule") {
    // perfectly separable 2-feature data: the tree purifies and stops on
    // its own (gain <= 0 at pure nodes), no depth cap needed. Values sit
    // on the f32-exact 0.25 grid so shrinkDtype thresholds round-trip
    // (0.1-grid boundary values would reproduce the iris f32 misroutes).
    val rows = (0 until 60).map { i =>
      val c = i % 3
      Row(c * 10.0 + (i % 5) * 0.25, 100.0 - c * 10.0, c)
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("f1", DoubleType), StructField("f2", DoubleType),
        StructField("target", IntegerType))))
    val model = DecisionTreeClassifier(maxDepth = None).fit(df, "target")
    assert(model.tree.depth <= 4 && model.tree.numLeaves >= 3)
    // and it classifies its own training data perfectly
    val wrong = Predict.predictMany(model, df)
      .where(org.apache.spark.sql.functions.col("prediction") =!=
        org.apache.spark.sql.functions.col("target")).count()
    assert(wrong == 0)
  }

  test("deep exact fit (depth >= 16) equals RefTree") {
    // noisy labels over two continuous features: the greedy tree keeps
    // splitting well past the depth the reference's examples use, so the
    // level router walks long split chains. shrinkDtype = false keeps the
    // values off the f32 grid RefTree does not model.
    val rnd = new scala.util.Random(11)
    val vals = (0 until 320).map { _ =>
      val c = rnd.nextInt(2)
      (math.rint((c * 0.6 + rnd.nextGaussian()) * 1000) / 1000.0, math.rint(rnd.nextDouble() * 1000) / 1000.0, c)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map { case (a, b, c) => Row(a, b, c) }, 4),
      StructType(Seq(StructField("f1", DoubleType), StructField("f2", DoubleType),
        StructField("target", IntegerType))))
    val depth = 24
    val model = DecisionTreeClassifier(maxDepth = Some(depth), shrinkDtype = false).fit(df, "target")
    val ref = RefTree.fit(vals.map { case (a, b, _) => Map("f1" -> Option(a), "f2" -> Option(b)) },
      vals.map(_._3), Seq("f1", "f2"), Criterion.Entropy, maxDepth = depth)
    assert(model.tree.depth >= 16, s"tree of depth ${model.tree.depth} is too shallow")
    assert(sameTree(model.tree, ref.tree), s"engine: ${model.tree}\nref: ${ref.tree}")
  }

  test("maxDepth = 0: root majority leaf via the depth-cap fallback job") {
    val df = makeDf(strTarget = false, withCat = false)
    val model = DecisionTreeClassifier(maxDepth = Some(0)).fit(df, "target")
    assert(model.tree == LeafNode(0)) // classes are balanced 50/50/50; smallest label wins
  }

  test("wide-feature fit (40 columns): correct tree via the melt-free aggregate path") {
    // the reference's flagship workload is 190 columns; the level-wise
    // aggregate must stay correct when the feature list is wide
    val rnd = new scala.util.Random(17)
    val wideNames = (0 until 40).map(i => s"f_$i")
    val rows = (0 until 300).map { i =>
      val c = i % 3
      Row.fromSeq(wideNames.zipWithIndex.map { case (_, j) =>
        // feature j carries signal only when j % 10 == c
        math.rint((if (j % 10 == c) c * 2.0 else 0.0) + rnd.nextGaussian() * 4) / 4.0
      } :+ c)
    }
    val schema = StructType(wideNames.map(StructField(_, DoubleType)) :+
      StructField("target", IntegerType))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val binned = DecisionTreeClassifier(maxDepth = Some(3), maxBins = Some(16))
      .fit(df, "target")
    val exact = DecisionTreeClassifier(maxDepth = Some(3)).fit(df, "target")
    // both paths produce valid trees and agree with the local walker
    for (model <- Seq(binned, exact)) {
      assert(model.tree.depth <= 3 && model.tree.numLeaves >= 2)
      Predict.predictMany(model, df).collect().foreach { r =>
        val sample = wideNames.zipWithIndex.map { case (f, j) => f -> (r.getDouble(j): Any) }.toMap
        assert(Predict.predictRow(model.tree, sample) == r.getAs[Any]("prediction"))
      }
    }
  }

  test("maxBins mode: valid tree, exact counts at edges, differential holds") {
    val df = makeDf(strTarget = false, withCat = false)
    val model = DecisionTreeClassifier(maxDepth = Some(4), criterion = Criterion.Entropy,
      maxBins = Some(8)).fit(df, "target")
    assert(model.tree.depth <= 4 && model.tree.numLeaves >= 2)
    def gains(n: TreeNode): Seq[Double] = n match {
      case _: LeafNode => Nil
      case s: SplitNode => s.informationGain +: (gains(s.left) ++ gains(s.right))
    }
    assert(gains(model.tree).forall(_ > 0))
    val preds = Predict.predictMany(model, df).collect()
    preds.foreach { r =>
      val sample = featureNames.zipWithIndex.map { case (f, i) => f -> (r.getDouble(i): Any) }.toMap
      assert(Predict.predictRow(model.tree, sample) == r.getAs[Any]("prediction"))
    }
  }

  test("maxBins edge cases: all-null, constant, +Inf edge, NaN, -0.0 features") {
    // both histograms' boundary semantics on adversarial columns. Binned:
    // f_null has no edges; f_const has one; a quarter of f_inf is +Inf, so
    // the 7/8 quantile is an interior +Inf edge; NaN sorts above every
    // value (Spark ordering), so it lands in the catch-all bucket; -0.0 and
    // 0.0 compare equal. Finite values sit on the f32-exact quarter grid,
    // so the fit's f32 shrink leaves them unchanged.
    val n = 480
    val rnd = new scala.util.Random(23)
    val data: Seq[(Array[java.lang.Double], Int)] = (0 until n).map { i =>
      val c = i % 3
      def q(v: Double): Double = math.rint(v * 4) / 4
      val fInf = if (i % 4 == 0) Double.PositiveInfinity
        else if (i % 17 == 0) Double.NaN
        else q(c + rnd.nextGaussian())
      val fNan = if (i % 5 == 0) Double.NaN else q(2.0 * c + rnd.nextGaussian())
      val fZero = (c + i % 2) match {
        case 0 => -0.0
        case 1 => 0.0
        case 2 => if (i % 4 < 2) -0.0 else 1.0
        case _ => -1.0
      }
      (Array[java.lang.Double](null, 3.0, fInf, fNan, fZero), c)
    }
    val names = Seq("f_null", "f_const", "f_inf", "f_nan", "f_zero")
    val schema = StructType(names.map(StructField(_, DoubleType, nullable = true)) :+
      StructField("target", IntegerType, nullable = false))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      data.map { case (vs, c) => Row.fromSeq(vs.toSeq :+ c) }, 4), schema)
    // exact mode (None) keys the same columns by distinct value: one
    // bucket per value, NaN last, -0.0 merged into 0.0
    for (bins <- Seq(Some(8), None)) {
      val model = DecisionTreeClassifier(maxDepth = Some(4), maxBins = bins).fit(df, "target")
      val used = {
        def feats(t: TreeNode): Set[String] = t match {
          case s: SplitNode => Set(s.feature) ++ feats(s.left) ++ feats(s.right)
          case _: LeafNode  => Set.empty
        }
        feats(model.tree)
      }
      assert(Set("f_inf", "f_nan", "f_zero").subsetOf(used), s"maxBins=$bins: edge-case features unused: ${model.tree}")

      // every split's targetDistribution == class counts of the rows routed
      // to it under Spark's comparison semantics (NULL leaves both sides);
      // its stored gain == the entropy gain recomputed from the routed rows
      // (this is what checks the histogram's bin counts); every leaf with
      // rows holds their majority class (depth-capped leaves take theirs
      // from the histogram's left/right counts)
      def counts(rows: Seq[(Array[java.lang.Double], Int)]): Seq[Long] =
        (0 until 3).map(c => rows.count(_._2 == c).toLong)
      def entropy(cs: Seq[Long]): Double = {
        val tot = cs.sum.toDouble
        -cs.filter(_ > 0).map { c => val p = c / tot; p * math.log(p) / math.log(2) }.sum
      }
      def routed(t: TreeNode, rows: Seq[(Array[java.lang.Double], Int)]): Unit = t match {
        case LeafNode(v) =>
          if (rows.nonEmpty) {
            val cs = counts(rows)
            assert(v == cs.indexOf(cs.max), s"maxBins=$bins: leaf $v over class counts $cs")
          }
        case s: SplitNode =>
          val at = s"maxBins=$bins split ${s.feature} <= ${s.threshold}"
          assert(s.targetDistribution == counts(rows), s"distribution of $at")
          val present = rows.filter(_._1(names.indexOf(s.feature)) != null)
          val (l, r) = present.partition { case (vs, _) =>
            val v: Double = vs(names.indexOf(s.feature))
            !v.isNaN && v <= s.threshold
          }
          val n = present.size.toDouble
          val gain = entropy(counts(present)) -
            (l.size / n * entropy(counts(l)) + r.size / n * entropy(counts(r)))
          assert(math.abs(s.informationGain - gain) < 1e-9, s"gain of $at: ${s.informationGain} vs $gain")
          routed(s.left, l)
          routed(s.right, r)
      }
      routed(model.tree, data)

      // differential: local walker == engine scorer on every row
      val preds = Predict.predictMany(model, df).collect()
      assert(preds.length == n)
      preds.foreach { r =>
        val sample = names.zipWithIndex.map { case (f, i) => f -> r.get(i) }.toMap
        assert(Predict.predictRow(model.tree, sample) == r.getAs[Any]("prediction"), s"at $sample")
      }
    }
  }

  test("exact-mode f32 shrink ignores NaN: one NaN row does not keep a feature f64") {
    // Spark's max orders NaN above every value, so a max(abs) shrink gate
    // that saw the NaN row would keep `f` f64 and split on unshrunk
    // values; the gate skips NaN like binned mode's sketch extremes and
    // Polars' max do
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map { i =>
      val c = i % 3
      Row(if (i == 0) Double.NaN else c + 0.1 + rnd.nextGaussian() * 0.4, c)
    }
    assert(rows.exists { r => val v = r.getDouble(0); !v.isNaN && v.toFloat.toDouble != v })
    val schema = StructType(Seq(StructField("f", DoubleType),
      StructField("target", IntegerType, nullable = false)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val model = DecisionTreeClassifier(maxDepth = Some(3)).fit(df, "target")
    def splits(t: TreeNode): Seq[SplitNode] = t match {
      case s: SplitNode => s +: (splits(s.left) ++ splits(s.right))
      case _: LeafNode  => Nil
    }
    assert(splits(model.tree).nonEmpty, s"no split on f: ${model.tree}")
    splits(model.tree).foreach { s =>
      assert(s.threshold == s.threshold.toFloat.toDouble,
        s"split ${s.feature} <= ${s.threshold} is off the f32 grid: the NaN row blocked the shrink")
    }
  }

  test("planScore (reference EP2 plan shape) agrees with expression scorer") {
    val df = makeDf(strTarget = true, withCat = false)
    val model = DecisionTreeClassifier(maxDepth = Some(3), criterion = Criterion.Gini)
      .fit(df, "target")
    val indexed = Predict.withRowIndex(df, "idx")
    val viaPlan = Predict.planScore(model, indexed, Seq("idx"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val viaExpr = Predict.predictMany(model, indexed)
      .select("idx", "prediction")
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(viaPlan == viaExpr)
  }

  test("null split feature: row reaches no leaf (NULL prediction), dropped by plan scorer") {
    val schema = StructType(Seq(
      StructField("f", DoubleType, nullable = true),
      StructField("target", IntegerType, nullable = false)))
    val rows = Seq(Row(1.0, 0), Row(2.0, 0), Row(9.0, 1), Row(10.0, 1), Row(null, 1))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val model = DecisionTreeClassifier(maxDepth = Some(2)).fit(df, "target")
    val preds = Predict.predictMany(model, df).where(org.apache.spark.sql.functions.col("f").isNull)
      .select("prediction").collect()
    assert(preds.length == 1 && preds.head.isNullAt(0))
    val indexed = Predict.withRowIndex(df, "idx")
    assert(Predict.planScore(model, indexed, Seq("idx")).count() == 4)
  }

  test("floating targets: classes are distinct()'s, one NaN class and 0.0 == -0.0") {
    import org.apache.spark.sql.functions.{col, collect_set}
    // x -> target: one class per x value under bitwise identity, but
    // distinct() (the trainer's target-set semantics) groups -0.0 with
    // 0.0 and every NaN bit pattern together: classes 0.0, 1.0, NaN
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)
    val reps = Seq(3, 3, 2, 3, 2, 2)
    val dbl = Seq(0.0, -0.0, java.lang.Double.longBitsToDouble(0x7ff8000000000000L), 1.0,
      java.lang.Double.longBitsToDouble(0x7ff8000000000001L),
      java.lang.Double.longBitsToDouble(0xfff8000000000000L))
    val flt = Seq(0.0f, -0.0f, java.lang.Float.intBitsToFloat(0x7fc00000), 1.0f,
      java.lang.Float.intBitsToFloat(0x7fc00001), java.lang.Float.intBitsToFloat(0xffc00000))
    for ((ys, dt) <- Seq[(Seq[Any], DataType)]((dbl, DoubleType), (flt, FloatType))) {
      val rows = xs.zip(ys).zip(reps).flatMap { case ((x, y), n) => Seq.fill(n)(Row(x, y)) }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
        StructType(Seq(StructField("x", DoubleType), StructField("target", dt))))
      val expected = df.select("target").distinct().orderBy("target").collect().map(_.get(0)).toSeq
      def num(v: Any): Double = v match {
        case d: Double => d
        case f: Float  => f.toDouble
      }
      // fixture proof: the rows carry more bit patterns than classes
      assert(expected.size == 3 && num(expected.last).isNaN)
      assert(df.select(collect_set(col("target"))).head().getSeq[Any](0).size > expected.size,
        s"$dt: NaN bit patterns did not survive into the frame")
      val classOf: Any => Int = v => expected.indexWhere(e =>
        if (num(v).isNaN) num(e).isNaN else num(e) == num(v))
      val ref = RefTree.fit(rows.map(r => Map("x" -> Option(r.getDouble(0)))),
        rows.map(r => classOf(r.get(1))), Seq("x"), Criterion.Entropy, maxDepth = 3)
      def same(a: TreeNode, b: TreeNode): Boolean = (a, b) match {
        case (LeafNode(v), LeafNode(i: Int)) => v.equals(expected(i)) // bitwise, NaN == NaN
        case (SplitNode(f1, t1, g1, c1, d1, l1, r1), SplitNode(f2, t2, g2, c2, d2, l2, r2)) =>
          f1 == f2 && t1 == t2 && d1 == d2 && math.abs(g1 - g2) < 1e-9 &&
            math.abs(c1 - c2) < 1e-9 && same(l1, l2) && same(r1, r2)
        case _ => false
      }
      val model = DecisionTreeClassifier(maxDepth = Some(3)).fit(df, "target")
      model.tree match {
        case s: SplitNode =>
          assert(s.targetDistribution == Seq(6L, 3L, 6L), s"$dt target_distribution ${s.targetDistribution}")
        case leaf         => fail(s"$dt: no split at the root: $leaf")
      }
      assert(same(model.tree, ref.tree), s"$dt\nengine: ${model.tree}\nref: ${ref.tree}")
    }
  }
}
