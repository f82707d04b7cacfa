package graft.tree

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The binned fit at the bench's flagship width (`fit_depth4_entropy_*_wide190`:
  * 190 features = 4 lineitem base columns + 186 derived) on sf0.01. The
  * invariant is independent of how the histogram is computed: every
  * split's `targetDistribution` equals the class counts of the training
  * rows routed to it. Routing replays the fit's f32 shrink (every wide
  * column fits f32 range) and drops NULL-feature rows from both sides.
  */
class WideScalableFitSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("wide190 binned fit: split distributions equal routed class counts") {
    val wide = graft.tools.WideFrame.frame(
      spark, "/root/testdata/sf0.01", nDerived = 186, repartitionTo = None)
    assert(wide.columns.length == 191)
    val model = DecisionTreeClassifier(maxDepth = Some(2),
      criterion = Criterion.Entropy, maxBins = Some(32)).fit(wide, "l_returnflag")
    assert(model.tree.depth == 2, s"tree too shallow: ${model.tree}")

    def splitFeatures(t: TreeNode): Seq[String] = t match {
      case s: SplitNode => s.feature +: (splitFeatures(s.left) ++ splitFeatures(s.right))
      case _: LeafNode  => Nil
    }
    val feats = splitFeatures(model.tree).distinct
    val rows = wide.select((feats :+ "l_returnflag").map(col): _*).collect()
    val targets = rows.map(_.getString(feats.size)).distinct.sorted.toSeq
    val values: Map[String, Array[Option[Double]]] = feats.zipWithIndex.map { case (f, i) =>
      f -> rows.map(r => if (r.isNullAt(i)) None else Some(r.getDouble(i).toFloat.toDouble))
    }.toMap
    val labels = rows.map(_.getString(feats.size))

    def check(t: TreeNode, idx: Seq[Int]): Unit = t match {
      case _: LeafNode => ()
      case s: SplitNode =>
        assert(s.targetDistribution == targets.map(c => idx.count(labels(_) == c).toLong),
          s"distribution of split ${s.feature} <= ${s.threshold}")
        val v = values(s.feature)
        check(s.left, idx.filter(i => v(i).exists(_ <= s.threshold)))
        check(s.right, idx.filter(i => v(i).exists(_ > s.threshold)))
    }
    check(model.tree, rows.indices)
  }
}
