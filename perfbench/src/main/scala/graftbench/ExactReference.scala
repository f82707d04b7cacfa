package graftbench

import graft.tree.{Criterion, LeafNode, SplitNode, TreeNode}

/** Driver-side exact decision tree with the repository's reference-tree
  * semantics (the `RefTree` test oracle), computed by sort-and-sweep so it
  * stays fast at benchmark sizes:
  *  - candidate thresholds are a feature's distinct values in the node,
  *    minus the largest;
  *  - gain = parent criterion - weighted child criterion, with entropy in
  *    log base 2 (0 log 0 := 0) or gini = 1 - sum p^2, in the same
  *    association order as the trainer's column expressions;
  *  - per feature the best is gain DESC then threshold ASC; across
  *    features gain DESC, feature name ASC, threshold ASC; a node stops on
  *    the depth cap or a best gain <= 0;
  *  - a leaf holds the majority class, the smallest class on ties.
  * Features hold no nulls here, so every row reaches exactly one child.
  */
object ExactReference {

  def criterion(counts: Array[Long], n: Long, crit: Criterion): Double = {
    val ps = counts.map(c => if (n == 0) 0.0 else c.toDouble / n.toDouble)
    crit match {
      case Criterion.Entropy =>
        -1.0 * ps.map(p => if (p > 0) p * (math.log(p) / math.log(2.0)) else 0.0).sum
      case Criterion.Gini =>
        1.0 - ps.map(p => p * p).sum
    }
  }

  /** @param features column-major feature values, one array per name
    * @param labels   class index of each row, into `classes` */
  def fit(
      names: IndexedSeq[String],
      features: IndexedSeq[Array[Double]],
      labels: Array[Int],
      classes: IndexedSeq[Int],
      crit: Criterion,
      maxDepth: Int
  ): TreeNode = {
    val k = classes.size

    val n = labels.length
    // every feature's row order, sorted once; a node sweeps it through a mask
    val order: IndexedSeq[Array[Int]] =
      features.map(v => (0 until n).sortBy(v(_)).toArray)

    def classCounts(idx: Array[Int]): Array[Long] = {
      val c = new Array[Long](k)
      idx.foreach(i => c(labels(i)) += 1)
      c
    }

    def majority(counts: Array[Long]): Int = classes(counts.indexOf(counts.max))

    // (gain, threshold, parent criterion) of one feature's best split
    def bestFor(f: Int, in: Array[Boolean], size: Int, counts: Array[Long])
        : Option[(Double, Double, Double)] = {
      val v = features(f)
      val sorted = new Array[Int](size)
      var j = 0
      order(f).foreach(i => if (in(i)) { sorted(j) = i; j += 1 })
      val total = size.toLong
      val parent = criterion(counts, total, crit)
      val cum = new Array[Long](k)
      val right = new Array[Long](k)
      var best: Option[(Double, Double, Double)] = None
      var i = 0
      while (i < sorted.length - 1) {
        cum(labels(sorted(i))) += 1
        val t = v(sorted(i))
        if (t != v(sorted(i + 1))) {
          val cumN = (i + 1).toLong
          var c = 0
          while (c < k) { right(c) = counts(c) - cum(c); c += 1 }
          val child = cumN.toDouble / total.toDouble * criterion(cum, cumN, crit) +
            (total - cumN).toDouble / total.toDouble * criterion(right, total - cumN, crit)
          val gain = parent - child
          // ascending sweep: a strictly larger gain wins, so ties keep the
          // smaller threshold
          if (!gain.isNaN && best.forall(_._1 < gain)) best = Some((gain, t, parent))
        }
        i += 1
      }
      best
    }

    def build(idx: Array[Int], depth: Int): TreeNode = {
      val counts = classCounts(idx)
      if (depth >= maxDepth) return LeafNode(majority(counts))
      val in = new Array[Boolean](n)
      idx.foreach(in(_) = true)
      val candidates = names.indices.flatMap(f => bestFor(f, in, idx.length, counts).map(b => (f, b)))
      if (candidates.isEmpty) return LeafNode(majority(counts))
      val (f, (gain, t, parent)) =
        candidates.minBy { case (f, (g, t, _)) => (-g, names(f), t) }
      if (gain <= 0) return LeafNode(majority(counts))
      val v = features(f)
      val (left, right) = idx.partition(v(_) <= t)
      SplitNode(names(f), t, gain, parent, counts.toSeq,
        build(left, depth + 1), build(right, depth + 1))
    }

    build(labels.indices.toArray, 0)
  }

  /** Same tree: identical shape, split features, thresholds, class
    * distributions and leaf values; gain and criterion equal to 1e-9
    * relative, since the trainer's log may differ from the driver's in the
    * last place. */
  def sameTree(a: TreeNode, b: TreeNode): Boolean = {
    def close(x: Double, y: Double): Boolean =
      x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    (a, b) match {
      case (LeafNode(x), LeafNode(y)) => x == y
      case (x: SplitNode, y: SplitNode) =>
        x.feature == y.feature && x.threshold == y.threshold &&
          x.targetDistribution == y.targetDistribution &&
          close(x.informationGain, y.informationGain) &&
          close(x.criterionValue, y.criterionValue) &&
          sameTree(x.left, y.left) && sameTree(x.right, y.right)
      case _ => false
    }
  }
}
