package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.TestSpark

/** Property tests for the shingle-set pair family: on small random corpora
  * full of adversarial texts (null, "", whitespace-only, fewer than n
  * tokens, repeated tokens, exact twins, mixed case and whitespace), every
  * operator's output equals a driver-side brute force over all document
  * pairs, computed from an independent re-implementation of
  * [[Dedup.shingleSet]] that is itself pinned against the engine's sets.
  * The cluster labelings ([[Dedup.duplicateClusters]],
  * [[Communities.connectedComponents]]) equal a driver union-find's
  * component minima on generated graphs.
  */
class DedupPropertiesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def check(prop: Prop, minSuccessful: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minSuccessful).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  /** [[Dedup.shingleSet]] on the driver: Spark's `trim` strips only
    * spaces, `split` keeps leading/trailing empty tokens, and a text with
    * fewer than `n` (possibly empty) tokens is one whole-text gram. */
  private def shingles(text: String, n: Int): Set[String] = {
    val t = Option(text).getOrElse("").toLowerCase(java.util.Locale.ROOT)
      .dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    if (n <= 1) t.split("\\s+", -1).toSet
    else {
      val toks = t.replaceAll("\\s+", " ").split(" ", -1)
      if (toks.length < n) Set(toks.mkString(" "))
      else toks.sliding(n).filter(_.forall(_.nonEmpty)).map(_.mkString(" ")).toSet
    }
  }

  private val vocab = Seq("a", "b", "c", "d", "e", "A", "B")
  private val spaces = Seq(" ", " ", " ", "  ", "\t", "\n")

  /** (id, text) corpus: random token runs plus every adversarial shape. */
  private def corpus(rnd: scala.util.Random): Seq[(Long, String)] = {
    def ws() = spaces(rnd.nextInt(spaces.size))
    def words(k: Int) = {
      val body = (0 until k).map(_ => vocab(rnd.nextInt(vocab.size)) + ws()).mkString.dropRight(1)
      (if (rnd.nextInt(4) == 0) ws() else "") + body + (if (rnd.nextInt(4) == 0) ws() else "")
    }
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 8 + rnd.nextInt(10)).foreach { _ =>
      texts += (rnd.nextInt(9) match {
        case 0 => null
        case 1 => ""
        case 2 => Seq("   ", "\t", " \n ", " \t \n")(rnd.nextInt(4))
        case 3 => vocab(rnd.nextInt(vocab.size)) // fewer than n tokens
        case 4 => Seq.fill(2 + rnd.nextInt(4))(vocab(rnd.nextInt(2))).mkString(" ") // repeats
        case 5 if texts.nonEmpty => texts(rnd.nextInt(texts.size)) // exact twin
        case _ => words(2 + rnd.nextInt(6))
      })
    }
    texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong * 3 + rnd.nextInt(3), t) }
  }

  private def toDf(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, t) => Row(i, t) }, 2),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  private val caseGen: Gen[(Long, Int, Double)] = for {
    seed <- Gen.choose(0L, 100000L)
    n <- Gen.choose(1, 3)
    t <- Gen.oneOf(Gen.choose(0.05, 1.0), Gen.oneOf(0.5, 1.0 / 3, 2.0 / 3, 0.25, 1.0))
  } yield (seed, n, t)

  private def pairs3(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("shingle-set pair operators equal the all-pairs brute force on adversarial corpora") {
    check(Prop.forAllNoShrink(caseGen) { case (seed, n, t) =>
      val rnd = new scala.util.Random(seed)
      val docs = corpus(rnd)
      val df = toDf(docs)
      val at = s"seed=$seed n=$n t=$t docs=$docs"
      val sets = docs.map { case (id, text) => id -> shingles(text, n) }.toMap

      // the brute force's set semantics are the engine's
      val engineSets = df.select(col("doc_id"), Dedup.shingleSet(col("text"), n)).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      assert(engineSets == sets, s"shingle sets differ: $at")

      def common(a: Long, b: Long) = (sets(a) & sets(b)).size
      def jac(a: Long, b: Long) = {
        val c = common(a, b)
        c.toDouble / (sets(a).size + sets(b).size - c)
      }
      val ids = docs.map(_._1).sorted
      val sharing = for {
        a <- ids; b <- ids if a < b && common(a, b) > 0
      } yield (a, b)

      val jaccard = sharing.map { case (a, b) => (a, b, jac(a, b)) }.filter(_._3 >= t).toSet
      val noCap = docs.size.toLong // no shingle is in more docs than that
      for (maxDf <- Seq(None, Some(noCap)))
        assert(pairs3(Dedup.jaccardPairs(df, "doc_id", "text", n, t, maxDf)) == jaccard,
          s"jaccardPairs maxDf=$maxDf: $at")
      assert(pairs3(Dedup.jaccardPairsPrefix(df, "doc_id", "text", n, t)) == jaccard,
        s"jaccardPairsPrefix: $at")

      val containment = sharing.flatMap { case (a, b) =>
        Seq((a, b, common(a, b).toDouble / sets(a).size), (b, a, common(a, b).toDouble / sets(b).size))
      }.filter(_._3 >= t).toSet
      for (maxDf <- Seq(None, Some(noCap)))
        assert(pairs3(Dedup.containmentPairs(df, "doc_id", "text", n, t, maxDf)) == containment,
          s"containmentPairs maxDf=$maxDf: $at")

      // every LSH row is a true pair with its exact Jaccard; identical
      // non-empty sets share every band, so those pairs are never missed
      val lsh = pairs3(Dedup.minHashLshJaccardPairs(df, "doc_id", "text",
        numHashes = 16, shingleN = n, bands = 8, threshold = t))
      assert(lsh.subsetOf(jaccard), s"minHashLshJaccardPairs false positive: ${lsh -- jaccard}; $at")
      val identical = jaccard.filter(_._3 == 1.0)
      assert(identical.subsetOf(lsh), s"minHashLshJaccardPairs missed twins ${identical -- lsh}: $at")

      // batch vs corpus: overlapping random halves, ids shared on purpose
      val (batch, standing) = (docs.filter(_ => rnd.nextBoolean()), docs.filter(_ => rnd.nextBoolean()))
      val (batchDf, standingDf) = (toDf(batch), toDf(standing))
      val cross = for {
        (a, _) <- batch; (b, _) <- standing if common(a, b) > 0
      } yield (a, b)
      val against = cross.map { case (a, b) => (a, b, jac(a, b)) }.filter(_._3 >= t).toSet
      val viaText = pairs3(Dedup.jaccardPairsAgainst(batchDf, standingDf, "doc_id", "text", n, t))
      val viaIndex = pairs3(Dedup.jaccardPairsAgainstIndex(batchDf,
        Dedup.shingleIndex(standingDf, "doc_id", "text", n), "doc_id", "text", n, t))
      assert(viaText == against, s"jaccardPairsAgainst: $at")
      assert(viaIndex == against, s"jaccardPairsAgainstIndex: $at")

      val containAgainst = cross.map { case (a, b) =>
        (a, b, common(a, b).toDouble / sets(a).size, common(a, b).toDouble / sets(b).size)
      }.filter { case (_, _, cn, cc) => math.max(cn, cc) >= t }.toSet
      val gotContain = Dedup.containmentPairsAgainst(batchDf, standingDf, "doc_id", "text", n, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
      assert(gotContain == containAgainst, s"containmentPairsAgainst: $at")

      // duplication scores: docs with an empty set have no shingle rows
      val minDf = 2L + rnd.nextInt(2)
      val docFreq = sets.values.toSeq.flatten.groupBy(identity).map { case (s, v) => s -> v.size }
      val scores = sets.collect { case (id, s) if s.nonEmpty =>
        val dup = s.count(docFreq(_) >= minDf)
        val frac = BigDecimal(dup.toDouble / s.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, s.size.toLong, dup.toLong, frac)
      }.toSet
      val gotScores = Dedup.duplicationScores(df, "doc_id", "text", n, minDf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(gotScores == scores, s"duplicationScores minDf=$minDf: $at")
      true
    }, minSuccessful = 20)
  }

  /** Component minimum of every node of `pairs`, by union-find. */
  private def unionFindMinima(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    // union by minimum, so every root is its component's minimum
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** `(docs, pairs)`: components of every shape the contraction has to
    * collapse, over distinct random ids, with self-loops, duplicate and
    * reversed pairs mixed in, and docs outside the pair graph. */
  private def graph(rnd: scala.util.Random): (Seq[Long], Seq[(Long, Long)]) = {
    val ids = rnd.shuffle((1L to 400L).toVector).iterator
    def take(n: Int): IndexedSeq[Long] = IndexedSeq.fill(n)(ids.next())
    def chain(ns: IndexedSeq[Long]) = ns.zip(ns.tail)
    val comps = (0 until rnd.nextInt(6)).map { _ =>
      val n = 2 + rnd.nextInt(12)
      rnd.nextInt(5) match {
        case 0 => // a path walked in ascending id order ...
          val ns = take(n).sorted; chain(ns)
        case 1 => // ... and in descending order, the minimum at the far end
          val ns = take(n).sorted.reverse; chain(ns)
        case 2 => // a star centred on a node that is not the minimum
          val ns = take(math.max(n, 3)).sorted
          val centre = ns(1 + rnd.nextInt(ns.size - 1))
          ns.filter(_ != centre).map(leaf => if (rnd.nextBoolean()) (centre, leaf) else (leaf, centre))
        case 3 => // a clique
          val ns = take(math.min(n, 7))
          for (i <- ns.indices; j <- ns.indices if i < j) yield (ns(i), ns(j))
        case _ => // a random sparse graph: a random tree plus a few extra edges
          val ns = take(n)
          val tree = (1 until n).map(i => (ns(i), ns(rnd.nextInt(i))))
          tree ++ Seq.fill(rnd.nextInt(3))((ns(rnd.nextInt(n)), ns(rnd.nextInt(n))))
      }
    }
    val pairs = comps.flatten
    val noise = pairs.flatMap { case (a, b) =>
      rnd.nextInt(6) match {
        case 0 => Seq((b, a))        // reversed
        case 1 => Seq((a, b))        // duplicated
        case 2 => Seq((a, a))        // self-loop
        case _ => Nil
      }
    }
    val inGraph = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
    (rnd.shuffle(inGraph ++ take(rnd.nextInt(5))), rnd.shuffle(pairs ++ noise))
  }

  test("cluster labels equal a union-find component minimum on generated graphs") {
    import spark.implicits._
    check(Prop.forAllNoShrink(Gen.choose(0L, 100000L)) { seed =>
      val (docs, pairs) = graph(new scala.util.Random(seed))
      val at = s"seed=$seed docs=${docs.sorted} pairs=$pairs"
      val pairDf = spark.createDataFrame(
        spark.sparkContext.parallelize(pairs.map { case (a, b) => Row(a, b) }, 2),
        StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
      val minima = unionFindMinima(pairs)

      val clusters = Dedup.duplicateClusters(docs.toDF("doc_id"), "doc_id", pairDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      assert(clusters.size == docs.size, s"one row per doc: $at")
      assert(clusters.toMap == docs.map(d => d -> minima.getOrElse(d, d)).toMap,
        s"duplicateClusters: $at")

      // connectedComponents labels the nodes of its non-loop edges
      val edges = pairs.filter { case (a, b) => a != b }
      val components = Communities.connectedComponents(
          pairDf.select(col("id_a").as("src"), col("id_b").as("dst")), "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      assert(components.size == components.map(_._1).distinct.size, s"one row per node: $at")
      assert(components.toMap == unionFindMinima(edges), s"connectedComponents: $at")
      true
    }, minSuccessful = 25)
  }
}
