package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** SemDeDup (Abbas et al. 2023) semantic dedup: cluster-pruned cosine.
  * Pins the exact-recall case (twins co-assigned), the cross-cell miss
  * the pruning accepts by construction, and both keep policies. */
class SemDedupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def emb(rows: (Long, Seq[Double])*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v) }, 2),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))

  test("cluster-pruned pairs equal brute force when twins co-assign") {
    // two well-separated clusters, one twin pair in each; centroids given
    // so the test pins assignment, not the sample trainer
    val d = emb(
      1L -> Seq(1.0, 0.0), 2L -> Seq(1.0, 0.01), // twins near centroid A
      3L -> Seq(0.9, 0.1),
      4L -> Seq(0.0, 1.0), 5L -> Seq(0.01, 1.0), // twins near centroid B
      6L -> Seq(0.1, 0.9))
    val cents = Some(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    val pruned = Similarity.semanticNearDupPairs(d, "vec_id", "embedding",
        threshold = 0.999, trainedCentroids = cents)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.cosineNearDupPairsBrute(d, "vec_id", "embedding", 0.999)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute == Set((1L, 2L), (4L, 5L)))
    assert(pruned == brute)
  }

  test("a near-dup pair straddling a cell boundary is missed by construction") {
    // centroids ARE the two near-identical vectors: each lands in its own
    // cell, so the pruned scorer never sees the pair brute force finds —
    // the recall trade the SemDeDup paper accepts
    val d = emb(1L -> Seq(1.0, 0.0), 2L -> Seq(1.0, 0.001))
    val cents = Some(Seq(Seq(1.0, 0.0), Seq(1.0, 0.001)))
    val brute = Similarity.cosineNearDupPairsBrute(d, "vec_id", "embedding", 0.999)
    assert(brute.count() == 1)
    val pruned = Similarity.semanticNearDupPairs(d, "vec_id", "embedding",
      threshold = 0.999, trainedCentroids = cents)
    assert(pruned.count() == 0)
  }

  test("banded within-cell candidates equal the plain within-cell scorer") {
    // same two-cluster fixture; 4 bands of 4 bits: near-identical
    // twins share a band (P(miss) ~ 4e-7), so the banded candidate path
    // must reproduce the full within-cell result exactly
    val d = emb(
      1L -> Seq(1.0, 0.0, 0.0, 0.0), 2L -> Seq(1.0, 0.001, 0.0, 0.0),
      3L -> Seq(0.0, 1.0, 0.0, 0.0), 4L -> Seq(0.001, 1.0, 0.0, 0.0),
      5L -> Seq(0.5, 0.5, 0.1, 0.0))
    val cents = Some(Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0)))
    def pairs(banded: Boolean) =
      Similarity.semanticNearDupPairs(d, "vec_id", "embedding", threshold = 0.999,
          trainedCentroids = cents,
          bandWithinCell = if (banded) Some((4, 4)) else None, dim = Some(4))
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pairs(banded = false)
    assert(plain == Set((1L, 2L), (3L, 4L)))
    assert(pairs(banded = true) == plain)
  }

  test("min-id policy keeps the smaller id; paper policy keeps the boundary member") {
    // one duplicate group {1, 2}: id 1 sits closer in angle to the
    // centroid than id 2, so keep-farthest-from-centroid keeps id 2
    // while the min-id greedy keeps id 1; id 3 is no one's duplicate
    val d = emb(1L -> Seq(1.0, 0.1), 2L -> Seq(1.0, 0.2), 3L -> Seq(0.0, 1.0))
    val cents = Some(Seq(Seq(1.0, 0.0)))
    def kept(paperPolicy: Boolean): Set[Long] =
      Similarity.semanticDedup(d, "vec_id", "embedding", threshold = 0.99,
          trainedCentroids = cents, keepLowCentroidCosine = paperPolicy)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept(paperPolicy = false) == Set(1L, 3L))
    assert(kept(paperPolicy = true) == Set(2L, 3L))
  }

  test("semanticDedup preserves the input schema") {
    val d = emb(1L -> Seq(1.0, 0.0), 2L -> Seq(1.0, 0.0001))
    val out = Similarity.semanticDedup(d, "vec_id", "embedding", threshold = 0.999,
      trainedCentroids = Some(Seq(Seq(1.0, 0.0))), keepLowCentroidCosine = true)
    assert(out.columns.toSeq == d.columns.toSeq)
  }
}
