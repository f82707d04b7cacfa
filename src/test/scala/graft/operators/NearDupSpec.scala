package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class NearDupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def emb(rows: (Long, Seq[Double])*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v) }, 2),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))

  // three clusters: 1~2 near-identical, 3~4 near-identical, 5 isolated
  private def corpus = {
    val rnd = new scala.util.Random(3)
    def jitter(v: Seq[Double], eps: Double) = v.map(_ + rnd.nextGaussian() * eps)
    val a = Seq.fill(32)(rnd.nextGaussian())
    val b = Seq.fill(32)(rnd.nextGaussian())
    emb(1L -> a, 2L -> jitter(a, 0.01), 3L -> b, 4L -> jitter(b, 0.01),
      5L -> Seq.fill(32)(rnd.nextGaussian()))
  }

  test("brute-force cosine near-dup finds exactly the planted pairs") {
    val pairs = Similarity.cosineNearDupPairsBrute(corpus, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)))
  }

  test("banded LSH near-dup recalls the planted pairs without all-pairs work") {
    val pairs = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding", 0.95,
      dim = 32, rowsPerBand = 4, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)))
  }

  test("LSH pairs are a subset of brute pairs with matching cosines (on testdata)") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(org.apache.spark.sql.functions.col("vec_id") < 200)
    val brute = Similarity.cosineNearDupPairsBrute(real, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.cosineNearDupPairs(real, "vec_id", "embedding", 0.3,
      dim = 64, rowsPerBand = 2, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.keySet.subsetOf(brute.keySet))
    lsh.foreach { case (k, c) => assert(c == brute(k)) } // exact same cosine
    assert(lsh.nonEmpty)
  }

  test("dropDuplicatePairs keeps cluster minima and isolated docs") {
    val docsDf = spark.createDataFrame(
      spark.sparkContext.parallelize((1L to 5L).map(i => Row(i, s"doc $i")), 2),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val pairs = Similarity.cosineNearDupPairsBrute(corpus, "vec_id", "embedding", 0.95)
      .withColumnRenamed("id_a", "keep").withColumnRenamed("id_b", "id_b")
    val kept = Dedup.dropDuplicatePairs(docsDf, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L))
  }
}
