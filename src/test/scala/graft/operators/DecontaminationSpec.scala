package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DecontaminationSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def docs(rows: (Long, String)*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, t) => Row(i, t) }, 2),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  test("flagContaminated counts distinct overlapping trigrams per corpus doc") {
    // bench doc holds "a b c d" -> trigrams {a b c, b c d}
    val bench = docs(100L -> "a b c d")
    val corpus = docs(
      1L -> "x a b c d y", // contains both bench trigrams (+ 4 clean)
      2L -> "a b x c d y", // shares no trigram
      3L -> "q r s t")     // fully clean
    val out = Decontamination.flagContaminated(corpus, bench, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1: 6 tokens -> 4 trigrams, 2 contaminated
    assert(out == Set((1L, 4L, 2L)))
  }

  test("ratio and threshold: minOverlap filters, ratio = matched / total") {
    val bench = docs(100L -> "a b c")
    val corpus = docs(1L -> "a b c", 2L -> "a b c x y z")
    val rows = Decontamination
      .flagContaminated(corpus, bench, "doc_id", "text", minOverlap = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(rows(1L) == 1.0)           // 1 trigram, 1 matched
    assert(rows(2L) == 0.25)          // 4 trigrams, 1 matched
    val strict = Decontamination
      .flagContaminated(corpus, bench, "doc_id", "text", minOverlap = 2)
      .collect()
    assert(strict.isEmpty, "no doc shares 2 trigrams with the bench set")
  }

  test("contaminationPairs attributes overlap to the right bench doc") {
    val bench = docs(100L -> "a b c d", 200L -> "p q r s")
    val corpus = docs(1L -> "a b c d and p q r", 2L -> "nothing shared here at all")
    val out = Decontamination.contaminationPairs(corpus, bench, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1 vs bench 100: {a b c, b c d}; vs bench 200: {p q r}
    assert(out == Set((1L, 100L, 2L), (1L, 200L, 1L)))
  }

  test("short docs collapse to one whole-text shingle, matching shingleSet") {
    val bench = docs(100L -> "hi there")   // < 3 tokens -> shingle "hi there"
    val corpus = docs(1L -> "hi there", 2L -> "well hi there friend")
    val out = Decontamination.flagContaminated(corpus, bench, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    // doc 2's trigrams never equal the 2-token bench shingle
    assert(out == Map(1L -> 1L))
  }

  test("benchmark side is broadcast — no corpus-side shuffle before the rollup") {
    val bench = docs(100L -> "a b c d")
    val corpus = docs((1L to 50L).map(i => i -> s"doc $i a b c d"): _*)
    val plan = Decontamination.flagContaminated(corpus, bench, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"benchmark join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not shuffle for the join:\n$plan")
  }

  // ---- semantic (embedding) decontamination -------------------------------

  private def vecs(rows: (Long, Seq[Double])*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v) }, 2),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))

  test("semanticPairs flags the planted paraphrase, skips the unrelated doc") {
    // corpus 1 = scaled copy of bench 100 (cosine exactly 1, identical
    // sign signature -> all bands collide); corpus 2 = sign-flipped
    // (cosine -1, complementary signature).
    val bench = vecs(100L -> Seq(0.3, -1.2, 0.7, 2.0))
    val corpus = vecs(
      1L -> Seq(0.6, -2.4, 1.4, 4.0),
      2L -> Seq(-0.3, 1.2, -0.7, -2.0))
    val out = Decontamination.semanticPairs(corpus, bench, "vec_id", "embedding",
        threshold = 0.9, dim = 4, rowsPerBand = 8, bands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(t => (t._1, t._2)).toSet == Set((1L, 100L)))
    assert(math.abs(out.head._3 - 1.0) < 1e-12)
  }

  test("semanticPairs: bucket-colliding pair below the threshold is dropped") {
    // all-positive vectors share every sign bit (guaranteed band
    // collision at any width) but cosine is well under 0.9
    val bench = vecs(100L -> Seq(1.0, 1.0, 1.0, 1.0))
    val corpus = vecs(1L -> Seq(1.0, 1.0, 1.0, 30.0))
    val cos = 33.0 / (2.0 * math.sqrt(903.0)) // ~0.549
    assert(cos < 0.9)
    val out = Decontamination.semanticPairs(corpus, bench, "vec_id", "embedding",
      threshold = 0.9, dim = 4, rowsPerBand = 8, bands = 2).collect()
    assert(out.isEmpty)
  }

  test("semanticFlag counts distinct contaminating bench docs per corpus doc") {
    // two identical bench rows (a question appearing in two eval suites)
    val v = Seq(0.3, -1.2, 0.7, 2.0)
    val bench = vecs(100L -> v, 200L -> v)
    val corpus = vecs(1L -> v.map(_ * 2.0), 2L -> v.map(x => -x))
    val out = Decontamination.semanticFlag(corpus, bench, "vec_id", "embedding",
        threshold = 0.9, dim = 4, rowsPerBand = 8, bands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 1)
    assert(out.head._1 == 1L && out.head._2 == 2L)
    assert(math.abs(out.head._3 - 1.0) < 1e-12)
  }

  test("semanticPairs output is contained in the brute-force threshold pairs") {
    val bench = vecs((0L until 8L).map(i =>
      (100L + i) -> (0 until 6).map(d => math.sin(i * 6 + d + 1.0))): _*)
    val corpus = vecs(
      (Seq(1L -> (0 until 6).map(d => math.sin(0 * 6 + d + 1.0) * 1.5)) ++
        (2L until 10L).map(i => i -> (0 until 6).map(d => math.cos(i * 13 + d * 7 + 0.5)))): _*)
    val got = Decontamination.semanticPairs(corpus, bench, "vec_id", "embedding",
        threshold = 0.9, dim = 6, rowsPerBand = 8, bands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute: every cross pair at cosine >= 0.9
    val bv = bench.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val cv = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val brute = (for {
      (ci, cvv) <- cv.toSeq; (bi, bvv) <- bv.toSeq if cos(cvv, bvv) >= 0.9
    } yield (ci, bi)).toSet
    assert(got.subsetOf(brute), s"semanticPairs must never invent a pair: $got vs $brute")
    // the planted scaled copy shares the full signature -> always recalled
    assert(got.contains((1L, 100L)))
  }

  test("semanticPairs: bench side broadcast, corpus never sort-merge joined") {
    val bench = vecs(100L -> Seq(0.3, -1.2, 0.7, 2.0))
    val corpus = vecs((1L to 30L).map(i =>
      i -> Seq(i * 0.1, -1.0, 0.5, 1.0 + i * 0.01)): _*)
    val plan = Decontamination.semanticPairs(corpus, bench, "vec_id", "embedding",
        threshold = 0.9, dim = 4, rowsPerBand = 8, bands = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"bench join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not re-key for the probe:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
