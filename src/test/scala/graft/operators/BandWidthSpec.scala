package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.StreamOps

/** LSH band widths: the auto-width rule is integer-exact, so its
  * boundaries are walked HERE in pure arithmetic at the 2^31-scale
  * corpus sizes no test corpus can reach; and every banded operator is
  * run past the old 62-bit single-long budget on planted twins. */
class BandWidthSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("autoRowsPerBand walks the old 62-bit boundary exactly (bands=2)") {
    // bands=2 reaches 31 bits per band (62 in total) at n = 16 * 2^31;
    // one vector more needs bit 32, a 64-bit total the operators now take
    assert(Similarity.autoRowsPerBand(16L << 31, bands = 2) == 31)
    assert(Similarity.autoRowsPerBand((16L << 31) + 1, bands = 2) == 32)
  }

  test("autoRowsPerBand matches the former packed auto width below the 62-bit boundary") {
    // the rule the kNN family sized its single-long signature with:
    // bands * min(62 / bands, max(4, needed)), floored at 16 total bits
    def formerNBits(n: Long, bands: Int): Int = {
      val needed = Iterator.from(0).find(b => (16L << b) >= n).get
      val floor16 = bands * math.min(62 / bands, math.max(4, (16 + bands - 1) / bands))
      math.max(bands * math.min(62 / bands, math.max(4, needed)), floor16)
    }
    for {
      bands <- Seq(2, 4)
      n <- Seq(1L, 100L, 256L, 257L, 5000L, 510000L, 16L << (62 / bands))
    } assert(Similarity.autoRowsPerBand(n, bands) * bands == formerNBits(n, bands),
      s"n=$n bands=$bands")
  }

  test("autoRowsPerBand keeps the occupancy pin past 16*2^31: one bit per corpus doubling") {
    val w1 = Similarity.autoRowsPerBand(16L << 40, bands = 2)
    val w2 = Similarity.autoRowsPerBand(16L << 41, bands = 2)
    assert(w1 == 40 && w2 == w1 + 1, s"got $w1 then $w2")
  }

  // 200 seeded gaussian 64-dim vectors plus 20 planted twins (ids
  // 1000+): every other element scaled by 1.02 / 0.98, cosine ~0.9998 to
  // the base; unrelated pairs stay far below 0.99
  private lazy val base = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (0L until 200L).map(i => (i, Seq.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }
  private lazy val twins = base.where(col("vec_id") < 20)
    .select((col("vec_id") + 1000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x * when(i % 2 === 0, lit(1.02)).otherwise(lit(0.98))).cast("float")).as("embedding"))
  private lazy val corpus = base.unionByName(twins)
  private val planted = (0L until 20L).map(i => (i, 1000L + i)).toSet

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  /** Twin pairs found as rank-1 kNN edges, either direction, as (base, twin). */
  private def rank1TwinEdges(edges: DataFrame): Set[(Long, Long)] =
    edges.where(col("rank") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .collect { case (a, b) if math.abs(a - b) == 1000L => (math.min(a, b), math.max(a, b)) }
      .toSet

  // bands=8 x rowsPerBand=8: a 64-bit total, past the single-long budget
  private val wide: Seq[(String, () => Set[(Long, Long)])] = Seq(
    "knnGraph" -> (() => rank1TwinEdges(Similarity.knnGraph(corpus, "vec_id",
      "embedding", k = 1, dim = 64, rowsPerBand = 8, bands = 8))),
    "knnGraphQuantized" -> (() => rank1TwinEdges(Similarity.knnGraphQuantized(corpus,
      "vec_id", "embedding", k = 1, dim = 64, rowsPerBand = 8, bands = 8))),
    "knnGraphIndex + knnGraphAgainstIndex" -> { () =>
      val (banding, payload, params) = Similarity.knnGraphIndex(base, "vec_id",
        "embedding", dim = 64, rowsPerBand = 8, bands = 8)
      rank1TwinEdges(Similarity.knnGraphAgainstIndex(banding, payload, params, twins,
        "vec_id", "embedding", k = 1, dim = 64, rowsPerBand = 8, bands = 8))
    },
    "cosineNearDupPairs" -> (() => pairs(Similarity.cosineNearDupPairs(corpus,
      "vec_id", "embedding", threshold = 0.99, dim = 64, rowsPerBand = 8, bands = 8))),
    "Decontamination.semanticPairs" -> (() => pairs(Decontamination.semanticPairs(
        twins, base, "vec_id", "embedding", threshold = 0.99, dim = 64,
        rowsPerBand = 8, bands = 8)
      .select(col("bench_id"), col("vec_id")))),
    "StreamOps.semanticDecontaminate" -> (() => pairs(StreamOps.semanticDecontaminate(
        twins, base, "vec_id", "embedding", threshold = 0.99, dim = 64,
        rowsPerBand = 8, bands = 8)
      .select(col("bench_id"), col("vec_id")))))

  test("the planted twins are the corpus's only pairs at cosine >= 0.99") {
    assert(pairs(Similarity.cosineNearDupPairsBrute(corpus, "vec_id", "embedding", 0.99))
      == planted)
  }

  for ((name, run) <- wide)
    test(s"$name takes a 64-bit total width (bands=8, rowsPerBand=8) and recalls planted twins") {
      val got = run()
      assert(got == planted, s"want exactly the planted twins, got $got")
    }
}
