package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Similarity

/** The native banding kernel against the higher-order-function formula
  * it replaced, which stays here as the reference: per plane
  * `aggregate(zip_with(v, w, _*_), 0.0, _+_) >= 0`, a `raise_error` when
  * `zip_with` padded a NULL in, NULL vector -> NULL, empty vector -> the
  * flavor's degenerate bucket. Every comparison runs with the generated
  * code only and with the interpreted path only. */
class SignProjectionBucketsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def inBothModes(body: String => Unit): Unit =
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach { case (mode, wscg) =>
      withConf("spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> wscg)(body(mode))
    }

  /** The HOF banding as it shipped before the kernel. */
  private def reference(v: Column, weights: IndexedSeq[Double], bands: Int, rowsPerBand: Int,
      dim: Int, emptyBucket: Long): Column = {
    val x = transform(v, e => e.cast("double"))
    def bits(firstPlane: Int): Column = (0 until rowsPerBand).map { j =>
      val w = typedLit((0 until dim).map(i => weights((firstPlane + j) * dim + i)))
      val proj = aggregate(zip_with(x, w, (a, b) => a * b), lit(0.0d), (acc, y) => acc + y)
      val checked = when(proj.isNotNull, proj).otherwise(raise_error(concat(
        lit(s"reference: dim hint $dim does not match vector length "),
        size(x).cast("string"))).cast("double"))
      when(checked >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    when(v.isNull, lit(null).cast("array<bigint>"))
      .when(size(x) === 0, array(Seq.fill(bands)(lit(emptyBucket)): _*))
      .otherwise(array((0 until bands).map(b => bits(b * rowsPerBand)): _*))
  }

  private def kernel(v: Column, weights: IndexedSeq[Double], bands: Int, rowsPerBand: Int,
      dim: Int, emptyBucket: Long): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(SignProjectionBuckets(ColumnBridge.expression(v.cast("array<double>")),
      weights, bands, rowsPerBand, dim, emptyBucket, "kernel"))
  }

  private def weightsFor(planes: Int, dim: Int, seed: Int): IndexedSeq[Double] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.fill(planes * dim)(rnd.nextDouble() * 2 - 1)
  }

  private val Dim = 6

  /** Finite vectors plus every edge the sign must agree on. */
  private def vectors: Seq[Seq[java.lang.Double]] = {
    val rnd = new scala.util.Random(5)
    def box(xs: Double*): Seq[java.lang.Double] = xs.map(java.lang.Double.valueOf)
    Seq.fill(40)(box(Seq.fill(Dim)(rnd.nextGaussian()): _*)) ++ Seq(
      box(Double.NaN, 1, 2, 3, 4, 5),
      box(Double.PositiveInfinity, 1, 2, 3, 4, 5),
      box(Double.NegativeInfinity, -1, 2, 3, 4, 5),
      box(Double.PositiveInfinity, Double.NegativeInfinity, 0, 0, 0, 0),
      box(Seq.fill(Dim)(-0.0): _*),
      box(-0.0, 0.0, -0.0, 0.0, -0.0, 0.0),
      box(Seq.fill(Dim)(0.0): _*),
      box(Seq.fill(Dim)(1e308): _*),                  // sums overflow to +-Inf
      box(1e308, -1e308, 1e308, -1e308, 1e308, -1e308), // and to Inf - Inf = NaN
      box(Double.MinPositiveValue, -Double.MinPositiveValue, 0, 0, 0, 0),
      null,
      Seq.empty)
  }

  private def frame(elem: DataType): DataFrame = {
    val rows = vectors.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, if (v == null) null
        else if (elem == FloatType) v.map(d => java.lang.Float.valueOf(d.floatValue()))
        else v)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("id", LongType), StructField("v", ArrayType(elem)))))
  }

  private def buckets(r: Row, i: Int): Option[Seq[Long]] =
    if (r.isNullAt(i)) None else Some(r.getSeq[Long](i))

  private def assertAgrees(df: DataFrame, bands: Int, rowsPerBand: Int, emptyBucket: Long,
      what: String): Unit = {
    val w = weightsFor(bands * rowsPerBand, Dim, seed = bands * 100 + rowsPerBand)
    val rows = df.select(col("id"),
      kernel(col("v"), w, bands, rowsPerBand, Dim, emptyBucket).as("fast"),
      reference(col("v"), w, bands, rowsPerBand, Dim, emptyBucket).as("ref")).collect()
    assert(rows.length == vectors.length)
    rows.foreach { r =>
      assert(buckets(r, 1) == buckets(r, 2), s"$what: row ${r.getLong(0)}")
    }
    val byId = rows.map(r => r.getLong(0) -> buckets(r, 1)).toMap
    assert(byId(vectors.indexOf(null).toLong).isEmpty, s"$what: NULL vector")
    assert(byId(vectors.indexOf(Seq.empty).toLong).contains(Seq.fill(bands)(emptyBucket)),
      s"$what: empty vector")
    val zeros = vectors.indexOf(vectors.find(v => v != null && v.nonEmpty &&
      v.forall(_ == 0.0)).get).toLong
    assert(byId(zeros).contains(Seq.fill(bands)((1L << rowsPerBand) - 1)),
      s"$what: a zero projection sets every bit")
  }

  for ((bands, rpb) <- Seq(1 -> 62, 8 -> 5, 4 -> 8); elem <- Seq(DoubleType, FloatType))
    test(s"bands=$bands rowsPerBand=$rpb, ${elem.simpleString} elements: " +
        "bit-identical to the HOF formula") {
      inBothModes { mode =>
        assertAgrees(frame(elem), bands, rpb, emptyBucket = 0L, s"$mode ${elem.simpleString}")
        assertAgrees(frame(elem), bands, rpb, emptyBucket = -1L, s"$mode empty=-1")
      }
    }

  test("a NaN projection sets the bit, as Spark's >= orders NaN above 0") {
    val one = IndexedSeq.fill(Dim)(1.0)
    inBothModes { mode =>
      val nan = frame(DoubleType).where(col("id") === vectors.indexWhere(
        v => v != null && v.nonEmpty && v.head.isNaN))
        .select(kernel(col("v"), one, 1, 1, Dim, 0L)).head().getSeq[Long](0)
      assert(nan == Seq(1L), mode)
    }
  }

  test("wrong length and null elements fail loudly with the dim hint") {
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val w = weightsFor(4, Dim, seed = 1)
    val bad = Seq[Seq[java.lang.Double]](
      Seq(1.0, 2.0).map(java.lang.Double.valueOf),
      Seq.fill(Dim + 1)(java.lang.Double.valueOf(1.0)),
      Seq[java.lang.Double](1.0, null, 3.0, 4.0, 5.0, 6.0))
    inBothModes { mode =>
      for (v <- bad; elem <- Seq(DoubleType, FloatType)) {
        val vals = if (elem == FloatType) v.map(d => if (d == null) null
          else java.lang.Float.valueOf(d.floatValue())) else v
        val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(vals)), 1),
          StructType(Seq(StructField("v", ArrayType(elem)))))
        val e = intercept[Exception](df.select(kernel(col("v"), w, 2, 2, Dim, 0L)).collect())
        assert(chain(e).contains("kernel: ") && chain(e).contains("dim hint"),
          s"$mode ${elem.simpleString} $v: ${chain(e)}")
        assert(chain(e).contains("USER_RAISED_EXCEPTION"), s"raise_error's class: ${chain(e)}")
      }
    }
  }

  /** Similarity's md5 plane component, copied: pins the kernel's
    * plane-major weight layout through the public banding. */
  private def md5Component(plane: Int, dim: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${plane}_$dim".getBytes("UTF-8"))
    val hex = digest.map(b => f"$b%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16).toDouble / (1L << 59).toDouble - 1.0
  }

  test("bandBuckets and lshSignatureMd5 equal the HOF formula over md5 planes") {
    for ((bands, rpb) <- Seq(1 -> 62, 8 -> 5)) {
      val w = for (p <- 0 until bands * rpb; i <- 0 until Dim) yield md5Component(p, i)
      inBothModes { mode =>
        val rows = frame(FloatType).select(col("id"),
          Similarity.bandBuckets(col("v"), bands, rpb, Dim).as("fast"),
          reference(col("v"), w, bands, rpb, Dim, 0L).as("ref"),
          Similarity.lshSignatureMd5(col("v"), rpb, Dim).as("sig")).collect()
        rows.foreach { r =>
          assert(buckets(r, 1) == buckets(r, 2), s"$mode bands=$bands row ${r.getLong(0)}")
          val sig = if (r.isNullAt(3)) None else Some(r.getLong(3))
          assert(sig == buckets(r, 2).map(_.head), s"$mode signature row ${r.getLong(0)}")
        }
      }
    }
  }
}
