package graft.functions

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Similarity

/** The two native SQ8 kernels against the formulas they replaced, which
  * stay here as the reference:
  *   - [[Sq8Stats]] against `df.count()` plus the posexplode ->
  *     groupBy(pos) min/max -> collect_list -> array_sort -> transform
  *     params pipeline and its `raise_error` dim check;
  *   - [[Sq8Codes]] against the per-element `transform` encode lambda.
  * Every comparison runs with the generated code only and with the
  * interpreted path only. */
class Sq8KernelsSpec extends AnyFunSuite {

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

  // ---- the reference formulas, as they shipped before the kernels ----

  private def refParams(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val checked = when(col(vecCol).isNull, lit(null).cast("array<double>"))
      .when(size(col(vecCol)) === dim, col(vecCol).cast("array<double>"))
      .otherwise(raise_error(concat(
        lit(s"sq8Params: expected dim=$dim vectors, got size="),
        size(col(vecCol)).cast("string"))))
    df.select(posexplode(checked).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mn"), col("mx")))).as("pm"))
      .select(
        transform(col("pm"), s => s.getField("mn")).as("mins"),
        transform(col("pm"), s => s.getField("mx") - s.getField("mn")).as("widths"))
  }

  private def refCode(x: Column, i: Column, mins: Column, widths: Column): Column = {
    val mn = element_at(mins, i + 1)
    val wd = element_at(widths, i + 1)
    when(wd === 0.0, lit(0)).otherwise(
      least(lit(255.0), greatest(lit(0.0),
        floor((x.cast("double") - mn) / wd * lit(255.0) + lit(0.5)))).cast("int"))
  }

  private def refCodes(v: Column, mins: Column, widths: Column, shifted: Boolean): Column =
    if (shifted) transform(v, (x, i) => (refCode(x, i, mins, widths) - lit(128)).cast("tinyint"))
    else transform(v, (x, i) => refCode(x, i, mins, widths))

  // ---- the kernels ----

  private def stats(df: DataFrame, dim: Int): Row =
    df.select(ColumnBridge.column(Sq8Stats(
      ColumnBridge.expression(col("v").cast("array<double>")), dim).toAggregateExpression())
      .as("s")).select("s.*").head()

  private def codes(v: Column, mins: Column, widths: Column, shifted: Boolean): Column =
    ColumnBridge.column(Sq8Codes(ColumnBridge.expression(v.cast("array<double>")),
      ColumnBridge.expression(mins), ColumnBridge.expression(widths), shifted))

  // ---- data ----

  private val Dim = 5

  private def box(xs: Any*): Seq[java.lang.Double] = xs.map {
    case null => null
    case d: Double => java.lang.Double.valueOf(d)
    case i: Int => java.lang.Double.valueOf(i.toDouble)
  }

  /** Dimension 0 holds a NaN, 1 a +Inf, 2 a -Inf, 3 only signed zeros and
    * 4 a constant; plus NULL vectors and a null element. */
  private def corpus: Seq[Seq[java.lang.Double]] = {
    val rnd = new scala.util.Random(9)
    def g = rnd.nextGaussian()
    val zeros = Seq(-0.0, 0.0)
    Seq.fill(30)(box(g, g, g, zeros(rnd.nextInt(2)), 3.25)) ++ Seq(
      box(Double.NaN, g, g, -0.0, 3.25),
      box(g, Double.PositiveInfinity, g, 0.0, 3.25),
      box(g, g, Double.NegativeInfinity, -0.0, 3.25),
      box(g, null, g, 0.0, 3.25),
      null, null)
  }

  private def frame(vectors: Seq[Seq[java.lang.Double]], elem: DataType,
      partitions: Int = 3): DataFrame = {
    val rows = vectors.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, if (v == null) null
        else if (elem == FloatType) v.map(d => if (d == null) null
          else java.lang.Float.valueOf(d.floatValue()))
        else v)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions),
      StructType(Seq(StructField("id", LongType), StructField("v", ArrayType(elem)))))
  }

  /** SQL equality per element: NaN equals NaN and -0.0 equals 0.0 (which
    * of two tied zeros a min/max keeps depends on the merge order). */
  private def sqlEqual(a: Seq[Any], b: Seq[Any]): Boolean =
    a.length == b.length && a.zip(b).forall {
      case (null, null) => true
      case (x: Double, y: Double) => SQLOrderingUtil.compareDoubles(x, y) == 0
      case _ => false
    }

  private def assertStatsAgree(df: DataFrame, dim: Int, what: String): Row = {
    val fast = stats(df, dim)
    val ref = refParams(df, "v", dim).head()
    assert(fast.getLong(0) == df.count(), s"$what: row count")
    for (i <- 0 to 1)
      assert(sqlEqual(fast.getSeq[Any](i + 1), ref.getSeq[Any](i)),
        s"$what: ${ref.schema(i).name} ${fast.getSeq[Any](i + 1)} vs ${ref.getSeq[Any](i)}")
    fast
  }

  /** The condition and message of the deepest Spark error in the chain. */
  private def errorOf(body: => Any): (String, String) = {
    val e = intercept[Exception](body)
    val deepest = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collect { case t: SparkThrowable => t }.toSeq.last
    (deepest.getCondition, deepest.asInstanceOf[Throwable].getMessage)
  }

  // ---- stats ----

  for (elem <- Seq(DoubleType, FloatType))
    test(s"stats: count, mins and widths equal the reference, ${elem.simpleString} elements") {
      inBothModes { mode =>
        val fast = assertStatsAgree(frame(corpus, elem), Dim, s"$mode ${elem.simpleString}")
        val mins = fast.getSeq[Double](1)
        val widths = fast.getSeq[Double](2)
        assert(widths(0).isNaN, "NaN is the largest value: the max is NaN")
        assert(!mins(0).isNaN, "and the min is not")
        assert(widths(1).isPosInfinity && mins(2).isNegInfinity && widths(2).isPosInfinity)
        assert(mins(3) == 0.0 && widths(3) == 0.0, "signed zeros tie")
        assert(mins(4) == 3.25 && widths(4) == 0.0, "a constant dimension has width 0")
      }
    }

  test("stats: empty and all-null inputs give empty params; a value-less dimension is null") {
    inBothModes { mode =>
      for ((vectors, n) <- Seq(Seq.empty -> 0L, Seq(null, null, null) -> 3L)) {
        val fast = assertStatsAgree(frame(vectors, DoubleType), Dim, s"$mode $n rows")
        assert(fast == Row(n, Seq.empty, Seq.empty), s"$mode: empty arrays, not null")
      }
      val holes = Seq(box(1, null, 2, 3, 4), box(5, null, -6, 7, 8), null)
      val fast = assertStatsAgree(frame(holes, FloatType), Dim, s"$mode value-less")
      assert(fast == Row(3L, Seq(1.0, null, -6.0, 3.0, 4.0), Seq(4.0, null, 8.0, 4.0, 4.0)))
    }
  }

  test("stats: a ragged or empty vector fails with the reference's class and message") {
    inBothModes { mode =>
      for (bad <- Seq(box(1, 2), Seq.empty, box(1, 2, 3, 4, 5, 6)); elem <- Seq(DoubleType, FloatType)) {
        val df = frame(corpus.take(4) :+ bad, elem)
        val fast = errorOf(stats(df, Dim))
        assert(fast == errorOf(refParams(df, "v", Dim).collect()), s"$mode $bad")
        assert(fast._1 == "USER_RAISED_EXCEPTION" &&
          fast._2.contains(s"sq8Params: expected dim=$Dim vectors, got size=${bad.size}"),
          s"$mode $bad: $fast")
        assert(errorOf(Similarity.sq8Params(df, "v", Dim).collect()) == fast, s"$mode $bad")
      }
    }
  }

  test("stats: sq8Params is its projection, with the reference's schema") {
    inBothModes { mode =>
      val df = frame(corpus, FloatType)
      val fast = Similarity.sq8Params(df, "v", Dim)
      val ref = refParams(df, "v", Dim)
      assert(fast.schema == ref.schema, mode)
      val (f, r) = (fast.head(), ref.head())
      assert(sqlEqual(f.getSeq[Any](0), r.getSeq[Any](0)) &&
        sqlEqual(f.getSeq[Any](1), r.getSeq[Any](1)), s"$mode: $f vs $r")
    }
  }

  // ---- encode ----

  /** Params rows: finite with a zero and a -0.0 width; non-finite and null
    * elements; NULL arrays; longer than the vectors. */
  private def params: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] = Seq(
    box(-1, -2, 0, 3.25, -0.5) -> box(2, 4, 0, -0.0, 1e-3),
    box(Double.NaN, Double.NegativeInfinity, 0, null, 1) ->
      box(1, Double.PositiveInfinity, Double.NaN, 1, null),
    (null, null),
    box(-1, -1, -1, -1, -1, -1, -1) -> box(2, 2, 2, 2, 2, 2, 2))

  private def vectors: Seq[Seq[java.lang.Double]] = {
    val rnd = new scala.util.Random(3)
    Seq.fill(20)(box(Seq.fill(Dim)(rnd.nextGaussian() * 2): _*)) ++ Seq(
      box(Double.NaN, 1, Double.PositiveInfinity, Double.NegativeInfinity, 0),
      box(-0.0, -0.0, -0.0, -0.0, -0.0),
      box(0, 0, 0, 0, 0),
      box(1e308, -1e308, 1e300, -1e300, 5),
      box(-1, -2, 0, 3.25, -0.5),
      box(1, -2, 4, 3.25, 0.4995),
      box(1, null, 3, null, 5),
      null,
      Seq.empty)
  }

  private def encodeFrame(elem: DataType, ps: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])])
      : DataFrame = {
    val v = frame(vectors, elem)
    val p = spark.createDataFrame(spark.sparkContext.parallelize(
        ps.zipWithIndex.map { case ((m, w), i) => Row(i, m, w) }, 1),
      StructType(Seq(StructField("p", IntegerType),
        StructField("mins", ArrayType(DoubleType)), StructField("widths", ArrayType(DoubleType)))))
    v.crossJoin(p)
  }

  for (elem <- Seq(DoubleType, FloatType); shifted <- Seq(false, true))
    test(s"encode: ${if (shifted) "1-byte" else "int"} codes equal the transform lambda, " +
        s"${elem.simpleString} elements") {
      inBothModes { mode =>
        val out = encodeFrame(elem, params).select(col("id"), col("p"),
          codes(col("v"), col("mins"), col("widths"), shifted).as("fast"),
          refCodes(col("v"), col("mins"), col("widths"), shifted).as("ref"))
        assert(out.schema("fast").dataType == out.schema("ref").dataType, mode)
        val rows = out.collect()
        assert(rows.length == vectors.length * params.length)
        rows.foreach(r => assert(r.get(2) == r.get(3),
          s"$mode vector ${r.getLong(0)} params ${r.getInt(1)}: ${r.get(2)} vs ${r.get(3)}"))
        val nullVector = vectors.indexOf(null).toLong
        assert(rows.filter(_.getLong(0) == nullVector).forall(_.isNullAt(2)), "NULL vector")
      }
    }

  test("encode: the literal params of the kNN path agree too") {
    val (m, w) = params.head
    inBothModes { mode =>
      val rows = frame(vectors, FloatType).select(
        codes(col("v"), typedLit(m.map(_.doubleValue)), typedLit(w.map(_.doubleValue)),
          shifted = true),
        refCodes(col("v"), typedLit(m.map(_.doubleValue)), typedLit(w.map(_.doubleValue)),
          shifted = true)).collect()
      rows.foreach(r => assert(r.get(0) == r.get(1), s"$mode: ${r.get(0)} vs ${r.get(1)}"))
    }
  }

  test("encode: params shorter than the vector fail as element_at does under ANSI, " +
      "and code 0 without it") {
    val short = Seq(box(-1, -1, -1) -> box(2, 2, 2))
    inBothModes { mode =>
      withConf("spark.sql.ansi.enabled" -> "true") {
        val df = encodeFrame(DoubleType, short).where(col("id") === 0L)
        val fast = errorOf(df.select(codes(col("v"), col("mins"), col("widths"), false)).collect())
        val ref = errorOf(df.select(refCodes(col("v"), col("mins"), col("widths"), false)).collect())
        assert(fast._1 == "INVALID_ARRAY_INDEX_IN_ELEMENT_AT" && fast._1 == ref._1,
          s"$mode: $fast vs $ref")
      }
      withConf("spark.sql.ansi.enabled" -> "false") {
        val rows = encodeFrame(DoubleType, short).select(
          codes(col("v"), col("mins"), col("widths"), false),
          refCodes(col("v"), col("mins"), col("widths"), false)).collect()
        rows.foreach(r => assert(r.get(0) == r.get(1), s"$mode: ${r.get(0)} vs ${r.get(1)}"))
      }
    }
  }
}
