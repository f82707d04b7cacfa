package graft.tree

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Ordinal target encoding (reference: tree.py:67-77,93-108). */
class EncodeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def df = {
    // category -> target mean: c=0.0, a=0.5, b=1.0 -> codes c:0, a:1, b:2
    val rows = Seq(
      Row("a", 0), Row("a", 1), Row("b", 1), Row("b", 1), Row("c", 0), Row("c", 0))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("cat", StringType), StructField("target", IntegerType))))
  }

  test("fitMappings ranks categories by ascending target mean") {
    val m = TargetEncoder.fitMappings(df, Seq("cat"), "target")("cat")
    assert(m == Map("c" -> 0, "a" -> 1, "b" -> 2))
  }

  test("equal means tie-break on category string") {
    val rows = Seq(Row("z", 1), Row("y", 1), Row("x", 0))
    val d = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("cat", StringType), StructField("target", IntegerType))))
    val m = TargetEncoder.fitMappings(d, Seq("cat"), "target")("cat")
    assert(m == Map("x" -> 0, "y" -> 1, "z" -> 2)) // y before z on tied mean
  }

  test("fitMappings sorts like Spark's orderBy on adversarial keys and means") {
    import org.apache.spark.sql.functions.avg
    val smile = "\uD83D\uDE00" // U+1F600: below "\uFFFF" in UTF-16, above it in UTF-8
    val rows = Seq(
      Row("\uFFFF", 1.0), Row(smile, 1.0), Row(null, 1.0), // tied means, null key
      Row("b", 0.5), Row("a", 0.25), Row("a", 0.75),        // tied means
      Row("m", -0.0), Row("l", 0.0),                        // -0.0 ties 0.0
      Row("nan", Double.NaN), Row("nan", 1.0),              // NaN mean: above every number
      Row("nul", null), Row("z", 2.0))                      // null mean: last
    val d = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("cat", StringType), StructField("target", DoubleType))))
    // the yardstick: the query fitMappings replaced
    val viaOrderBy = d.groupBy(col("cat"))
      .agg(avg(col("target").cast(DoubleType)).as("avg"))
      .orderBy(col("avg").asc_nulls_last, col("cat").cast(StringType).asc)
      .select(col("cat").cast(StringType)).collect()
      .zipWithIndex.map { case (r, i) => r.getString(0) -> i }.toMap
    assert(smile.compareTo("\uFFFF") < 0 && viaOrderBy("\uFFFF") < viaOrderBy(smile),
      "fixture must order differently under String.compareTo and UTF-8 bytes")
    assert(viaOrderBy(null) < viaOrderBy("\uFFFF") && viaOrderBy("l") < viaOrderBy("m") &&
      viaOrderBy("z") < viaOrderBy("nan") && viaOrderBy("nan") < viaOrderBy("nul"))
    assert(TargetEncoder.fitMappings(d, Seq("cat"), "target")("cat") == viaOrderBy)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The broadcast-join recode as it shipped before the dictionary
    * kernel: a left join of `cast(c as string)` against a `(key, code)`
    * frame. */
  private def joinRecode(df: DataFrame, c: String, mapping: Map[String, Int]): DataFrame = {
    import spark.implicits._
    val mapDf = mapping.toSeq.toDF("__cat_key", "__cat_code")
    df.withColumn("__cat_join_key", col(c).cast(StringType))
      .join(broadcast(mapDf), col("__cat_join_key") === col("__cat_key"), "left")
      .withColumn(c, col("__cat_code").cast(IntegerType))
      .drop("__cat_join_key", "__cat_key", "__cat_code")
  }

  test("dictionary kernel equals the broadcast-join recode in both eval modes") {
    def frame(t: DataType, values: Seq[Any]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(
        values.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }, 3),
        StructType(Seq(StructField("id", LongType), StructField("cat", t))))
    val smile = "\uD83D\uDE00"
    val strings = frame(StringType, Seq("a", "b", "A", " a", "", "\u00e9", "e\u0301", "\u4e2d\u6587",
      smile, "\uFFFF", null, "zz", "k7", "k200", "a"))
    val ints = frame(IntegerType, Seq(1, 2, 3, -1, null, 99, 1))
    val doubles = frame(DoubleType, Seq(0.0, -0.0, Double.NaN, 1.5, null, Double.PositiveInfinity,
      Double.NegativeInfinity, 2.0))
    val small = Map("a" -> 0, "b" -> 1, "\u00e9" -> 2, "\u4e2d\u6587" -> 3, smile -> 4, "" -> 5,
      (null: String) -> 6, "A" -> 7, "\uFFFF" -> 8)
    val big = small ++ (0 until 300).map(i => s"k$i" -> (100 + i))
    val cases = Seq(
      ("strings, small mapping", strings, small),
      ("strings, 309 keys", strings, big),
      ("strings, empty mapping", strings, Map.empty[String, Int]),
      ("ints", ints, Map("1" -> 0, "-1" -> 1, "01" -> 2, (null: String) -> 3)),
      ("doubles", doubles, Map("0.0" -> 0, "NaN" -> 1, "1.5" -> 2, "Infinity" -> 3,
        (null: String) -> 4)),
      ("doubles, -0.0 key", doubles, Map("-0.0" -> 0, "2.0" -> 1)))
    assert(big.size > 128, "the large mapping must be above the old when-chain size")
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN");
         (what, df, m) <- cases) withConf("spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString) {
      val got = TargetEncoder.applyMappings(df, Map("cat" -> m))
      val ref = joinRecode(df, "cat", m)
      assert(got.schema.map(f => f.name -> f.dataType) == ref.schema.map(f => f.name -> f.dataType),
        s"$mode $what: ${got.schema} vs ${ref.schema}")
      def rows(d: DataFrame) = d.collect().map(r => r.getLong(0) -> r.get(1)).sortBy(_._1).toSeq
      assert(rows(got) == rows(ref), s"$mode $what")
    }
    // the fixture's edges, read off the reference: a NULL value misses a
    // NULL key, an unseen value and -0.0 against a "0.0" key miss, NaN hits
    def codes(df: DataFrame, m: Map[String, Int]): Seq[Any] =
      joinRecode(df, "cat", m).orderBy("id").collect().map(_.get(1)).toSeq
    assert(codes(strings, small) == Seq(0, 1, 7, null, 5, 2, null, 3, 4, 8, null, null, null,
      null, 0))
    assert(codes(doubles, cases(4)._3) == Seq(0, null, 1, 2, null, 3, null, null))
    assert(codes(doubles, cases(5)._3) == Seq(null, 0, null, null, null, null, null, 1))
  }

  test("fit with categoricalColumns learns on encoded values and records mappings") {
    val model = DecisionTreeClassifier(maxDepth = Some(2), categoricalColumns = Seq("cat"))
      .fit(df, "target")
    assert(model.categoricalMappings("cat") == Map("c" -> 0, "a" -> 1, "b" -> 2))
    // b (code 2) is all-1s, c (code 0) all-0s: tree must separate them.
    // predictMany recodes `cat` to its ordinal, so key on the code.
    val preds = Predict.predictMany(model, df)
      .select("cat", "prediction").collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(preds(2) == 1 && preds(0) == 0)
  }
}
