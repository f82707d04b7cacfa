package graft.tree

import org.apache.spark.sql.Row
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
    import org.apache.spark.sql.functions.{avg, col}
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

  test("when-chain and broadcast-join recode paths agree; unseen -> null") {
    val m = Map("cat" -> TargetEncoder.fitMappings(df, Seq("cat"), "target")("cat"))
    val withUnseen = df.union(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("zz", 9))), df.schema))
    val viaChain = TargetEncoder.applyMappings(withUnseen, m, whenChainThreshold = 100)
      .collect().map(r => (r.get(0), r.getInt(1)))
    val viaJoin = TargetEncoder.applyMappings(withUnseen, m, whenChainThreshold = 0)
      .collect().map(r => (r.get(0), r.getInt(1)))
    assert(viaChain.sortBy(_._2.toString).toSeq == viaJoin.sortBy(_._2.toString).toSeq)
    assert(viaChain.count(_._1 == null) == 1) // the unseen 'zz' row
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
