package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Ordinal target encoding for categorical feature columns.
  *
  * Fit: per category, mean of the target, sorted ascending; the category's
  * code is its rank (reference: efficient_trees/tree.py:93-108). The
  * reference's tie order on equal means is unspecified; we add a secondary
  * sort on the category's string rendering for determinism (documented
  * divergence, SURVEY.md §2.11).
  *
  * Apply: dictionary recode (reference: tree.py:67-77, `pl.col(c).replace`).
  * Small mappings become a codegen-friendly `when`-chain; large ones a
  * broadcast join against a 2-column mapping frame (the scale path — a
  * high-cardinality dictionary must not be serialized into the plan).
  * Unseen categories map to NULL, so at predict time the row falls out of
  * both split branches — mirroring Spark/Polars NULL-predicate semantics
  * (SURVEY.md §2.11 edge-case note).
  */
object TargetEncoder {

  /** Max mapping size inlined as a `when`-chain before switching to a
    * broadcast join. */
  val WhenChainThreshold = 128

  /** One aggregate job per column. Its <= #levels rows are sorted on the
    * driver in exactly Spark's `orderBy(avg.asc_nulls_last,
    * cast(c as string).asc)` order, which spares the range-partition
    * sampling jobs an `orderBy` runs: means ascending under
    * `SQLOrderingUtil.compareDoubles` (-0.0 == 0.0, NaN above every
    * number), null means last, then the category string, null first,
    * in UTF-8 byte order (`UTF8String.binaryCompare`, not `String.compareTo`,
    * which orders UTF-16 code units). */
  def fitMappings(
      df: DataFrame,
      categoricalColumns: Seq[String],
      targetName: String
  ): Map[String, Map[String, Int]] =
    categoricalColumns.map { c =>
      val rows = df
        .groupBy(col(c))
        .agg(avg(col(targetName).cast(DoubleType)).as("avg"))
        .select(col(c).cast(StringType), col("avg"))
        .collect()
        .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .sorted(SparkOrder)
      c -> rows.iterator.zipWithIndex.map { case ((k, _), i) => k -> i }.toMap
    }.toMap

  private object SparkOrder extends Ordering[(String, Option[Double])] {
    def compare(a: (String, Option[Double]), b: (String, Option[Double])): Int = {
      val byMean = (a._2, b._2) match {
        case (Some(x), Some(y)) => SQLOrderingUtil.compareDoubles(x, y)
        case (None, None)       => 0
        case (None, _)          => 1 // nulls last
        case (_, None)          => -1
      }
      if (byMean != 0) byMean
      else (a._1, b._1) match {
        case (null, null) => 0
        case (null, _)    => -1 // nulls first
        case (_, null)    => 1
        case (x, y)       => UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
      }
    }
  }

  private def recodeColumn(df: DataFrame, c: String, mapping: Map[String, Int],
      whenChainThreshold: Int): DataFrame =
    if (mapping.size <= whenChainThreshold) {
      val key = col(c).cast(StringType)
      val chain = mapping.toSeq.sortBy(_._2).foldLeft(Option.empty[Column]) {
        case (acc, (k, v)) =>
          val w = acc.map(_.when(key === lit(k), lit(v))).getOrElse(when(key === lit(k), lit(v)))
          Some(w)
      }
      df.withColumn(c, chain.map(_.otherwise(lit(null))).getOrElse(lit(null)).cast(IntegerType))
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      val mapDf = mapping.toSeq.toDF("__cat_key", "__cat_code")
      val joined = df
        .withColumn("__cat_join_key", col(c).cast(StringType))
        .join(broadcast(mapDf), col("__cat_join_key") === col("__cat_key"), "left")
      joined
        .withColumn(c, col("__cat_code").cast(IntegerType))
        .drop("__cat_join_key", "__cat_key", "__cat_code")
    }

  def applyMappings(df: DataFrame, mappings: Map[String, Map[String, Int]],
      whenChainThreshold: Int = WhenChainThreshold): DataFrame =
    mappings.foldLeft(df) { case (d, (c, m)) => recodeColumn(d, c, m, whenChainThreshold) }
}
