package graft.tree

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.DictionaryCode

/** Ordinal target encoding for categorical feature columns.
  *
  * Fit: per category, mean of the target, sorted ascending; the category's
  * code is its rank (reference: efficient_trees/tree.py:93-108). The
  * reference's tie order on equal means is unspecified; we add a secondary
  * sort on the category's string rendering for determinism (documented
  * divergence, SURVEY.md §2.11).
  *
  * Apply: dictionary recode (reference: tree.py:67-77, `pl.col(c).replace`),
  * one projection per column: the native [[graft.functions.DictionaryCode]]
  * maps `cast(c as string)` to its code, whatever the mapping's size. The
  * trade: the dictionary travels in the task binary, which Spark
  * broadcasts once per stage, instead of as a broadcast relation built by
  * a job of its own. Unseen categories (and a NULL value) map to NULL, so
  * at predict time the row falls out of both split branches — mirroring
  * Spark/Polars NULL-predicate semantics (SURVEY.md §2.11 edge-case note).
  */
object TargetEncoder {

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

  private def recodeColumn(df: DataFrame, c: String, mapping: Map[String, Int]): DataFrame =
    df.withColumn(c, ColumnBridge.column(DictionaryCode(
      ColumnBridge.expression(col(c).cast(StringType)), new DictionaryCode.Dictionary(mapping))))

  def applyMappings(df: DataFrame, mappings: Map[String, Map[String, Int]]): DataFrame =
    mappings.foldLeft(df) { case (d, (c, m)) => recodeColumn(d, c, m) }
}
