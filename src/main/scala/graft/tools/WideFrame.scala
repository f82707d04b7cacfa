package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** THE wide synthetic frame: lineitem's four numeric columns plus
  * `nDerived` arithmetic features, one flat select (a withColumn fold
  * costs O(width^2) driver re-analysis and nested Projects). Shared by
  * Bench.wideFit, WideHeapProbe and WideScalableFitSpec so the probe and
  * the spec run the exact workload the bench entry reports — a drifted
  * copy would silently invalidate them.
  *
  * `repartitionTo`: the testdata parquet is ONE row group (single scan
  * task); pass the parallelism when per-row work dominates (the
  * 190-wide fits), None to measure the raw scan shape.
  */
object WideFrame {
  val BaseCols: Seq[String] = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  def frame(
      spark: SparkSession,
      sfDir: String,
      nDerived: Int,
      repartitionTo: Option[Int]
  ): DataFrame = {
    val full = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select((BaseCols :+ "l_returnflag").map(col): _*)
    val base = repartitionTo.fold(full)(full.repartition)
    base.select(base.columns.map(col) ++
      (0 until nDerived).map(i =>
        (col(BaseCols(i % 4)) * (1.0 + i * 0.1) + i).as(s"f_$i")): _*)
  }
}
