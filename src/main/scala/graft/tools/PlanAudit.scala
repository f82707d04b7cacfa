package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev audit: prints formatted plans for the load-bearing queries and
  * greps them for the properties that matter at 100 TB — parquet column
  * pruning (ReadSchema), predicate pushdown (PushedFilters), whole-stage
  * codegen coverage, exchange counts, and join strategies. Findings are
  * recorded in PLANS.md.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // audit-only: AQE's non-final AdaptiveSparkPlan hides codegen
      // annotations in formatted explain output
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def audit(name: String, df: DataFrame, expects: Seq[(String, String => Boolean)]): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // formatted mode lists each node once in the tree ("+- Exchange (n)")
      // and once in the details; count tree nodes only
      val exchanges = "- Exchange \\(".r.findAllIn(plan).size
      val codegen = "codegen id : (\\d+)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
      println(s"== $name: exchanges=$exchanges codegenSpans=$codegen")
      expects.foreach { case (label, check) =>
        println(s"   ${if (check(plan)) "PASS" else "FAIL"} $label")
      }
      if (sys.env.contains("PLAN_AUDIT_VERBOSE")) println(plan)
    }

    val q = graft.QueryCatalog.queries
    audit("split_partition_left (F2 pushdown)", q("split_partition_left")(spark, sfDir), Seq(
      "filter pushed to parquet" -> (_.contains(
        "PushedFilters: [IsNotNull(l_discount), LessThanOrEqual(l_discount,0.05)]")),
      "scan pruned to 4 columns" -> (p => p.contains("ReadSchema") &&
        !p.contains("l_partkey"))
    ))
    audit("split_histogram (melt+agg)", q("split_histogram")(spark, sfDir), Seq(
      "scan pruned to feature+target cols" -> (p => !p.contains("l_partkey") && !p.contains("l_shipdate")),
      "partial aggregation present" -> (_.contains("HashAggregate"))
    ))
    audit("predict_expr (when-chain scorer)", q("predict_expr")(spark, sfDir), Seq(
      "no shuffle before sort" -> (p => "Exchange".r.findAllIn(p).size <= 2),
      "case/when scorer projection is codegen'd" -> (_.contains("* Project"))
    ))
    audit("brute_force_topk", q("brute_force_topk")(spark, sfDir), Seq(
      "TakeOrderedAndProject (no global sort)" -> (_.contains("TakeOrderedAndProject"))
    ))
    audit("topk_for_queries (documented BNLJ)", q("topk_for_queries")(spark, sfDir), Seq(
      "broadcast nested loop as designed" -> (_.contains("BroadcastNestedLoopJoin"))
    ))
    audit("sessionize", q("sessionize")(spark, sfDir), Seq(
      "single user-keyed shuffle feeds windows AND rollup" ->
        (p => "Arguments: hashpartitioning".r.findAllIn(p).size == 1)
    ))
    audit("jaccard_pairs", q("jaccard_pairs")(spark, sfDir), Seq(
      "shuffle join on shingle (no cartesian)" -> (p => !p.contains("CartesianProduct"))
    ))
    audit("dedup_exact", q("dedup_exact")(spark, sfDir), Seq(
      "map-side combined hash agg" -> (_.contains("HashAggregate"))
    ))
    audit("batch_ann_topk (bucketed batch ANN)", q("batch_ann_topk")(spark, sfDir), Seq(
      "equi-join on bucket (hash join, NOT nested loop)" ->
        (p => p.contains("HashJoin") && !p.contains("BroadcastNestedLoopJoin"))
    ))
    audit("cum_counts_partitioned (declarative prefix sum)", q("cum_counts_partitioned")(spark, sfDir), Seq(
      "histogram shuffle computed once (ReusedExchange)" -> (_.contains("ReusedExchange")),
      "offsets broadcast back (no big-side shuffle join)" -> (_.contains("BroadcastHashJoin"))
    ))
    audit("embedding_neardup_lsh (banded md5 LSH)", q("embedding_neardup_lsh")(spark, sfDir), Seq(
      "band-bucket join (no cartesian)" -> (p => !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"))
    ))
    val enc = graft.tree.TargetEncoder.applyMappings(
      spark.read.parquet(s"$sfDir/lineitem.parquet"),
      Map("l_linestatus" -> (0 until 200).map(i => s"v$i" -> i).toMap))
    audit("target-encode apply, 200 categories", enc, Seq(
      "recode is one dictionary_code projection" -> (_.contains("dictionary_code(")),
      "no join and no exchange" -> (p => !p.contains("Join") && !p.contains("Exchange"))
    ))
    audit("asof_join (union-tag carry-forward)", q("asof_join")(spark, sfDir), Seq(
      "single Window node (struct payload carry)" ->
        (p => "- Window \\(".r.findAllIn(p).size == 1),
      "no range self-join" -> (p => !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"))
    ))
    audit("range_join (bin-bucketed containment)", q("range_join")(spark, sfDir), Seq(
      "equi-join on (key, bin), no cartesian" -> (p => p.contains("Join") &&
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    ))
    audit("pack_sequences (distributed prefix sum)", q("pack_sequences")(spark, sfDir), Seq(
      "no corpus-ordered unpartitioned window" ->
        (p => !p.contains("windowspecdefinition(doc_id"))
    ))
    audit("nation_revenue (multi-join OLAP)", q("nation_revenue")(spark, sfDir), Seq(
      "dimension broadcast" -> (_.contains("BroadcastHashJoin")),
      "fact filter pushed to parquet" -> (_.contains("GreaterThanOrEqual(l_quantity,25")),
      "no cartesian" -> (p => !p.contains("CartesianProduct"))
    ))
    spark.stop()
  }
}
