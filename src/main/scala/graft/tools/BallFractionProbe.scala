package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev probe (r18 ADVICE #5): the measured ball fraction behind each
  * `_incremental_auto` catalog entry's dispatch, per sf dir — the
  * oracles hardcode the branch (FULL for the semantic expander, LOCAL
  * for the bounded dup components), so the fraction's distance from the
  * 0.5 line at every GATED sf is what makes that hardcoding safe. A
  * future flip in these numbers is dispatch drift (data/shape change),
  * not an operator bug; the catalog comments carry the receipts.
  *
  * The expansion replayed here uses reachability only (duplicate edges
  * don't change a ball), so it equals the front door's measured
  * fraction without touching its private machinery.
  *
  * Usage: sbt "runMain graft.tools.BallFractionProbe [sfDir ...]"
  */
object BallFractionProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-ballprobe-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    /** ball(dirty, hops) over standing ∪ batch adjacency vs total nodes. */
    def fraction(standingPairs: DataFrame, batchPairs: DataFrame,
        hops: Int): (Long, Long, Double) = {
      val sp = standingPairs.toDF("a", "b").localCheckpoint(true)
      val bp = batchPairs.toDF("a", "b").localCheckpoint(true)
      val standingNodes = sp.select(col("a").as("node"))
        .union(sp.select(col("b").as("node"))).distinct()
      val batchNodes = bp.select(col("a").as("node"))
        .union(bp.select(col("b").as("node"))).distinct()
      val adj = sp.unionByName(bp)
        .select(col("a").as("node"), col("b").as("nbr"))
        .union(sp.unionByName(bp).select(col("b").as("node"), col("a").as("nbr")))
        .union(standingNodes.union(batchNodes).distinct()
          .select(col("node"), col("node").as("nbr")))
        .localCheckpoint(true)
      val total = standingNodes.count() +
        batchNodes.join(standingNodes, Seq("node"), "left_anti").count()
      var ball = batchNodes.localCheckpoint(true)
      for (_ <- 1 to hops)
        ball = adj.join(broadcast(ball.select(col("node").as("nbr"))), Seq("nbr"))
          .select("node").distinct().localCheckpoint(true)
      val b = ball.count()
      (b, total, b.toDouble / total)
    }

    dirs.foreach { dir =>
      // dup-cluster family: standing = doc_id >= 50 jaccard pairs,
      // batch = doc_id < 50 probe + within pairs, hops = 2
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val standing = graft.operators.Dedup.jaccardPairs(
          docs.where(col("doc_id") >= 50), "doc_id", "text", n = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b"))
      val batchDocs = docs.where(col("doc_id") < 50)
      val vs = graft.operators.Dedup.jaccardPairsAgainst(
          batchDocs, docs.where(col("doc_id") >= 50), "doc_id", "text",
          n = 3, threshold = 0.8)
        .select(col("id_new").as("id_a"), col("id_corpus").as("id_b"))
      val within = graft.operators.Dedup.jaccardPairs(
          batchDocs, "doc_id", "text", n = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b"))
      val (db, dt, df_) = fraction(standing, vs.unionByName(within), hops = 2)
      println(f"[ball-fraction] $dir dedup_clusters_incremental_auto " +
        f"ball=$db total=$dt fraction=$df_%.4f")

      // semantic family: standing = vec_id >= 100 quantized kNN edges,
      // batch = vec_id < 100 probe edges, hops = 4
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val standingE = e.where(col("vec_id") >= 100)
      val rpb = graft.operators.Similarity.autoRowsPerBand(standingE.count(), bands = 2)
      val sEdges = graft.operators.Similarity.knnGraphQuantized(
          standingE, "vec_id", "embedding", k = 3, dim = 64,
          rowsPerBand = rpb, bands = 2, rerankFactor = 4)
        .select(col("id"), col("nbr"))
      val (banded, payload, params) = graft.operators.Similarity.knnGraphIndex(
        standingE, "vec_id", "embedding", dim = 64, rowsPerBand = rpb, bands = 2)
      val bEdges = graft.operators.Similarity.knnGraphAgainstIndex(
          banded, payload, params,
          e.where(col("vec_id") < 100), "vec_id", "embedding",
          k = 3, dim = 64, rowsPerBand = rpb, bands = 2, rerankFactor = 4)
        .select(col("id"), col("nbr"))
      val (sb, st, sf_) = fraction(sEdges, bEdges, hops = 4)
      println(f"[ball-fraction] $dir semantic_communities_incremental_auto " +
        f"ball=$sb total=$st fraction=$sf_%.4f")
    }
    spark.stop()
  }
}
