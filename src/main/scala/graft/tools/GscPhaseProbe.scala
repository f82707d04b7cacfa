package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Communities, Paths, Similarity}

/** Dev: stage timing for the graph_semantic_communities composite (the
  * largest remaining composite in the bench) — where do its ~7-8 s go?
  * Runs the catalog entry's exact composition but drops a materialization
  * barrier after each stage (the walk sink write is already one; the
  * embedding assembly already localCheckpoints; kNN edges get an extra
  * eager localCheckpoint HERE ONLY so LPA's time excludes them), so each
  * stage's wall is attributable. Two passes: cold and warm.
  */
object GscPhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-gscprobe-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[gscphase] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    def noop(d: org.apache.spark.sql.DataFrame): Unit =
      d.write.format("noop").mode("overwrite").save()

    for (run <- Seq("cold", "warm")) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .where(col("l_quantity") >= 50)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      val sink = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:") + s"/graft_walk_gscprobe_$run"

      time(s"$run 1 cooccur pairs + walks->sink")(
        Paths.randomWalksToSink(pairs, "src", "dst", walksPerNode = 2,
          steps = 3, path = sink))
      var sg: org.apache.spark.sql.DataFrame = null
      time(s"$run 2 skipgram pairs (noop)") {
        sg = Paths.walkSkipgramPairs(spark, sink, window = 2,
          centerLo = 0, centerHi = 3)
        noop(sg)
      }
      var vecs: org.apache.spark.sql.DataFrame = null
      time(s"$run 3 PPMI+JL embeddings -> checkpointed arrays") {
        val emb = Paths.skipgramNodeEmbeddings(sg, dim = 16)
        vecs = emb.groupBy(col("node"))
          .agg(array_sort(collect_list(struct(col("j"), col("weight")))).as("__jw"))
          .select(col("node"),
            transform(col("__jw"), e => e.getField("weight")).as("vec"))
          .localCheckpoint(true)
          .where(Similarity.dot(col("vec"), col("vec")) > 0)
      }
      var edges: org.apache.spark.sql.DataFrame = null
      time(s"$run 4 quantized kNN graph -> checkpoint") {
        edges = Similarity.knnGraphQuantized(vecs, "node", "vec", k = 3,
          dim = 16, bands = 2, rerankFactor = 4)
          .localCheckpoint(true)
      }
      time(s"$run 5 LPA x4 + community sizes (noop)") {
        val labels = Communities.labelPropagation(edges, "id", "nbr", iterations = 4)
        noop(Communities.communitySizes(labels).orderBy("label"))
      }
    }
    spark.stop()
  }
}
