package graft.sources

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Similarity

/** Executes the "persist the index bucketed by its probe key" story every
  * ANN scaladoc cites, and asserts the two plan properties that make it
  * worth doing at 100 TB:
  *   1. the batch-ANN candidate equi-join shows NO shuffle on the index
  *      side (only the probe side moves), and
  *   2. a single-bucket lookup prunes buckets at planning time.
  * Plus value parity: the bucketed path returns exactly the in-memory
  * path's rows.
  */
class IndexStoreSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val NBuckets = 8
  private val Table = "graft_test_lsh_bucketed"

  private lazy val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private lazy val bucketed = {
    val index = Similarity.lshIndex(corpus, "vec_id", "embedding", nBits = 4, dim = 64)
    IndexStore.writeBucketed(index, Table, "bucket", NBuckets)
    IndexStore.read(spark, Table)
  }

  /** Formatted-plan tree-node exchange count (each node listed once). */
  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    "- Exchange ".r.findAllIn(df.queryExecution.explainString(FormattedMode)).size

  test("candidate equi-join on a bucketed index shuffles ONLY the probe side") {
    val queries = corpus.where(col("vec_id") < 3)
    val probed = Similarity.probeBuckets(queries, "vec_id", "embedding",
      nBits = 4, probeRadius = 1, dim = 64)
    // force the sort-merge path: a broadcast of the small test index would
    // trivially have no index-side exchange without proving bucketing
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bucketedJoin = probed.join(bucketed, Seq("bucket"))
      val plainJoin = probed.join(
        Similarity.lshIndex(corpus, "vec_id", "embedding", nBits = 4, dim = 64),
        Seq("bucket"))
      assert(exchanges(plainJoin) == 2, "control: unbucketed join shuffles both sides")
      assert(exchanges(bucketedJoin) == 1,
        "bucketed index side must join with no exchange (probe side only)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("single-bucket lookup prunes buckets at planning time") {
    // DisableUnnecessaryBucketedScan only credits avoided exchanges, not
    // filter pruning, so it turns the bucketed scan off for a bare lookup;
    // a production point-probe path pins it on
    val auto = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(auto)
    try {
      spark.conf.set(auto, "false")
      val plan = bucketed.where(col("bucket") === 5)
        .queryExecution.explainString(FormattedMode)
      assert(plan.contains(s"SelectedBucketsCount: 1 out of $NBuckets"),
        s"expected bucket pruning in:\n$plan")
    } finally spark.conf.set(auto, prev)
  }

  test("batch ANN over the persisted index returns the in-memory path's rows") {
    val queries = corpus.where(col("vec_id") < 3)
    def run(index: org.apache.spark.sql.DataFrame) =
      Similarity.annTopKForQueries(index, queries, "vec_id", "embedding",
        nBits = 4, k = 4, probeRadius = 4, dim = 64)
        .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val inMemory = run(
      Similarity.lshIndex(corpus, "vec_id", "embedding", nBits = 4, dim = 64))
    assert(run(bucketed) == inMemory)
  }

  // ---- the IVF twin of the story: index bucketed by cell + centroid
  // sidecar table, probed through the broadcast-centroid path ----

  private lazy val ivfPersisted = {
    val (index, centroids) = Similarity.ivfIndex(corpus, "vec_id", "embedding", nlist = 16)
    IndexStore.writeBucketed(index, "graft_test_ivf_bucketed", "cell", NBuckets)
    IndexStore.writeTable(
      Similarity.centroidTable(spark, centroids), "graft_test_ivf_centroids")
    (IndexStore.read(spark, "graft_test_ivf_bucketed"),
      IndexStore.read(spark, "graft_test_ivf_centroids"),
      index, centroids)
  }

  test("IVF cell equi-join on the bucketed index shuffles ONLY the probe side") {
    val (bucketedIdx, centTbl, inMemIdx, _) = ivfPersisted
    val queries = corpus.where(col("vec_id") < 3)
    def build(index: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopKForQueriesTable(index, centTbl, queries,
        "vec_id", "embedding", nprobe = 4, k = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // identical plans except the cell join's index side: the bucketed
      // scan's output partitioning satisfies the join, the in-memory
      // control needs one more exchange
      assert(exchanges(build(inMemIdx)) == exchanges(build(bucketedIdx)) + 1,
        "bucketed IVF index must save exactly the index-side exchange")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("batch IVF over the persisted index+centroids returns the in-memory path's rows") {
    val (bucketedIdx, centTbl, inMemIdx, centroids) = ivfPersisted
    val queries = corpus.where(col("vec_id") < 3)
    val persisted = Similarity.ivfTopKForQueriesTable(bucketedIdx, centTbl, queries,
        "vec_id", "embedding", nprobe = 4, k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val inMemory = Similarity.ivfTopKForQueries(inMemIdx, centroids, queries,
        "vec_id", "embedding", nprobe = 4, k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(persisted == inMemory)
  }

  test("BM25 term-bucketed tf: the probe's candidate join saves the index-side exchange") {
    import graft.operators.Tfidf
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize((1L to 200L).map(i =>
        org.apache.spark.sql.Row(i, s"term${i % 17} term${i % 5} shared body text")), 4),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
    val built = Tfidf.bm25Index(docs, "doc_id", "text")
    IndexStore.writeBucketed(built.tf, "graft_test_bm25_tf", "term", 4)
    val qterms = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(0L, "term3")), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType))))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bucketedJoin = qterms.join(IndexStore.read(spark, "graft_test_bm25_tf"), Seq("term"))
      val plainJoin = qterms.join(built.tf, Seq("term"))
      assert(exchanges(plainJoin) >= 2, "control: unbucketed tf join shuffles both sides")
      assert(exchanges(bucketedJoin) == 1,
        "term-bucketed tf must join with no index-side exchange")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("appendBucketed: append equals full rebuild; bucketing survives the append") {
    val idxTbl = "graft_test_ivf_append"
    val standing = corpus.where(col("vec_id") % 2 === 0)
    val batch = corpus.where(col("vec_id") % 2 === 1)
    // frozen quantizer from the standing half; assignment is pointwise
    // given centroids, so appended assignment must equal a full rebuild
    val (idxA, cs) = Similarity.ivfIndex(standing, "vec_id", "embedding", nlist = 8)
    IndexStore.writeBucketed(idxA, idxTbl, "cell", 4)
    val (idxB, _) = Similarity.ivfIndex(batch, "vec_id", "embedding",
      trainedCentroids = Some(cs))
    IndexStore.appendBucketed(idxB, idxTbl, "cell", 4)
    val appended = IndexStore.read(spark, idxTbl)
      .select("id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val (full, _) = Similarity.ivfIndex(corpus, "vec_id", "embedding",
      trainedCentroids = Some(cs))
    val rebuilt = full.select("id", "cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(appended == rebuilt, "appended index must equal the full rebuild")
    // the appended table still reports its bucketing: the probe join
    // shuffles only the probe side, exactly like a fresh write
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = full.select(col("cell"), col("id").as("q_id"))
      assert(exchanges(probe.join(IndexStore.read(spark, idxTbl), Seq("cell"))) == 1,
        "post-append bucketed side must join with no exchange")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // a mismatched bucket spec must be refused, not silently rewritten
    intercept[Exception] {
      IndexStore.appendBucketed(idxB, idxTbl, "cell", 8)
    }
  }

}
