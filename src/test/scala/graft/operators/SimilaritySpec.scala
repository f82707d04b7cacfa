package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SimilaritySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def emb(rows: (Long, Seq[Double])*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v) }, 2),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))

  test("cosine: identical=1, orthogonal=0, opposite=-1") {
    import org.apache.spark.sql.functions._
    val d = emb(1L -> Seq(1.0, 0.0), 2L -> Seq(0.0, 1.0), 3L -> Seq(-1.0, 0.0))
    val q = array(lit(1.0), lit(0.0))
    val cos = d.select(col("vec_id"), Similarity.cosine(col("embedding"), q).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(cos(1L) - 1.0) < 1e-12)
    assert(math.abs(cos(2L)) < 1e-12)
    assert(math.abs(cos(3L) + 1.0) < 1e-12)
  }

  test("brute-force top-k ranks by cosine, self first") {
    val d = emb(1L -> Seq(1.0, 0.0), 2L -> Seq(0.9, 0.1), 3L -> Seq(0.0, 1.0), 4L -> Seq(0.5, 0.5))
    val top = Similarity.bruteForceTopK(d, "vec_id", "embedding", Seq(1.0, 0.0), 3)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L, 4L))
  }

  test("knnClassify: majority label of the k nearest; vote ties go to the smaller label") {
    import org.apache.spark.sql.functions._
    // corpus on the unit circle around query (1,0): ids 1,2 label 7 are
    // closest; 3,4 label 3 next; 5 label 9 far — k=4 votes 2:2, tie -> 3
    val corpus = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, Seq(0.99, 0.14), 7), Row(2L, Seq(0.98, 0.19), 7),
        Row(3L, Seq(0.90, 0.43), 3), Row(4L, Seq(0.88, 0.47), 3),
        Row(5L, Seq(-1.0, 0.0), 9), Row(100L, Seq(1.0, 0.0), 9)), 2),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)), StructField("label", IntegerType))))
    val queries = corpus.where(col("vec_id") === 100L)
    val k4 = Similarity.knnClassify(corpus, queries, "vec_id", "embedding", "label", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(k4.toSeq == Seq((100L, 3L, 2L, 4L))) // 7x2 vs 3x2 -> smaller label
    val k3 = Similarity.knnClassify(corpus, queries, "vec_id", "embedding", "label", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(k3.toSeq == Seq((100L, 7L, 2L, 3L))) // 7x2 vs 3x1 -> majority
  }

  test("driver-side LSH signature equals the distributed one") {
    import org.apache.spark.sql.functions._
    val vecs = Seq(
      Seq(0.2, -0.7, 1.1, 0.4), Seq(-1.0, 0.3, 0.0, 2.2), Seq(5.0, 5.0, 5.0, 5.0))
    val d = emb(vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }: _*)
    val dist = Similarity.lshIndex(d, "vec_id", "embedding", nBits = 12, dim = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      assert(Similarity.lshSignatureLocal(v, 12) == dist(i.toLong),
        s"signature mismatch for vector $i")
    }
  }

  test("batch ANN at full probe ball equals the brute-force batch scorer") {
    import org.apache.spark.sql.functions._
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = real.where(col("vec_id") < 3)
    val brute = Similarity.topKForQueries(real, queries, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val index = Similarity.lshIndex(real, "vec_id", "embedding", nBits = 4, dim = 64)
    val batch = Similarity.annTopKForQueries(index, queries, "vec_id", "embedding",
      nBits = 4, k = 4, probeRadius = 4, dim = 64) // full ball: recall 1.0
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(batch == brute)
  }

  test("centroid-table IVF ranking equals the literal-centroid path") {
    import org.apache.spark.sql.functions._
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = real.where(col("vec_id") < 3)
    val (index, centroids) = Similarity.ivfIndex(real, "vec_id", "embedding", nlist = 16)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))).toSet
    // partial nprobe is the discriminating case: cell RANKING order (not
    // just membership) decides which candidates exist at nprobe=3
    for (nprobe <- Seq(3, 16)) {
      val literal = rows(Similarity.ivfTopKForQueries(
        index, centroids, queries, "vec_id", "embedding", nprobe, k = 4))
      val table = rows(Similarity.ivfTopKForQueriesTable(
        index, Similarity.centroidTable(spark, centroids), queries,
        "vec_id", "embedding", nprobe, k = 4))
      assert(table == literal, s"nprobe=$nprobe")
    }
  }

  test("batch IVF paths reject dim-mismatched queries loudly") {
    import org.apache.spark.sql.functions._
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (index, centroids) = Similarity.ivfIndex(real, "vec_id", "embedding", nlist = 4)
    val badQueries = emb(0L -> Seq(1.0, 2.0, 3.0)) // dim 3, centroids are 64
    def assertRaises(df: => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[Exception](df.collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("does not match centroid dim")), e.toString)
    }
    assertRaises(Similarity.ivfTopKForQueries(
      index, centroids, badQueries, "vec_id", "embedding", nprobe = 4, k = 2))
    assertRaises(Similarity.ivfTopKForQueriesTable(
      index, Similarity.centroidTable(spark, centroids), badQueries,
      "vec_id", "embedding", nprobe = 4, k = 2))
    // NULL query vectors drop out silently (null-signature semantics)
    val nullQ = emb(7L -> null)
    assert(Similarity.ivfTopKForQueries(
      index, centroids, nullQ, "vec_id", "embedding", nprobe = 4, k = 2).count() == 0)
    assert(Similarity.ivfTopKForQueriesTable(
      index, Similarity.centroidTable(spark, centroids), nullQ,
      "vec_id", "embedding", nprobe = 4, k = 2).count() == 0)
  }

  test("batch IVF at full nprobe equals the brute-force batch scorer") {
    import org.apache.spark.sql.functions._
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = real.where(col("vec_id") < 3)
    val brute = Similarity.topKForQueries(real, queries, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val (index, centroids) = Similarity.ivfIndex(real, "vec_id", "embedding", nlist = 8)
    val batch = Similarity.ivfTopKForQueries(index, centroids, queries,
      "vec_id", "embedding", nprobe = 8, k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(batch == brute)
    // a partial probe returns a subset-consistent ranking (no crash, k rows max)
    val partial = Similarity.ivfTopKForQueries(index, centroids, queries,
      "vec_id", "embedding", nprobe = 2, k = 4)
      .groupBy("query_id").count().collect().map(_.getLong(1))
    assert(partial.forall(_ <= 4))
  }

  test("md5 LSH signature flavor: deterministic, null/empty guards match lshSignature") {
    import org.apache.spark.sql.functions._
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, Seq(0.2, -0.7, 1.1)), Row(2L, null), Row(3L, Seq.empty[Double])), 2),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))
    val sigs = d.select(col("vec_id"),
      Similarity.lshSignatureMd5(col("embedding"), nBits = 8, dim = 3).as("s"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(sigs(2L).isEmpty)        // NULL vector -> NULL signature
    assert(sigs(3L).contains(0L))   // empty vector -> 0, matching the SQL twin's
                                    // list_sum([]) = NULL -> CASE 0 arm
    assert(sigs(1L).exists(s => s >= 0 && s < 256))
    // second evaluation is bitwise identical
    val again = d.where(col("vec_id") === 1)
      .select(Similarity.lshSignatureMd5(col("embedding"), 8, 3)).head().getLong(0)
    assert(sigs(1L).contains(again))
  }

  test("annTopK probes the query's own bucket and finds the query vector") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = real.where(org.apache.spark.sql.functions.col("vec_id") === 7)
      .head().getSeq[Float](1).map(_.toDouble)
    val idx = Similarity.lshIndex(real, "vec_id", "embedding", nBits = 8, dim = 64)
    val top = Similarity.annTopK(idx, q, nBits = 8, k = 5).collect()
    assert(top.nonEmpty)
    assert(top.head.getLong(0) == 7L) // self-match first, cosine 1
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
  }

  test("multi-probe recall >= single-probe recall vs brute-force truth") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = real.where(org.apache.spark.sql.functions.col("vec_id") === 7)
      .head().getSeq[Float](1).map(_.toDouble)
    val truth = Similarity.bruteForceTopK(real, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val idx = Similarity.lshIndex(real, "vec_id", "embedding", nBits = 8, dim = 64)
    def recall(probeRadius: Int): Double = {
      val got = Similarity.annTopK(idx, q, nBits = 8, k = 10, probeRadius = probeRadius)
        .collect().map(_.getLong(0)).toSet
      (truth & got).size.toDouble / truth.size
    }
    val (single, multi) = (recall(0), recall(1))
    assert(multi >= single)
    // these embeddings are random vectors: a random query's true top-10
    // sit near 68deg, which no sign-LSH buckets together — the planted
    // near-dup recall test lives in NearDupSpec. Here the floor is just
    // the self-match.
    assert(multi >= 0.1, s"even the self-match was missed: $multi")
  }

  test("IVF: full probe equals brute force; partial probe finds the self-match") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = real.where(org.apache.spark.sql.functions.col("vec_id") === 7)
      .head().getSeq[Float](1).map(_.toDouble)
    val truth = Similarity.bruteForceTopK(real, "vec_id", "embedding", q, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val (index, centroids) = Similarity.ivfIndex(real, "vec_id", "embedding", nlist = 8)
    assert(centroids.size == 8 && centroids.forall(_.size == 64))
    // probing every cell degenerates to exact brute force
    val full = Similarity.ivfTopK(index, centroids, q, nprobe = 8, k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(full == truth)
    // single-cell probe still returns the query's own cell, self first
    val partial = Similarity.ivfTopK(index, centroids, q, nprobe = 1, k = 10).collect()
    assert(partial.nonEmpty && partial.head.getLong(0) == 7L)
    assert(math.abs(partial.head.getDouble(1) - 1.0) < 1e-9)
  }

  test("wrong dim hint fails loudly instead of zeroing signatures") {
    val d = emb(1L -> Seq(1.0, 2.0, 3.0, 4.0))
    val e = intercept[Exception] {
      Similarity.lshIndex(d, "vec_id", "embedding", nBits = 4, dim = 2).collect()
    }
    assert(e.getMessage.contains("dim hint") || e.getMessage.contains("USER_RAISED_EXCEPTION"),
      s"unexpected error: ${e.getMessage}")
  }

  test("degenerate vectors: NULL -> null signature, empty -> all-ones, both paths agree") {
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, Seq(1.0, -2.0)), Row(2L, null), Row(3L, Seq.empty[Double])), 2),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))
    val sigs = Similarity.lshIndex(d, "vec_id", "embedding", nBits = 4, dim = 2)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(sigs(2L).isEmpty, "null vector must get a null signature")
    assert(sigs(3L).contains(15L), "empty vector: all 4 bits set, matching the driver fold")
    assert(sigs(1L).contains(Similarity.lshSignatureLocal(Seq(1.0, -2.0), 4)))
    assert(Similarity.lshSignatureLocal(Seq.empty, 4) == 15L)
  }

  test("ivfIndex is deterministic: same centroids and cells across runs") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def build() = {
      val (index, centroids) = Similarity.ivfIndex(real, "vec_id", "embedding", nlist = 8)
      (index.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap, centroids)
    }
    val (cells1, c1) = build()
    val (cells2, c2) = build()
    assert(c1 == c2, "centroids differ across runs")
    assert(cells1 == cells2, "cell assignments differ across runs")
  }

  test("ivfTopK rejects a query whose dimension mismatches the centroids") {
    val d = emb(1L -> Seq(1.0, 0.0), 2L -> Seq(0.0, 1.0), 3L -> Seq(0.5, 0.5), 4L -> Seq(0.7, 0.1))
    val (index, centroids) = Similarity.ivfIndex(d, "vec_id", "embedding", nlist = 2)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(index, centroids, Seq(1.0, 0.0, 0.0), nprobe = 1, k = 2)
    }
    assert(e.getMessage.contains("query dim"))
  }

  test("topKForQueries excludes self and respects k") {
    val d = emb(1L -> Seq(1.0, 0.0), 2L -> Seq(0.9, 0.1), 3L -> Seq(0.0, 1.0), 4L -> Seq(0.5, 0.5))
    val res = Similarity.topKForQueries(d,
      d.where(org.apache.spark.sql.functions.col("vec_id") <= 2), "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(res.forall { case (q, c, _) => q != c })
    assert(res.count(_._1 == 1L) == 2 && res.count(_._2 == 1L) >= 1)
  }

  test("broadcast cell assignment matches the literal path on real embeddings") {
    import org.apache.spark.sql.functions.{col, transform}
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds8 = e.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .orderBy("vec_id").limit(8).collect().map(_.getSeq[Double](1).toSeq).toSeq
    val (literalIdx, _) = Similarity.ivfIndex(e, "vec_id", "embedding",
      trainedCentroids = Some(seeds8))
    val literal = literalIdx.select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val broadcasted = Similarity.assignCellsBroadcast(e, "vec_id", "embedding", seeds8)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(broadcasted == literal,
      "broadcast mapPartitions assignment must pick the same cells as the literal expression")
  }

  test("nlist=4096 centroid-table probe plans a broadcast, no literal explosion") {
    import spark.implicits._
    // FAISS-realistic nlist: the centroid TABLE path must broadcast the
    // 4096 x 8 centroids as DATA — the plan string stays small and
    // carries a BroadcastExchange, not thousands of literals
    val cents = (0 until 4096).map { i =>
      (i, (0 until 8).map(j => ((i * 31 + j * 7) % 100) / 100.0))
    }.toDF("cell", "centroid")
    val index = emb(1L -> (0 until 8).map(_ / 10.0), 2L -> (0 until 8).map(_ / 20.0))
      .select(org.apache.spark.sql.functions.col("vec_id").as("id"),
        org.apache.spark.sql.functions.col("embedding").as("vec"),
        org.apache.spark.sql.functions.lit(0).as("cell"))
    val probe = Similarity.ivfTopKForQueriesTable(index, cents,
      emb(5L -> (0 until 8).map(_ / 30.0)), "vec_id", "embedding", nprobe = 16, k = 5)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"centroid table must broadcast:\n${plan.take(2000)}")
    assert(plan.length < 100000,
      s"plan must not embed nlist x dim literals (got ${plan.length} chars)")
  }

  test("reciprocal-rank fusion: hand-computed scores, list count, tie-break, determinism") {
    def ranking(rows: Seq[(Long, Long, Int)], parts: Int = 3) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), parts),
        StructType(Seq(StructField("query_id", LongType),
          StructField("corpus_id", LongType), StructField("rank", IntegerType))))
    // query 1: doc 10 is rank 1 in both lists; doc 11 rank 2 in A only;
    // doc 12 rank 2 in B only -> 11 and 12 tie exactly, corpus_id breaks
    val a = ranking(Seq((1L, 10L, 1), (1L, 11L, 2)))
    val b = ranking(Seq((1L, 10L, 1), (1L, 12L, 2)))
    val out = Similarity.reciprocalRankFusion(Seq(a, b), k0 = 60, topK = 3)
      .collect().map(r => (r.getLong(1), r.getLong(3), r.getDouble(2), r.getInt(4)))
      .sortBy(_._4)
    assert(out.map(x => (x._1, x._2, x._4)).toSeq ==
      Seq((10L, 2L, 1), (11L, 1L, 2), (12L, 1L, 3)))
    assert(math.abs(out(0)._3 - 2.0 / 61) < 1e-12)
    assert(out(1)._3 == out(2)._3, "equal-rank singletons must score identically")
    // partitioning independence of the fused double (sorted in-row fold)
    val p1 = Similarity.reciprocalRankFusion(
      Seq(ranking((1 to 40).map(i => (1L, i.toLong, i)), 1),
        ranking((1 to 40).map(i => (1L, (41 - i).toLong, i)), 1)), 60, 40)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    val p2 = Similarity.reciprocalRankFusion(
      Seq(ranking((1 to 40).map(i => (1L, i.toLong, i)), 11),
        ranking((1 to 40).map(i => (1L, (41 - i).toLong, i)), 7)), 60, 40)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(p1 == p2)
  }

  test("mmr: diversifies across clusters where plain top-k repeats the twin") {
    import org.apache.spark.sql.functions._
    // cluster A ~ query direction; A' = near-copy of A; cluster B orthogonal-ish
    val d = emb(
      0L -> Seq(1.0, 0.0, 0.0, 0.0),   // query
      1L -> Seq(0.99, 0.1, 0.0, 0.0),  // A
      2L -> Seq(0.98, 0.11, 0.0, 0.0), // A twin
      3L -> Seq(0.6, 0.0, 0.8, 0.0))   // B: relevant but different direction
    val plain = Similarity.topKForQueries(d, d.where(col("vec_id") === 0),
        "vec_id", "embedding", k = 2)
      .collect().sortBy(_.getInt(3)).map(_.getLong(1)).toSeq
    assert(plain == Seq(1L, 2L), "plain top-2 returns the redundant twin")
    val mmr = Similarity.mmrRerank(d, d.where(col("vec_id") === 0),
        "vec_id", "embedding", candidateK = 3, m = 2, lambdaRel = 0.5)
      .collect().sortBy(_.getInt(3)).map(_.getLong(1)).toSeq
    assert(mmr == Seq(1L, 3L), s"mmr must swap the twin for the cross-cluster doc, got $mmr")
  }

  test("mmr: differential vs an independent sequential greedy; short candidate lists") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(5)
    val vecs = (0L to 30L).map(i => i -> Seq.fill(8)(rnd.nextDouble() * 2 - 1))
    val d = emb(vecs: _*)
    val lam = 0.7
    val out = Similarity.mmrRerank(d, d.where(col("vec_id") < 2), "vec_id", "embedding",
        candidateK = 8, m = 4, lambdaRel = lam)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    // independent replica in plain Scala
    def dotp(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Seq[Double], b: Seq[Double]) =
      dotp(a, b) / (math.sqrt(dotp(a, a)) * math.sqrt(dotp(b, b)))
    val byId = vecs.toMap
    for (q <- 0L to 1L) {
      val qv = byId(q)
      val cands = vecs.filter(_._1 != q)
        .map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, rel) => (-rel, id) }.take(8)
      val vn = cands.map { case (id, _) =>
        val v = byId(id); val n = math.sqrt(dotp(v, v)); id -> v.map(_ / n) }.toMap
      var sel = Vector.empty[Long]
      for (_ <- 1 to 4) {
        val best = cands.filterNot { case (id, _) => sel.contains(id) }
          .map { case (id, rel) =>
            val maxSim = if (sel.isEmpty) 0.0 else sel.map(s => dotp(vn(id), vn(s))).max
            (id, lam * rel - (1 - lam) * maxSim) }
          .minBy { case (id, sc) => (-sc, id) }
        sel :+= best._1
      }
      sel.zipWithIndex.foreach { case (id, i) =>
        assert(out((q, i + 1)) == id, s"query $q step ${i + 1}: ${out((q, i + 1))} vs $id")
      }
    }
    // fewer candidates than m: steps stop at the candidate count
    val tiny = emb(0L -> Seq(1.0, 0.0), 1L -> Seq(0.9, 0.1), 2L -> Seq(0.8, 0.2))
    val short = Similarity.mmrRerank(tiny, tiny.where(col("vec_id") === 0),
        "vec_id", "embedding", candidateK = 2, m = 2, lambdaRel = 0.7)
    assert(short.count() == 2)
  }

  test("retrieval metrics: hand-computed recall and MRR, empty-result queries emit zeros") {
    import org.apache.spark.sql.functions._
    def ranking(rows: (Long, Long, Int)*) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (q, c, r) => Row(q, c, r) }, 2),
        StructType(Seq(StructField("query_id", LongType),
          StructField("corpus_id", LongType),
          StructField("rank", IntegerType))))
    val truth = ranking((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3),
      (3L, 30L, 1))
    val results = ranking(
      (1L, 10L, 1), (1L, 99L, 2), (1L, 12L, 3),      // 2/3 recalled, first hit rank 1
      (2L, 98L, 1), (2L, 97L, 2), (2L, 21L, 3))      // 1/3 recalled, first hit rank 3
      // query 3: retrieves nothing at all
    val out = Similarity.retrievalMetrics(results, truth, k = 3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L) == ((2.0 / 3, 1.0)))
    assert(out(2L) == ((1.0 / 3, 1.0 / 3)))
    assert(out(3L) == ((0.0, 0.0)), "truth-only queries must emit zeros, not vanish")
    // k cuts results before matching: rank-3 hits vanish at k=2
    val cut = Similarity.retrievalMetrics(results, truth, k = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cut(2L) == 0.0, "the rank-3 hit must not count at k=2")
  }

  test("sq8: codes in [0,255], reconstruction within half a level, width-0 dims exact") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val d = emb((1L to 50L).map(i =>
      i -> (Seq.fill(7)(rnd.nextDouble() * 10 - 5) :+ 3.25)): _*) // dim 8, last constant
    val params = Similarity.sq8Params(d, "embedding", dim = 8)
    val pRow = params.collect().head
    val mins = pRow.getSeq[Double](0).toIndexedSeq
    val widths = pRow.getSeq[Double](1).toIndexedSeq
    assert(widths(7) == 0.0, "constant dimension must have width 0")
    val codes = Similarity.sq8Encode(d, "vec_id", "embedding", params)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.values.flatten.forall(c => c >= 0 && c <= 255))
    val orig = d.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for ((id, cs) <- codes; i <- cs.indices) {
      val dq = mins(i) + cs(i).toDouble * widths(i) / 255.0
      val tol = if (widths(i) == 0.0) 1e-12 else widths(i) / 255.0 / 2 + 1e-9
      assert(math.abs(dq - orig(id)(i)) <= tol,
        s"id $id dim $i: $dq vs ${orig(id)(i)} (width ${widths(i)})")
    }
  }

  test("sq8 ADC retrieves the planted twin: quantization noise < the planted margin") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    // 20 random base vectors + a near-identical twin for each of 3 queries
    val base = (1L to 20L).map(i => i -> Seq.fill(16)(rnd.nextDouble() * 2 - 1))
    val twins = (1L to 3L).map(q =>
      (100L + q) -> base(q.toInt - 1)._2.map(_ + rnd.nextDouble() * 0.01))
    val d = emb((base ++ twins): _*)
    val params = Similarity.sq8Params(d, "embedding", dim = 16)
    val codes = Similarity.sq8Encode(d, "vec_id", "embedding", params)
    val top1 = Similarity.sq8TopKForQueries(codes, params,
        d.where(col("vec_id").isin(101L, 102L, 103L)), "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1 == Map(101L -> 1L, 102L -> 2L, 103L -> 3L),
      s"each query must retrieve its planted twin, got $top1")
  }

  test("mmr: id-type generic — string corpus ids rerank identically to long ids") {
    import org.apache.spark.sql.functions._
    val vecs = Seq(
      "d0" -> Seq(1.0, 0.0, 0.0, 0.0),
      "d1" -> Seq(0.99, 0.1, 0.0, 0.0),
      "d2" -> Seq(0.98, 0.11, 0.0, 0.0),
      "d3" -> Seq(0.6, 0.0, 0.8, 0.0))
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(vecs.map { case (i, v) => Row(i, v) }, 2),
      StructType(Seq(StructField("vec_id", StringType),
        StructField("embedding", ArrayType(DoubleType)))))
    val mmr = Similarity.mmrRerank(d, d.where(col("vec_id") === "d0"),
        "vec_id", "embedding", candidateK = 3, m = 2, lambdaRel = 0.5)
      .collect().sortBy(_.getInt(3)).map(_.getString(1)).toSeq
    assert(mmr == Seq("d1", "d3"),
      s"string-id rerank must match the long-id fixture's picks, got $mmr")
  }

  test("sq8Params: enforces dim — wrong-dim vectors fail the job, matching dim works") {
    val d = emb(0L -> Seq(1.0, 2.0), 1L -> Seq(3.0, 4.0))
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val e = intercept[Exception] {
      Similarity.sq8Params(d, "embedding", dim = 3).collect()
    }
    assert(chain(e).contains("sq8Params"), chain(e))
    assert(Similarity.sq8Params(d, "embedding", dim = 2).collect().length == 1)
    // a NULL vector is skipped (pre-check behavior), not a job failure
    val withNull = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(0L, Seq(1.0, 2.0)), Row(1L, null)), 2),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))
    val p = Similarity.sq8Params(withNull, "embedding", dim = 2).collect()
    assert(p.length == 1 && p(0).getSeq[Double](0) == Seq(1.0, 2.0),
      "null vectors must drop out of the params aggregate")
  }

  test("knnGraph: single-bit bands admit all pairs, so the graph equals brute top-k") {
    // rowsPerBand = 1 -> two vectors collide whenever ANY plane agrees
    // in sign; on these clustered vectors that is every pair, so the
    // LSH graph must coincide with an exhaustive per-node top-2
    val vecs = Map(
      1L -> Seq(1.0, 0.1), 2L -> Seq(0.9, 0.2), 3L -> Seq(0.8, 0.3),
      4L -> Seq(0.1, 1.0), 5L -> Seq(0.2, 0.9))
    val d = emb(vecs.toSeq: _*)
    val out = Similarity.knnGraph(d, "vec_id", "embedding", k = 2,
        dim = 2, rowsPerBand = 1, bands = 8)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    vecs.keys.foreach { id =>
      val brute = vecs.keys.filter(_ != id).toSeq
        .sortBy(n => (-cos(vecs(id), vecs(n)), n)).take(2)
      assert(out((id, 1)) == brute.head && out((id, 2)) == brute(1),
        s"node $id: got ${out.filter(_._1._1 == id)}, brute $brute")
    }
  }

  test("knnGraph: directed, at most k edges per node, ranks contiguous from 1") {
    val d = emb((1L to 12L).map(i =>
      i -> Seq(math.cos(i * 0.5), math.sin(i * 0.5))): _*)
    val rows = Similarity.knnGraph(d, "vec_id", "embedding", k = 3,
        dim = 2, rowsPerBand = 2, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    rows.groupBy(_._1).foreach { case (id, es) =>
      assert(es.length <= 3, s"node $id over k: $es")
      assert(es.map(_._3).sorted.toSeq == (1 to es.length), s"ranks not contiguous: $es")
      assert(es.forall(e => e._2 != id), s"self edge at $id")
    }
  }

  test("knnGraphQuantized: exact cosines on the output, agrees with knnGraph on a clean corpus") {
    // well-separated clusters: SQ8 at 256 levels per dimension ranks
    // them exactly like full precision, so with all-pairs candidates
    // (rowsPerBand = 1) the quantized graph's EDGES equal the plain
    // graph's, and the emitted cosines are the EXACT re-ranked ones —
    // bitwise equal to knnGraph's, not the quantized approximations
    val vecs = (1L to 12L).map(i =>
      i -> Seq(math.cos(i * 0.7), math.sin(i * 0.7), (i % 3) * 0.2))
    val d = emb(vecs: _*)
    val plain = Similarity.knnGraph(d, "vec_id", "embedding", k = 3,
        dim = 3, rowsPerBand = 1, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    val quant = Similarity.knnGraphQuantized(d, "vec_id", "embedding", k = 3,
        dim = 3, rowsPerBand = 1, bands = 8, rerankFactor = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    assert(quant == plain,
      s"quantized graph must match the plain graph here:\n$quant\nvs\n$plain")
  }

  test("knnGraphQuantized: survivor cut is bounded by k*rerankFactor, ranks contiguous") {
    val d = emb((1L to 20L).map(i =>
      i -> Seq(math.cos(i * 0.3), math.sin(i * 0.3))): _*)
    val rows = Similarity.knnGraphQuantized(d, "vec_id", "embedding", k = 2,
        dim = 2, rowsPerBand = 2, bands = 4, rerankFactor = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    rows.groupBy(_._1).foreach { case (id, es) =>
      assert(es.length <= 2, s"node $id over k: ${es.toSeq}")
      assert(es.map(_._3).sorted.toSeq == (1 to es.length),
        s"ranks not contiguous: ${es.toSeq}")
      assert(es.forall(e => e._2 != id), s"self edge at $id")
    }
    intercept[IllegalArgumentException] {
      Similarity.knnGraphQuantized(d, "vec_id", "embedding", k = 2,
        dim = 2, rerankFactor = 0)
    }
  }

  test("suggestedNBits: occupancy-pinned width grows with log2(n), floors and caps") {
    // the occupancy-pinned width is autoRowsPerBand: 16 rows/bucket
    // target, so n = 2^20 needs 16 bits/band at any band count
    assert(Similarity.autoRowsPerBand(1L << 20, bands = 2) == 16)
    assert(Similarity.autoRowsPerBand(1L << 20, bands = 4) == 16)
    // doubling n adds one bit per band — the anti-quadratic property
    assert(Similarity.autoRowsPerBand(1L << 21, bands = 2) == 17)
    // small corpora floor at 4 bits/band
    assert(Similarity.autoRowsPerBand(10L, bands = 4) == 4)
    assert(Similarity.autoRowsPerBand(10L, bands = 8) == 4)
    // each band is its own long: no cap on the total, and even a
    // Long.MaxValue corpus needs only 59 bits per band (16·2^59 = 2^63)
    (1 to 16).foreach { b =>
      assert(Similarity.autoRowsPerBand(Long.MaxValue, bands = b) == 59, s"bands=$b")
    }
    // integer-exact boundary: needed bits step exactly when 16*2^b < n
    assert(Similarity.autoRowsPerBand(32L * 16, bands = 16) == 5)
    assert(Similarity.autoRowsPerBand(32L * 16 + 1, bands = 16) == 6)
    intercept[IllegalArgumentException] { Similarity.autoRowsPerBand(0L, 2) }
    intercept[IllegalArgumentException] { Similarity.autoRowsPerBand(10L, 0) }
  }

  test("autoNBits: floors at 16 total bits, tracks corpus growth, caps at the shift budget") {
    // tiny corpora keep a 16-bit total width (bands * rowsPerBand)...
    assert(2 * Similarity.autoRowsPerBand(100L, bands = 2) == 16)
    assert(4 * Similarity.autoRowsPerBand(100L, bands = 4) == 16)
    // ...and the width GROWS with the corpus — one bit per band per
    // doubling once past the floor
    assert(Similarity.autoRowsPerBand(1L << 20, bands = 2) == 16)
    assert(Similarity.autoRowsPerBand(1L << 21, bands = 2) == 17)
    assert(Similarity.autoRowsPerBand(1L << 30, bands = 2) == 26)
    val decades = Seq(1L << 10, 1L << 12, 1L << 14, 1L << 16, 1L << 18, 1L << 40)
    val widths = decades.map(n => Similarity.autoRowsPerBand(n, bands = 4))
    assert(widths == widths.sorted && widths.distinct.size >= 5,
      s"auto width must track corpus growth, got $widths")
    assert(widths.last == 36)
    // the per-band shift budget is 62 bits; the auto width saturates
    // below it for any Long corpus size
    assert(widths.forall(_ <= 62))
    assert(Similarity.autoRowsPerBand(Long.MaxValue, bands = 2) <= 62)
  }

  test("knnGraph family: rowsPerBand=0 auto-sizes; rowsPerBand past 62 fails loudly") {
    val d = emb((1L to 10L).map(i =>
      i -> Seq(math.cos(i * 0.5), math.sin(i * 0.5))): _*)
    // 10 vectors -> the 4-bit floor binds, so auto == explicit 4
    val auto = Similarity.knnGraph(d, "vec_id", "embedding", k = 2, dim = 2, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sortBy(t => (t._1, t._3)).toSeq
    val explicit = Similarity.knnGraph(d, "vec_id", "embedding", k = 2,
        dim = 2, rowsPerBand = 4, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sortBy(t => (t._1, t._3)).toSeq
    assert(auto == explicit, "auto width must equal its floor on a tiny corpus")
    // a band past one long's 62-bit budget fails loudly instead of
    // silently aliasing bucket bits (shift distances wrap mod 64)
    val e = intercept[IllegalArgumentException] {
      Similarity.knnGraph(d, "vec_id", "embedding", k = 2, dim = 2, rowsPerBand = 63, bands = 2)
    }
    assert(e.getMessage.contains("62"), s"want the budget named, got: ${e.getMessage}")
    intercept[IllegalArgumentException] {
      Similarity.knnGraphQuantized(d, "vec_id", "embedding", k = 2, dim = 2,
        rowsPerBand = 63, bands = 4)
    }
    intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairs(d, "vec_id", "embedding", threshold = 0.9,
        dim = 2, rowsPerBand = 63, bands = 4)
    }
    // the index's bkey packs the band index above the bucket bits
    intercept[IllegalArgumentException] {
      Similarity.knnGraphIndex(d, "vec_id", "embedding", dim = 2,
        rowsPerBand = 61, bands = 8)
    }
  }

  test("knnGraphAgainstIndex: batch edges equal brute top-k vs the standing corpus") {
    // single-bit bands admit all pairs (the knnGraph differential
    // pattern), so the incremental probe must equal an exhaustive
    // per-batch-node top-2 against the STANDING side — and emit only
    // batch -> standing edges, exact cosines
    val standing = (10L to 19L).map(i =>
      i -> Seq(math.cos(i * 0.4), math.sin(i * 0.4), (i % 4) * 0.1))
    val batch = (1L to 3L).map(i =>
      i -> Seq(math.cos(i * 1.1), math.sin(i * 1.1), 0.15))
    val sd = emb(standing: _*)
    val bd = emb(batch: _*)
    val (banded, payload, params) = Similarity.knnGraphIndex(
      sd, "vec_id", "embedding", dim = 3, rowsPerBand = 1, bands = 8)
    val out = Similarity.knnGraphAgainstIndex(banded, payload, params,
        bd, "vec_id", "embedding", k = 2, dim = 3, rowsPerBand = 1, bands = 8,
        rerankFactor = 8)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val sm = standing.toMap
    batch.foreach { case (id, v) =>
      val brute = sm.keys.toSeq.sortBy(n => (-cos(v, sm(n)), n)).take(2)
      assert(out((id, 1)) == brute.head && out((id, 2)) == brute(1),
        s"batch node $id: got ${out.filter(_._1._1 == id)}, brute $brute")
    }
    assert(out.values.forall(n => n >= 10L && n <= 19L),
      s"edges must point INTO the standing corpus only: $out")
    assert(out.keys.map(_._1).forall(id => id >= 1L && id <= 3L),
      s"edges must start at batch nodes only: $out")
  }

  // ---- the two-shuffle kNN pipeline, kept as the reference ----------------
  // As it shipped before the verify tails ran on one id-keyed exchange:
  // params from a count plus the posexplode/min/max pipeline, 1-byte codes
  // from the transform lambda, the candidate dedup shuffled by the pair and
  // the windows by id, the payloads joined per side.

  private object TwoShuffle {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._

    def width(df: DataFrame, rowsPerBand: Int, bands: Int): Int =
      if (rowsPerBand == 0) Similarity.autoRowsPerBand(math.max(df.count(), 1L), bands)
      else rowsPerBand

    def params(df: DataFrame, vecCol: String, dim: Int): (Column, Column) = {
      val checked = when(col(vecCol).isNull, lit(null).cast("array<double>"))
        .when(size(col(vecCol)) === dim, col(vecCol).cast("array<double>"))
        .otherwise(raise_error(concat(
          lit(s"sq8Params: expected dim=$dim vectors, got size="),
          size(col(vecCol)).cast("string"))))
      val row = df.select(posexplode(checked).as(Seq("pos", "x")))
        .groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mn"), col("mx")))).as("pm"))
        .select(
          transform(col("pm"), s => s.getField("mn")).as("mins"),
          transform(col("pm"), s => s.getField("mx") - s.getField("mn")).as("widths"))
        .head()
      (typedLit(row.getSeq[Double](0)), typedLit(row.getSeq[Double](1)))
    }

    def codes8(vec: Column, mins: Column, widths: Column): Column =
      transform(vec, (x, i) => {
        val mn = element_at(mins, i + 1)
        val wd = element_at(widths, i + 1)
        (when(wd === 0.0, lit(0)).otherwise(
          least(lit(255.0), greatest(lit(0.0),
            floor((x.cast("double") - mn) / wd * lit(255.0) + lit(0.5)))).cast("int")) -
          lit(128)).cast("tinyint")
      })

    def banded(df: DataFrame, bands: Int, rpb: Int, dim: Int,
        params: Option[(Column, Column)]): DataFrame = {
      val base = Seq(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"),
        Similarity.bandBuckets(col("embedding"), bands, rpb, dim).as("buckets"))
      val codes = params.toSeq.map { case (m, w) =>
        codes8(col("embedding").cast("array<double>"), m, w).as("codes8") }
      df.select(base ++ codes: _*).localCheckpoint(true)
    }

    def bandRows(b: DataFrame): DataFrame =
      b.select(col("id"), posexplode(col("buckets")).as(Seq("band", "bucket")))

    def dedup(pairs: DataFrame): DataFrame =
      pairs.where(col("id") =!= col("nbr")).select("id", "nbr").dropDuplicates("id", "nbr")

    def candidates(b: DataFrame): DataFrame = {
      val rows = bandRows(b)
      dedup(rows.join(rows.select(col("band"), col("bucket"), col("id").as("nbr")),
        Seq("band", "bucket")))
    }

    def exact(cands: DataFrame, idVecs: DataFrame, nbrVecs: DataFrame, k: Int): DataFrame = {
      val w = Window.partitionBy("id").orderBy(col("cosine").desc, col("nbr").asc)
      cands
        .join(idVecs, Seq("id"))
        .join(nbrVecs.select(col("id").as("nbr"), col("vec").as("__vb")), Seq("nbr"))
        .withColumn("cosine", Similarity.cosine(col("vec"), col("__vb")))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select("id", "nbr", "cosine", "rank")
    }

    def verify(cands: DataFrame, idSide: DataFrame, nbrSide: DataFrame,
        params: (Column, Column), k: Int, rerankFactor: Int): DataFrame = {
      import org.apache.spark.sql.graft.ColumnBridge
      val adc = ColumnBridge.column(graft.functions.Sq8AdcCosine(
        ColumnBridge.expression(col("codes8")), ColumnBridge.expression(col("__cb")),
        ColumnBridge.expression(params._1), ColumnBridge.expression(params._2)))
      val wq = Window.partitionBy("id").orderBy(col("qcos").desc, col("nbr").asc)
      val survivors = cands
        .join(idSide.select(col("id"), col("codes8")), Seq("id"))
        .join(nbrSide.select(col("id").as("nbr"), col("codes8").as("__cb")), Seq("nbr"))
        .select(col("id"), col("nbr"), adc.as("qcos"))
        .withColumn("__qrank", row_number().over(wq))
        .where(col("__qrank") <= k * rerankFactor)
        .select("id", "nbr")
      exact(survivors, idSide.select(col("id"), col("vec")),
        nbrSide.select(col("id"), col("vec")), k)
    }

    def knnGraph(df: DataFrame, k: Int, dim: Int, rowsPerBand: Int, bands: Int): DataFrame = {
      val b = banded(df, bands, width(df, rowsPerBand, bands), dim, None)
      val vecs = b.select(col("id"), col("vec"))
      exact(candidates(b), vecs, vecs, k)
    }

    def knnGraphQuantized(df: DataFrame, k: Int, dim: Int, rowsPerBand: Int, bands: Int,
        rerankFactor: Int): DataFrame = {
      val rpb = width(df, rowsPerBand, bands)
      val p = params(df, "embedding", dim)
      val b = banded(df, bands, rpb, dim, Some(p))
      verify(candidates(b), b, b, p, k, rerankFactor)
    }

    def knnGraphAgainstIndex(standing: DataFrame, batch: DataFrame, k: Int, dim: Int,
        rowsPerBand: Int, bands: Int, rerankFactor: Int): DataFrame = {
      val p = params(standing, "embedding", dim)
      def bkeys(b: DataFrame) = bandRows(b).select(
        (col("band").cast("long") * lit(1L << rowsPerBand) + col("bucket")).as("bkey"), col("id"))
      val index = banded(standing, bands, rowsPerBand, dim, Some(p))
      val probe = banded(batch, bands, rowsPerBand, dim, Some(p))
      val cands = dedup(bkeys(probe)
        .join(bkeys(index).select(col("bkey"), col("id").as("nbr")), Seq("bkey")))
      verify(cands, probe, index, p, k, rerankFactor)
    }
  }

  /** Ids 0..39 random; 40..47 exact copies of 0..7 (cosine and qcos ties);
    * 48..55 copies of 8..15 nudged below one SQ8 level (qcos ties, distinct
    * cosines); 56..59 doubled copies; two NULL vectors; and, for the
    * operators that accept them, two empty vectors. */
  private def knnCorpus(dim: Int, withEmpty: Boolean, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val base = (0L until 40L).map(i => i -> Seq.fill(dim)(rnd.nextGaussian()))
    val copies = (0 until 8).map(i => (40L + i) -> base(i)._2)
    val nudged = (8 until 16).map(i => (40L + i) -> base(i)._2.map(_ + 1e-9))
    val doubled = (16 until 20).map(i => (40L + i) -> base(i)._2.map(_ * 2))
    val rows = (base ++ copies ++ nudged ++ doubled).map { case (i, v) => Row(i, v) } ++
      Seq(Row(60L, null), Row(61L, null)) ++
      (if (withEmpty) Seq(Row(62L, Seq.empty[Double]), Row(63L, Seq.empty[Double])) else Nil)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))
  }

  /** The sorted edge rows, or the condition of the deepest Spark error. */
  private def outcome(df: => org.apache.spark.sql.DataFrame): Either[String, Seq[Row]] =
    try Right(df.collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(3))))
    catch { case e: Exception =>
      Left(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collect { case t: org.apache.spark.SparkThrowable => t.getCondition }.toSeq.last)
    }

  test("kNN verify on one id-keyed shuffle: rows equal the two-shuffle pipeline") {
    import org.apache.spark.sql.functions.col
    val dim = 4
    // (rowsPerBand, bands, k, rerankFactor): many shared bands so
    // candidates repeat; wide bands so nodes hold fewer than k candidates;
    // the auto width
    val configs = Seq((2, 6, 3, 2), (8, 2, 5, 1), (0, 4, 4, 4))
    var sawRepeats, sawShort, sawTies = false
    for ((rpb, bands, k, rf) <- configs; withEmpty <- Seq(false, true)) {
      val what = s"rowsPerBand=$rpb bands=$bands k=$k rerankFactor=$rf empty=$withEmpty"
      val corpus = knnCorpus(dim, withEmpty, seed = 21)
      val standing = corpus.where(col("vec_id") % 3 =!= 0)
      val batch = corpus.where(col("vec_id") % 3 === 0)
      val probeWidth = if (rpb == 0) 4 else rpb
      val outcomes = Seq(
        "knnGraph" -> (outcome(Similarity.knnGraph(corpus, "vec_id", "embedding", k, dim,
          rpb, bands)), outcome(TwoShuffle.knnGraph(corpus, k, dim, rpb, bands))),
        "knnGraphQuantized" -> (outcome(Similarity.knnGraphQuantized(corpus, "vec_id",
          "embedding", k, dim, rpb, bands, rf)),
          outcome(TwoShuffle.knnGraphQuantized(corpus, k, dim, rpb, bands, rf))),
        "knnGraphAgainstIndex" -> (outcome {
          val (banding, payload, params) = Similarity.knnGraphIndex(standing, "vec_id",
            "embedding", dim, probeWidth, bands)
          Similarity.knnGraphAgainstIndex(banding, payload, params, batch, "vec_id",
            "embedding", k, dim, probeWidth, bands, rf)
        }, outcome(TwoShuffle.knnGraphAgainstIndex(standing, batch, k, dim, probeWidth,
          bands, rf))))
      for ((op, (fast, ref)) <- outcomes) {
        // empty vectors fail every operator with the dim check (the
        // two-shuffle knnGraph divides by their zero norm under ANSI
        // instead); NULL vectors only drop out
        if (withEmpty && op == "knnGraph") {
          assert(ref == Left("DIVIDE_BY_ZERO"), s"$op $what: $ref")
          assert(fast == Left("USER_RAISED_EXCEPTION"), s"$op $what: $fast")
        } else assert(fast == ref, s"$op $what")
        if (!withEmpty) assert(ref.isRight, s"$op $what: $ref")
        ref.foreach { edges =>
          val perNode = edges.groupBy(_.getLong(0))
          sawShort ||= perNode.values.exists(_.size < k)
          sawTies ||= perNode.values.exists(es => es.map(_.getDouble(2)).distinct.size < es.size)
        }
      }
      val rows = TwoShuffle.bandRows(TwoShuffle.banded(corpus, bands,
        TwoShuffle.width(corpus, rpb, bands), dim, None))
      sawRepeats ||= rows.join(rows.withColumnRenamed("id", "nbr"), Seq("band", "bucket"))
        .where("id < nbr").groupBy("id", "nbr").count().where("count > 1").head(1).nonEmpty
    }
    // knnGraph, knnGraphQuantized and cosineNearDupPairs reject an empty
    // vector with one message
    for (build <- Seq[org.apache.spark.sql.DataFrame => Unit](
        c => Similarity.knnGraph(c, "vec_id", "embedding", 3, dim, 4, 4).collect(),
        c => Similarity.knnGraphQuantized(c, "vec_id", "embedding", 3, dim, 4, 4).collect(),
        c => Similarity.cosineNearDupPairs(c, "vec_id", "embedding", 0.5, dim, 4, 4).collect())) {
      val e = intercept[Exception](build(knnCorpus(dim, withEmpty = true, seed = 21)))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains(s"expected dim=$dim vectors, got size=0"))),
        e.toString)
    }
    assert(sawRepeats && sawShort && sawTies,
      s"corpus must exercise repeated candidates ($sawRepeats), nodes short of k " +
        s"($sawShort) and cosine ties ($sawTies)")
  }

  test("hubness: k-occurrence counts with anti-hubs kept at zero") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 2L))
      .toDF("id", "nbr")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("vec_id")
    val out = Similarity.hubness(edges, nodes, "vec_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 0L),
      s"hand counts mismatch: $out")
  }

  test("bandBucketMd5: bit-identical to the packed signature's band extraction") {
    // bandBuckets (the banding of every banded operator) against the
    // whole-width md5 signature shifted and masked per band — the form
    // the oracle SQL twins replay
    import org.apache.spark.sql.functions._
    val d = emb((1L to 8L).map(i =>
      i -> Seq(math.cos(i * 0.9), math.sin(i * 0.9), (i % 3) * 0.4)): _*)
    val rpb = 5; val bands = 3 // 15 bits in total, one long holds it
    val packed = d.select(col("vec_id"),
        Similarity.lshSignatureMd5(col("embedding"), rpb * bands, 3).as("sig"))
      .select(col("vec_id"), array((0 until bands).map(b =>
        shiftright(col("sig"), b * rpb).bitwiseAND(lit((1L << rpb) - 1))): _*).as("pb"))
    val banded = d.select(col("vec_id"),
      Similarity.bandBuckets(col("embedding"), bands, rpb, 3).as("wb"))
    val joined = packed.join(banded, "vec_id")
      .collect().map(r => (r.getSeq[Long](1), r.getSeq[Long](2)))
    assert(joined.length == 8)
    joined.foreach { case (p, w) =>
      assert(p == w, s"band buckets diverged: packed $p vs bandBuckets $w")
    }
  }

  test("capHubEdges: planted hub prunes to maxOcc highest-cosine in-edges, others untouched") {
    import spark.implicits._
    // node 100 is the planted hub: five nodes list it; nodes 2/3 have
    // normal in-degrees. Cosines chosen so the cap's keep-set is
    // unambiguous (.95/.90 survive at maxOcc=2) plus a TIE at .85
    // between ids 4 and 5 to pin the id-asc break.
    val edges = Seq(
      (1L, 100L, 0.95, 1), (2L, 100L, 0.90, 1), (3L, 100L, 0.85, 1),
      (4L, 100L, 0.85, 2), (5L, 100L, 0.80, 1),
      (1L, 2L, 0.70, 2), (3L, 2L, 0.60, 2), (100L, 3L, 0.50, 1))
      .toDF("id", "nbr", "cosine", "rank")
    val out = Similarity.capHubEdges(edges, maxOcc = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the hub keeps exactly its top-2 by (cosine desc, id asc)
    assert(out.count(_._2 == 100L) == 2, s"hub not capped: $out")
    assert(out.contains((1L, 100L)) && out.contains((2L, 100L)),
      s"cap must keep the highest-cosine in-edges: $out")
    // under-cap neighbors are untouched
    assert(out.contains((1L, 2L)) && out.contains((3L, 2L)) &&
      out.contains((100L, 3L)), s"non-hub edges must survive: $out")
    assert(out.size == 5, s"got $out")
    // tie-break determinism: at maxOcc=3 the .85 tie admits id 3, not 4
    val out3 = Similarity.capHubEdges(edges, maxOcc = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out3.contains((3L, 100L)) && !out3.contains((4L, 100L)),
      s"tie must break id-asc: $out3")
    // the diagnostic-consumer contract: post-cap k_occurrence <= maxOcc
    val occ = Similarity.hubness(Similarity.capHubEdges(edges, 2),
        Seq(1L, 2L, 3L, 4L, 5L, 100L).toDF("vec_id"), "vec_id")
      .collect().map(r => r.getLong(1))
    assert(occ.forall(_ <= 2), s"capped occurrence must be <= maxOcc: ${occ.toSeq}")
    intercept[IllegalArgumentException] { Similarity.capHubEdges(edges, 0) }
  }

  test("mutualKnnEdges: only reciprocated pairs survive, rows otherwise intact") {
    import spark.implicits._
    val edges = Seq(
      (1L, 2L, 0.9, 1), (2L, 1L, 0.9, 1),   // mutual pair
      (3L, 1L, 0.8, 1),                       // 1 does not list 3 back
      (2L, 3L, 0.7, 2), (3L, 2L, 0.7, 2))     // mutual pair
      .toDF("id", "nbr", "cosine", "rank")
    val out = Similarity.mutualKnnEdges(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(out == Set((1L, 2L, 0.9, 1), (2L, 1L, 0.9, 1),
      (2L, 3L, 0.7, 2), (3L, 2L, 0.7, 2)), s"got $out")
    // symmetric as a node-pair set by construction
    assert(out.forall(e => out.exists(o => o._1 == e._2 && o._2 == e._1)))
  }

  test("embeddingDrift: exact micro-unit means and deltas match a hand replica") {
    val old = emb(0L -> Seq(0.1, -0.2), 1L -> Seq(0.3, 0.4), 2L -> Seq(0.5, 0.6))
    val neu = emb(0L -> Seq(0.6, -0.2), 1L -> Seq(0.8, 0.4), 2L -> Seq(1.0, 0.6))
    val out = Similarity.embeddingDrift(old, neu, "embedding", dim = 2)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def meanQ(vals: Seq[Double]): Long =
      Math.floorDiv(vals.map(x => math.floor((x + 8.0) * 1e6 + 0.5).toLong).sum,
        vals.size.toLong) - 8000000L
    val mo0 = meanQ(Seq(0.1, 0.3, 0.5)); val mn0 = meanQ(Seq(0.6, 0.8, 1.0))
    val mo1 = meanQ(Seq(-0.2, 0.4, 0.6))
    assert(out(0) == ((mo0, mn0, mn0 - mo0)), s"dim0: $out")
    assert(out(1) == ((mo1, mo1, 0L)), s"dim1 must not drift: $out")
    // identical snapshots: zero deltas, centroid cosine exactly 1
    val same = Similarity.embeddingDriftSummary(old, old, "embedding", dim = 2)
      .collect().head
    assert(same.getLong(0) == 2L && same.getDouble(1) == 1.0 &&
      same.getLong(2) == 0L, s"self-drift must be null: $same")
    val drift = Similarity.embeddingDriftSummary(old, neu, "embedding", dim = 2)
      .collect().head
    assert(drift.getLong(2) == mn0 - mo0, s"worst shift: $drift")
  }

  test("embeddingDrift: out-of-range and ragged vectors fail loudly") {
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val ok = emb(0L -> Seq(0.1, 0.2))
    val big = emb(0L -> Seq(8.5, 0.0))
    val e1 = intercept[Exception] {
      Similarity.embeddingDrift(ok, big, "embedding", dim = 2).collect()
    }
    assert(chain(e1).contains("(-8, 8)"), chain(e1))
    val ragged = emb(0L -> Seq(1.0))
    val e2 = intercept[Exception] {
      Similarity.embeddingDrift(ragged, ok, "embedding", dim = 2).collect()
    }
    assert(chain(e2).contains("embeddingDrift"), chain(e2))
  }

  test("outlierScores: the far vector flags, d2 matches a hand replica") {
    // 3 near-origin vectors + one at (4, 4): mean lands near (1, 1)
    val d = emb(0L -> Seq(0.0, 0.0), 1L -> Seq(0.1, 0.0),
      2L -> Seq(-0.1, 0.0), 3L -> Seq(4.0, 4.0))
    val out = Similarity.outlierScores(d, "vec_id", "embedding",
        dim = 2, zThreshold = 1.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(3)))).toMap
    // hand replica of the exact integer pipeline
    val vecs = Map(0L -> Seq(0.0, 0.0), 1L -> Seq(0.1, 0.0),
      2L -> Seq(-0.1, 0.0), 3L -> Seq(4.0, 4.0))
    val q = vecs.view.mapValues(_.map(x =>
      math.floor((x + 8.0) * 1e6 + 0.5).toLong)).toMap
    val mean = (0 until 2).map(i =>
      Math.floorDiv(q.values.map(_(i)).sum, q.size.toLong))
    val d2 = q.view.mapValues(v =>
      v.zip(mean).map { case (a, b) => (a - b) * (a - b) }.sum).toMap
    d2.foreach { case (id, expected) =>
      assert(out(id)._1 == expected, s"d2 mismatch for $id: $out vs $d2")
    }
    assert(out(3L)._2, s"the far vector must flag: $out")
    assert(!out(0L)._2 && !out(1L)._2 && !out(2L)._2,
      s"near-mean vectors must not flag: $out")
  }

  test("outlierScores: result is partitioning-independent bit for bit") {
    val rows = (0L until 40L).map(i =>
      i -> Seq(math.sin(i.toDouble) * 0.4, math.cos(i.toDouble) * 0.4, i / 40.0))
    def run(parts: Int) = {
      val d = spark.createDataFrame(rows).toDF("vec_id", "embedding")
        .repartition(parts)
      Similarity.outlierScores(d, "vec_id", "embedding", dim = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getBoolean(3))).sortBy(_._1).toSeq
    }
    assert(run(1) == run(7), "z-scores drifted across partitionings")
  }

  test("outlierScores: zero spread keeps every row with z NULL, never an empty frame") {
    // all-identical vectors (and the n=1 corpus): the centered variance
    // sum is exactly 0 — rows must survive with z NULL / is_outlier
    // false, so callers can't misread "no rows" as "no outliers"
    val same = emb(0L -> Seq(0.5, -0.25), 1L -> Seq(0.5, -0.25),
      2L -> Seq(0.5, -0.25))
    val out = Similarity.outlierScores(same, "vec_id", "embedding", dim = 2)
      .collect().sortBy(_.getLong(0))
    assert(out.length == 3, s"expected all rows back, got ${out.length}")
    assert(out.forall(_.isNullAt(2)), "z must be NULL at zero spread")
    assert(out.forall(!_.getBoolean(3)), "is_outlier must be false at zero spread")
    val single = emb(7L -> Seq(1.0, 2.0))
    val one = Similarity.outlierScores(single, "vec_id", "embedding", dim = 2)
      .collect()
    assert(one.length == 1 && one(0).isNullAt(2) && !one(0).getBoolean(3),
      s"n=1 must emit its row with z NULL: ${one.toSeq}")
  }

  test("outlierScores: out-of-range elements fail loudly, ragged dims fail loudly") {
    val tooBig = emb(0L -> Seq(9.5, 0.0), 1L -> Seq(0.0, 0.0))
    val e1 = intercept[Exception] {
      Similarity.outlierScores(tooBig, "vec_id", "embedding", dim = 2).collect()
    }
    assert(e1.getMessage.contains("(-8, 8)"), e1.getMessage)
    val ragged = emb(0L -> Seq(1.0, 2.0), 1L -> Seq(3.0))
    val e2 = intercept[Exception] {
      Similarity.outlierScores(ragged, "vec_id", "embedding", dim = 2).collect()
    }
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(chain(e2).contains("outlierScores"), chain(e2))
  }
}
