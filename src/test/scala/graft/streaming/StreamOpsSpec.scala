package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Similarity

class StreamOpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // keep event times well above epoch 0: the initial watermark is 0 and
  // a row at exactly epoch 0 would be discarded as late data
  private def ts(minutes: Long): Timestamp = new Timestamp(1700000000000L + minutes * 60000L)

  test("streaming sessionize: session_window groups by gap, watermark closes sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val sessions = StreamOps.sessionize(
      input.toDF().toDF("user_id", "ts", "value"), gapSeconds = 600)
    val q = sessions.writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: two events 5 min apart (one session), then 20 min gap (new one)
      input.addData((1L, ts(0), 1.0), (1L, ts(5), 2.0), (1L, ts(25), 4.0))
      q.processAllAvailable()
      // advance watermark far enough to close everything
      input.addData((9L, ts(1000), 0.0))
      q.processAllAvailable()
      val rows = spark.table("sessions_out")
        .select("user_id", "n_events", "sum_value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.contains((1L, 2L, 3.0)), s"first session wrong: $rows")
      assert(rows.contains((1L, 1L, 4.0)), s"second session wrong: $rows")
    } finally q.stop()
  }

  test("streaming windowed rollup: buckets close at the watermark, batch-identical rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val rollup = StreamOps.windowedRollup(
      input.toDF().toDF("ts", "event_type", "value"), windowLength = "10 minutes",
      watermarkDelay = "10 minutes")
    val q = rollup.writeStream.format("memory").queryName("rollup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // epoch-aligned 10-min buckets (the fixture base is NOT aligned, so
      // derive starts the way window() does): clicks land in one bucket,
      // both views in the next
      def bucketUs(t: Timestamp): Long = t.getTime / 600000L * 600000L * 1000L
      val bClick = bucketUs(ts(1))
      val bView = bucketUs(ts(9))
      assert(bucketUs(ts(4)) == bClick && bucketUs(ts(11)) == bView && bClick != bView,
        "fixture must straddle exactly two buckets")
      input.addData((ts(1), "click", 1.0), (ts(4), "click", 2.0),
        (ts(9), "view", 4.0), (ts(11), "view", 8.0))
      q.processAllAvailable()
      input.addData((ts(1000), "noise", 0.0)) // advance watermark, close buckets
      q.processAllAvailable()
      val rows = spark.table("rollup_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows.contains((bClick, "click", 2L, 3.0)), s"click bucket wrong: $rows")
      assert(rows.contains((bView, "view", 2L, 12.0)), s"view bucket wrong: $rows")
    } finally q.stop()
  }

  test("streaming hopping rollup: each event lands in length/slide buckets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val rollup = StreamOps.hoppingRollup(
      input.toDF().toDF("ts", "event_type", "value"),
      windowLength = "20 minutes", slide = "10 minutes",
      watermarkDelay = "10 minutes")
    val q = rollup.writeStream.format("memory").queryName("hop_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // one event at ts(25): covered by the two 20-min windows starting
      // at the 10-min-aligned marks <= its time
      def slot(t: Timestamp): Long = t.getTime / 600000L * 600000L * 1000L
      val e = ts(25)
      input.addData((e, "click", 3.0))
      q.processAllAvailable()
      input.addData((ts(1000), "noise", 0.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("hop_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .filter(_._2 == "click").toSet
      val w1 = slot(e)                       // window [w1, w1+20m)
      val w0 = w1 - 600000000L               // window [w0, w0+20m)
      assert(rows == Set((w0, "click", 1L, 3.0), (w1, "click", 1L, 3.0)),
        s"one event must appear in exactly the 2 covering windows: $rows")
    } finally q.stop()
  }

  test("streaming dedup by fingerprint keeps first occurrence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val deduped = StreamOps.dedupByFingerprint(
      input.toDF().toDF("doc_id", "ts", "text"), textCol = "text", tsCol = "ts")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // across micro-batches, the earliest-arriving fingerprint wins
      // (within one batch the representative is arbitrary)
      input.addData((1L, ts(0), "Hello,   World!"))
      q.processAllAvailable()
      input.addData(
        (2L, ts(1), "hello world"),      // same fingerprint as 1 -> dropped
        (3L, ts(2), "something else"))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("streaming ANN probe: stream-static bucket join finds the exact best match") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val index = Similarity.lshIndex(corpus, "vec_id", "embedding", nBits = 4, dim = 64)
      .localCheckpoint(true) // the persisted static index
    // queries = corpus vectors 3 and 4; at the exhaustive probe setting the
    // best non-self match must equal the batch brute-force answer
    val qVecs = corpus.where(org.apache.spark.sql.functions.col("vec_id").isin(3L, 4L))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble))).toSeq
    val brute = Similarity.topKForQueries(corpus,
        corpus.where(org.apache.spark.sql.functions.col("vec_id").isin(3L, 4L)),
        "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val input = MemoryStream[(Long, Seq[Double])]
    val best = StreamOps.annProbe(
      input.toDF().toDF("query_id", "embedding"), index,
      nBits = 4, probeRadius = 4, dim = 64)
    val q = best.writeStream.format("memory").queryName("ann_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(qVecs: _*)
      q.processAllAvailable()
      val out = spark.table("ann_out").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the probe sees the query vector itself in the corpus (cosine 1);
      // compare against brute with self excluded by dropping self matches
      assert(out.keySet == Set(3L, 4L))
      out.foreach { case (qid, cid) =>
        assert(cid == qid || cid == brute(qid),
          s"query $qid: best=$cid, expected self or ${brute(qid)}")
      }
      // self IS in the corpus, so the top hit must be the query itself
      assert(out == Map(3L -> 3L, 4L -> 4L))
    } finally q.stop()
  }

  test("stateless text stats run on a stream with batch-identical results") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stats = StreamOps.textStats(input.toDF().toDF("doc_id", "text"))
    val q = stats.writeStream.format("memory").queryName("stats_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "the quick brown fox"), (2L, "der hund und die katze ist da"))
      q.processAllAvailable()
      val out = spark.table("stats_out")
        .select("doc_id", "n_ws_tokens", "lang").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(out == Set((1L, 4, "en"), (2L, 7, "de")))
      // batch equivalence
      val batch = StreamOps.textStats(
        Seq((1L, "the quick brown fox"), (2L, "der hund und die katze ist da"))
          .toDF("doc_id", "text"))
        .select("doc_id", "n_ws_tokens", "lang").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(batch == out)
    } finally q.stop()
  }

  test("BPE segmentation runs verbatim on a stream: tokenize-on-ingest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // train once (batch, driver artifact), apply to arriving documents —
    // the broadcast-ranks mapPartitions is stateless, so the SAME segment
    // call works unchanged in append mode
    val corpus = Seq((1L, "low low low lower lowest"), (2L, "low lower newest"))
    val merges = graft.operators.Bpe.trainOnCorpus(
      corpus.toDF("doc_id", "text"), "text", numMerges = 8)
    val input = MemoryStream[(Long, String)]
    val seg = graft.operators.Bpe.segment(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", merges)
    val q = seg.writeStream.format("memory").queryName("bpe_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((10L, "low lowest unseen"), (11L, "lower"))
      q.processAllAvailable()
      val out = spark.table("bpe_out")
        .select("doc_id", "tokens", "n_tokens").collect()
        .map(r => (r.getLong(0), r.getSeq[String](1), r.getInt(2))).toSet
      val batch = graft.operators.Bpe.segment(
          Seq((10L, "low lowest unseen"), (11L, "lower")).toDF("doc_id", "text"),
          "doc_id", "text", merges)
        .collect().map(r => (r.getLong(0), r.getSeq[String](1), r.getInt(2))).toSet
      assert(out == batch, s"stream result must equal batch: $out vs $batch")
      assert(out.map(_._1) == Set(10L, 11L) && out.forall(_._3 > 0))
    } finally q.stop()
  }

  test("document chunking runs verbatim on a stream (stateless column algebra)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val chunked = graft.operators.Chunking.chunk(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      chunkTokens = 3, overlapTokens = 0)
    val q = chunked.writeStream.format("memory").queryName("chunk_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "a b c d e"), (2L, ""))
      q.processAllAvailable()
      val rows = spark.table("chunk_out")
        .select("doc_id", "chunk_idx", "chunk_text").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(rows == Set((1L, 0, "a b c"), (1L, 1, "d e")),
        s"empty docs chunk to nothing, windows match batch: $rows")
    } finally q.stop()
  }

  test("streaming curate filters junk and scrubs PII, stateless") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val curated = StreamOps.curate(
      input.toDF().toDF("doc_id", "text"), minQuality = 0.3, minTokens = 5)
    val q = curated.writeStream.format("memory").queryName("curate_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, "the quick brown fox jumps over the lazy dog and mails bob123@example.com today"),
        (2L, "spam spam spam spam spam spam spam spam"), // dup-token frac 7/8
        (3L, "too short"))
      q.processAllAvailable()
      val rows = spark.table("curate_out").select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.keySet == Set(1L), s"got ${rows.keySet}")
      assert(rows(1L).contains("<EMAIL>") && !rows(1L).contains("example.com"))
    } finally q.stop()
  }

  test("streaming decontamination: stateless intersect matches the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "a b c d")).toDF("doc_id", "text").cache()
    val corpusRows = Seq(
      (1L, "x a b c d y"),  // shares both bench trigrams
      (2L, "a b x c d y"),  // shares none
      (3L, "q r s t u v"))  // clean
    val input = MemoryStream[(Long, String)]
    val flagged = StreamOps.decontaminate(
      input.toDF().toDF("doc_id", "text"), bench)
    val q = flagged.writeStream.format("memory").queryName("decon_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(corpusRows: _*)
      q.processAllAvailable()
      val out = spark.table("decon_out")
        .select("doc_id", "n_shingles", "n_contaminated").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(out == Set((1L, 4L, 2L)), s"got $out")
      // row-identical to the batch operator on the same data
      val batch = graft.operators.Decontamination.flagContaminated(
          corpusRows.toDF("doc_id", "text"), bench, "doc_id", "text")
        .select("doc_id", "n_shingles", "n_contaminated").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch == out, "stream and batch decontamination must agree")
    } finally q.stop()
    // r14 parity with the batch twin: the 1-row benchmark shingle-set
    // frame must join as an explicit BROADCAST nested-loop (the row
    // carries the whole bench set — ship it once, never shuffle it)
    val plan = StreamOps.decontaminate(
        corpusRows.toDF("doc_id", "text"), bench)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"bench side must broadcast, got:\n$plan")
  }

  test("incremental dedup runs per micro-batch via foreachBatch against a static corpus") {
    // jaccardPairsAgainst is a multi-aggregation dataflow (pair-keyed
    // groupBy after a join), which Structured Streaming can't run
    // incrementally in append mode — the standard production shape is
    // foreachBatch: every micro-batch is a bounded DataFrame, checked
    // with the batch operator VERBATIM (batch index broadcast, corpus
    // never shuffles), results forwarded to the sink.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "a b c d"), (2L, "p q r s"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val flagged = scala.collection.mutable.Set[(Long, Long)]()
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val pairs = graft.operators.Dedup.jaccardPairsAgainst(
            batch, corpus, "doc_id", "text", n = 1, threshold = 0.5)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        flagged.synchronized { flagged ++= pairs }
        ()
      }
      .start()
    try {
      input.addData((10L, "a b c e"), (11L, "fresh stuff entirely"))
      q.processAllAvailable()
      input.addData((12L, "p q r s"))
      q.processAllAvailable()
      assert(flagged.toSet == Set((10L, 1L), (12L, 2L)),
        s"micro-batch dedup must match the batch operator, got $flagged")
    } finally q.stop()
  }

  test("incremental dedup over micro-batches probes the PERSISTED index; union == batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "a b c d"), (2L, "p q r s"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    // write the corpus's inverted shingle index once, bucketed by shingle
    val tbl = "graft_test_stream_shingle_index"
    graft.sources.IndexStore.writeBucketed(
      graft.operators.Dedup.shingleIndex(corpus, "doc_id", "text", n = 1),
      tbl, "shingle", 4)
    val ingested = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val flagged = scala.collection.mutable.Set[(Long, Long)]()
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.incrementalDedup(
        input.toDF().toDF("doc_id", "text"),
        graft.sources.IndexStore.read(spark, tbl),
        n = 1, threshold = 0.5) { (pairs, _) =>
        val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
        flagged.synchronized { flagged ++= got }
        ()
      }
      .start()
    try {
      val b1 = Seq((10L, "a b c e"), (11L, "fresh stuff entirely"))
      val b2 = Seq((12L, "p q r s"), (13L, "x y q d"))
      ingested ++= b1; input.addData(b1: _*); q.processAllAvailable()
      ingested ++= b2; input.addData(b2: _*); q.processAllAvailable()
      // identity: micro-batched stream == one batch run on the concatenation
      val batchRun = graft.operators.Dedup.jaccardPairsAgainstIndex(
          ingested.toSeq.toDF("doc_id", "text"),
          graft.sources.IndexStore.read(spark, tbl),
          "doc_id", "text", n = 1, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(flagged.toSet == batchRun,
        s"stream union $flagged must equal batch run $batchRun")
      assert(flagged.toSet == Set((10L, 1L), (12L, 2L)),
        s"and both must be the true near-dup pairs, got $flagged")
    } finally q.stop()
  }

  test("streaming community refresh: micro-batches with write-back equal " +
      "sequential batch-side refreshes") {
    import spark.implicits._
    import graft.operators.{Communities, Dedup}
    implicit val sqlCtx = spark.sqlContext
    // standing corpus: two near-dup clusters {1,2} and {3,4} (n=1
    // shingles, threshold 0.5); the pair graph IS the standing graph
    val corpus = Seq((1L, "a b c d"), (2L, "a b c e"),
      (3L, "p q r s"), (4L, "p q r t")).toDF("doc_id", "text")
    val tbl = "graft_test_stream_refresh_index"
    graft.sources.IndexStore.writeBucketed(
      Dedup.shingleIndex(corpus, "doc_id", "text", n = 1), tbl, "shingle", 4)
    val standingPairs = Dedup.jaccardPairs(corpus, "doc_id", "text",
        n = 1, threshold = 0.5)
      .select($"id_a", $"id_b").localCheckpoint(true)
    // write-back state the by-name thunks re-read each micro-batch
    @volatile var adj = Communities.lpaAdjacency(standingPairs, "id_a", "id_b")
      .localCheckpoint(true)
    @volatile var seeds = Communities.labelPropagation(
      standingPairs, "id_a", "id_b", iterations = 2).localCheckpoint(true)
    def refreshBatchSide(docs: org.apache.spark.sql.DataFrame) = {
      val vs = Dedup.jaccardPairsAgainstIndex(docs,
          graft.sources.IndexStore.read(spark, tbl),
          "doc_id", "text", n = 1, threshold = 0.5)
        .select($"id_new".as("id_a"), $"id_corpus".as("id_b"))
      val within = Dedup.jaccardPairs(docs, "doc_id", "text",
          n = 1, threshold = 0.5).select($"id_a", $"id_b")
      val edges = vs.unionByName(within).localCheckpoint(true)
      val dirty = edges.select($"id_a".as("node"))
        .union(edges.select($"id_b".as("node"))).distinct()
      (Communities.communityRefreshAuto(adj, edges, "id_a", "id_b",
        seeds, dirty, hops = 2, iterations = 2), edges)
    }
    def writeBack(labels: org.apache.spark.sql.DataFrame,
        edges: org.apache.spark.sql.DataFrame): Unit = {
      seeds = labels
      adj = Communities.lpaAdjacency(
        standingPairs.unionByName(edges), "id_a", "id_b").localCheckpoint(true)
    }
    // expected: two SEQUENTIAL batch-side refreshes with write-back
    val b1 = Seq((10L, "a b c f"))   // joins cluster {1,2}
    val b2 = Seq((11L, "p q r u"))   // joins cluster {3,4}
    val (l1, e1) = refreshBatchSide(b1.toDF("doc_id", "text"))
    val exp1 = l1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    writeBack(l1, e1)
    val (l2, _) = refreshBatchSide(b2.toDF("doc_id", "text"))
    val exp2 = l2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reset the write-back state and stream the same two micro-batches
    adj = Communities.lpaAdjacency(standingPairs, "id_a", "id_b")
      .localCheckpoint(true)
    seeds = Communities.labelPropagation(
      standingPairs, "id_a", "id_b", iterations = 2).localCheckpoint(true)
    val got = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
    val pending = scala.collection.mutable.ArrayBuffer[Seq[(Long, String)]](b1, b2)
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.communityRefresh(
        input.toDF().toDF("doc_id", "text"),
        graft.sources.IndexStore.read(spark, tbl),
        adj, seeds, n = 1, threshold = 0.5,
        hops = 2, iterations = 2) { (labels, _) =>
        got.synchronized {
          got += labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          // write-back: the batch's edges re-derive from the docs just
          // processed (the pipeline knows its own ingest)
          val docs = pending.remove(0).toDF("doc_id", "text")
          val vs = Dedup.jaccardPairsAgainstIndex(docs,
              graft.sources.IndexStore.read(spark, tbl),
              "doc_id", "text", n = 1, threshold = 0.5)
            .select($"id_new".as("id_a"), $"id_corpus".as("id_b"))
          val within = Dedup.jaccardPairs(docs, "doc_id", "text",
              n = 1, threshold = 0.5).select($"id_a", $"id_b")
          writeBack(labels, vs.unionByName(within))
        }
        ()
      }
      .start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toSeq == Seq(exp1, exp2),
      s"stream with write-back diverged from sequential batch refreshes:\n" +
        s" got $got\n expected ${Seq(exp1, exp2)}")
    // sanity: the new docs joined their clusters' labels
    assert(exp1(10L) == exp1(1L) && exp2(11L) == exp2(3L),
      s"ingested docs must adopt their cluster labels: $exp1 / $exp2")
  }

  test("streaming wide-width kNN ingest: micro-batch union equals one batch probe") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val standing = emb.where(col("vec_id") >= 100)
    // 8 bands of 8 bits: a 64-bit total, past the single-long budget
    val (banded, payload, params) = Similarity.knnGraphIndex(
      standing, "vec_id", "embedding", dim = 64, rowsPerBand = 8, bands = 8)
    val b = banded.localCheckpoint(true)
    val p = payload.localCheckpoint(true)
    val pr = params.localCheckpoint(true)
    val ingested = scala.collection.mutable.ArrayBuffer[(Long, Seq[Float])]()
    val edges = scala.collection.mutable.Set[(Long, Long, Int)]()
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.knnIngest(
        input.toDF().toDF("vec_id", "embedding"), b, p, pr,
        dim = 64, rowsPerBand = 8, bands = 8, k = 3) { (out, _) =>
        val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
        edges.synchronized { edges ++= got }
        ()
      }
      .start()
    try {
      def rows(ids: Long*) = emb.where(col("vec_id").isin(ids: _*))
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toSeq
      val b1 = rows(1L, 7L)
      val b2 = rows(23L, 42L)
      ingested ++= b1; input.addData(b1: _*); q.processAllAvailable()
      ingested ++= b2; input.addData(b2: _*); q.processAllAvailable()
      val batchRun = Similarity.knnGraphAgainstIndex(b, p, pr,
          ingested.toSeq.toDF("vec_id", "embedding"),
          "vec_id", "embedding", k = 3, dim = 64, rowsPerBand = 8, bands = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(edges.toSet == batchRun,
        s"stream union must equal the one-shot batch probe:\n ${edges.toSet}\n vs $batchRun")
      assert(edges.nonEmpty, "the probe must produce edges for this corpus")
    } finally q.stop()
  }

  test("IVF-pruned streaming PQ probe equals the batch celled-codes ADC best match") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, transform}
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds8 = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .orderBy("vec_id").limit(8).collect().map(_.getSeq[Double](1).toSeq).toSeq
    val (index, cents) = Similarity.ivfIndex(emb, "vec_id", "embedding",
      trainedCentroids = Some(seeds8))
    val books = Similarity.pqSeedCodebooks(emb, "vec_id", "embedding", 8, 16)
    val celled = Similarity.pqEncode(emb, "vec_id", "embedding", books)
      .join(index.select(col("id"), col("cell")), Seq("id"))
      .localCheckpoint(true) // static side pinned across micro-batches
    val centTbl = Similarity.centroidTable(spark, cents).localCheckpoint(true)
    val queryIds = Seq(2L, 31L, 77L)
    val queryRows = emb.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")))
      .as[(Long, Seq[Double])].collect().toSeq
    val input = MemoryStream[(Long, Seq[Double])]
    val q = StreamOps.ivfPqProbe(
        input.toDF().toDF("query_id", "embedding"), celled, centTbl, books, nprobe = 2)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("ivf_pq_probe_out")
      .start()
    try {
      input.addData(queryRows: _*)
      q.processAllAvailable()
      val stream = spark.table("ivf_pq_probe_out")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      // batch truth: per query, the celled-codes IVF-ADC top-1 with the
      // same nprobe — the stream must be an identity on it
      val batch = queryRows.map { case (qid, qv) =>
        val top = Similarity.ivfPqTopKOnCelledCodes(celled, cents, books, qv,
          nprobe = 2, k = 1).collect().head
        qid -> (top.getLong(0), top.getDouble(1))
      }.toMap
      assert(stream == batch,
        s"IVF-pruned stream must equal batch celled-codes ADC: $stream vs $batch")
    } finally q.stop()

    // plan shape (same function, batch execution): the code-table join is
    // an EQUI-join on cell — no cartesian/broadcast-nested-loop against
    // the codes — and the only nested-loop is the one-row centroid array
    val batchProbe = StreamOps.ivfPqProbe(
      Seq((2L, queryRows.head._2)).toDF("query_id", "embedding"),
      celled, centTbl, books, nprobe = 2)
    val plan = batchProbe.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no cartesian against codes:\n$plan")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 1, s"only the 1-row centroid-array join may nest-loop:\n$plan")
    assert(plan.contains("cell"), "the code join must key on cell")
  }

  test("streaming quality filter against static thresholds matches the batch filter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = (1L to 30L).map { i =>
      (i, ("word " * i.toInt).trim, if (i % 2 == 0) "en" else "de")
    }
    val static = corpus.toDF("doc_id", "text", "lang")
    val thresholds = graft.operators.Scoring.qualityThresholds(static, "text", "lang")
    val input = MemoryStream[(Long, String, String)]
    val filtered = StreamOps.qualityFilter(
      input.toDF().toDF("doc_id", "text", "lang"), thresholds)
    val q = filtered.writeStream.format("memory").queryName("qf_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(corpus: _*)
      input.addData((99L, "some text here", "fr")) // stratum with no bar: drops
      q.processAllAvailable()
      val out = spark.table("qf_out").select("doc_id").collect().map(_.getLong(0)).toSet
      val batch = graft.operators.Scoring
        .qualityFilterStratified(static, "doc_id", "text", "lang")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(out == batch, s"stream kept $out, batch kept $batch")
      assert(!out.contains(99L), "a stratum absent from the threshold table must drop")
    } finally q.stop()
  }

  test("streaming DSIR scoring matches the batch weights via the literal-LUT fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rawRows = Seq((1L, "physics theorem proof"), (2L, "buy cheap pills now"),
      (3L, "theorem lemma physics proof"))
    val raw = rawRows.toDF("doc_id", "text")
    val target = Seq((9L, "physics theorem proof lemma")).toDF("doc_id", "text")
    val ratio = graft.operators.Scoring
      .dsirRatioTable(raw, target, "text", nBuckets = 512)
    val batch = graft.operators.Scoring
      .dsirLogWeights(raw, target, "doc_id", "text", nBuckets = 512)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val input = MemoryStream[(Long, String)]
    val scored = StreamOps.dsirScore(
      input.toDF().toDF("doc_id", "text"), ratio, nBuckets = 512)
    val q = scored.writeStream.format("memory").queryName("dsir_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rawRows.take(2): _*)
      q.processAllAvailable()
      input.addData(rawRows.drop(2): _*) // second micro-batch: same LUT
      q.processAllAvailable()
      val out = spark.table("dsir_out")
        .select("doc_id", "n_grams", "log_weight").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(out.keySet == batch.keySet)
      out.foreach { case (id, (ng, w)) =>
        assert(ng == batch(id)._1, s"doc $id gram count")
        // occurrence-fold vs count-multiply: algebraically identical,
        // FP-equal far below this gate
        assert(math.abs(w - batch(id)._2) < 1e-9, s"doc $id weight $w vs ${batch(id)._2}")
      }
    } finally q.stop()
  }

  test("streaming semantic decontamination equals the batch pair operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq(
      (100L, Seq(0.3, -1.2, 0.7, 2.0)),
      (200L, Seq(1.0, 1.0, -1.0, 0.5))).toDF("vec_id", "embedding")
    val docRows = Seq(
      (1L, Seq(0.6, -2.4, 1.4, 4.0)),   // scaled copy of bench 100
      (2L, Seq(-0.3, 1.2, -0.7, -2.0)), // sign-flip of 100: cosine -1
      (3L, Seq(2.0, 2.0, -2.0, 1.0)),   // scaled copy of bench 200
      (4L, Seq(0.1, 0.2, 0.3, 0.4)))    // unrelated
    val batch = graft.operators.Decontamination
      .semanticPairs(docRows.toDF("vec_id", "embedding"), bench,
        "vec_id", "embedding", threshold = 0.9, dim = 4, rowsPerBand = 8, bands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val input = MemoryStream[(Long, Seq[Double])]
    val flagged = StreamOps.semanticDecontaminate(
      input.toDF().toDF("vec_id", "embedding"), bench,
      "vec_id", "embedding", threshold = 0.9, dim = 4, rowsPerBand = 8, bands = 2)
    val q = flagged.writeStream.format("memory").queryName("semdecon_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(docRows.take(2): _*)
      q.processAllAvailable()
      input.addData(docRows.drop(2): _*) // second micro-batch: same LUT row
      q.processAllAvailable()
      val streamed = spark.table("semdecon_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch)
      assert(streamed.map(t => (t._1, t._2)) == Set((1L, 100L), (3L, 200L)),
        s"planted copies flagged, nothing else: $streamed")
    } finally q.stop()
  }

  test("streaming NB classification equals the batch classifier bit for bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val train = Seq((1L, "spam", "buy buy pills"), (2L, "spam", "buy now"),
      (3L, "ham", "hello dear friend"), (4L, "ham", "hello hello"))
      .toDF("doc_id", "lang", "text")
    val model = graft.operators.NaiveBayes.train(train, "lang", "text", vocabSize = 100)
    val testRows = Seq((10L, "buy pills now"), (11L, "hello dear"),
      (12L, "zzz nothing known"), (13L, ""))
    val batch = graft.operators.NaiveBayes
      .classify(testRows.toDF("doc_id", "text"), model, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    val input = MemoryStream[(Long, String)]
    val scored = StreamOps.nbClassify(input.toDF().toDF("doc_id", "text"), model)
    val q = scored.writeStream.format("memory").queryName("nb_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(testRows.take(2): _*)
      q.processAllAvailable()
      input.addData(testRows.drop(2): _*) // second micro-batch: same LUT
      q.processAllAvailable()
      val streamed = spark.table("nb_out")
        .select("doc_id", "predicted", "score_q", "n_known").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
      assert(streamed == batch)
      assert(streamed(10L)._1 == "spam") // sanity: not vacuously equal
      assert(streamed(12L)._3 == 0L)     // zero-evidence doc kept via fallback
    } finally q.stop()
  }

  test("streaming NB with hashed bigrams equals the batch classifier bit for bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val train = Seq((1L, "ab", "aa bb"), (2L, "ab", "aa bb"),
      (3L, "ba", "bb aa"), (4L, "ba", "bb aa"))
      .toDF("doc_id", "lang", "text")
    val model = graft.operators.NaiveBayes.train(train, "lang", "text",
      vocabSize = 100, bigramBuckets = 64)
    val testRows = Seq((10L, "aa bb"), (11L, "bb aa"), (12L, ""))
    val batch = graft.operators.NaiveBayes
      .classify(testRows.toDF("doc_id", "text"), model, "doc_id", "text",
        bigramBuckets = 64)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    val input = MemoryStream[(Long, String)]
    val scored = StreamOps.nbClassify(input.toDF().toDF("doc_id", "text"), model,
      bigramBuckets = 64)
    val q = scored.writeStream.format("memory").queryName("nb_bg_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(testRows: _*)
      q.processAllAvailable()
      val streamed = spark.table("nb_bg_out")
        .select("doc_id", "predicted", "score_q", "n_known").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
      assert(streamed == batch)
      // order-separation sanity: the bigram signal survives the LUT fold
      assert(streamed(10L)._1 == "ab" && streamed(11L)._1 == "ba")
    } finally q.stop()
  }

  test("repetition signals are stateless: stream output equals the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val rows = Seq((1L, "aaaa\nb\naaaa"), (2L, "x y x y x y"))
    val scored = graft.operators.Scoring
      .repetitionSignals(input.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = scored.writeStream.format("memory").queryName("repsignals_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("repsignals_out")
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2), r.getDouble(3), r.getDouble(4))).toMap
      val batch = graft.operators.Scoring
        .repetitionSignals(rows.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2), r.getDouble(3), r.getDouble(4))).toMap
      assert(streamed == batch)
      assert(streamed(2L)._2 == "x y") // sanity: not vacuously equal-empty
    } finally q.stop()
  }

  test("within-doc line dedup is stateless: runs verbatim on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val deduped = graft.operators.Dedup
      .dedupLinesWithinDoc(input.toDF().toDF("doc_id", "text"), "text")
    val q = deduped.writeStream.format("memory").queryName("linededup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "nav\nbody\nnav"), (2L, "a\nb"))
      q.processAllAvailable()
      val out = spark.table("linededup_out")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(out(1L) == ("nav\nbody", 1L))
      assert(out(2L) == ("a\nb", 0L))
    } finally q.stop()
  }

  test("stateful flatMapGroupsWithState sessionizer matches the session_window twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def run(mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        name: String): Set[(Long, Long, Long, Long, Double)] = {
      val input = MemoryStream[(Long, Timestamp, Double)]
      val q = mk(input.toDF().toDF("user_id", "ts", "value"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData((1L, ts(0), 1.0), (1L, ts(5), 2.0), (1L, ts(25), 4.0),
          (2L, ts(3), 7.0))
        q.processAllAvailable()
        input.addData((1L, ts(40), 1.5)) // 15 min after ts(25): new session
        q.processAllAvailable()
        input.addData((9L, ts(1000), 0.0)) // watermark driver
        q.processAllAvailable()
        spark.table(name).collect().map(r => (r.getLong(0),
          r.getTimestamp(1).getTime, r.getTimestamp(2).getTime,
          r.getLong(3), r.getDouble(4))).toSet
      } finally q.stop()
    }
    val builtin = run(df => StreamOps.sessionize(df, gapSeconds = 600), "sess_builtin")
    val stateful = run(df => StreamOps.sessionizeStateful(df, gapSeconds = 600), "sess_stateful")
    assert(stateful == builtin, s"stateful $stateful vs builtin $builtin")
    assert(builtin.size == 4, s"expected 4 closed sessions, got $builtin")
  }

  test("streaming CMS sketch (complete mode) equals the batch sketch at every point") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val q = StreamOps.cmsSketch(input.toDF().toDF("item"), "item", depth = 3, width = 16)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("cms_stream").start()
    def snapshot: Set[(Int, Long, Long)] = spark.table("cms_stream")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    def batchSketch(data: Seq[String]): Set[(Int, Long, Long)] =
      graft.operators.CountMin.sketch(data.toDF("item"), "item", 3, 16)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    try {
      val b1 = Seq("a", "b", "a", "c")
      input.addData(b1: _*)
      q.processAllAvailable()
      assert(snapshot == batchSketch(b1))
      val b2 = Seq("a", "d", "d")
      input.addData(b2: _*)
      q.processAllAvailable()
      assert(snapshot == batchSketch(b1 ++ b2))
      assert(snapshot.size <= 3 * 16, "state bounded at depth*width")
    } finally q.stop()
  }

  test("streaming calibration bins (complete mode) equal the batch bins at every point") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Double, Int)]
    val q = StreamOps.calibrationBins(input.toDF().toDF("s", "l"), "s", "l", bins = 10)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("calib_stream").start()
    def snapshot: Set[String] =
      spark.table("calib_stream").collect().map(_.toString).toSet
    def batch(data: Seq[(Double, Int)]): Set[String] =
      graft.operators.Eval.calibrationBins(data.toDF("s", "l"), "s", "l", 10)
        .collect().map(_.toString).toSet
    try {
      val b1 = Seq((0.05, 1), (0.12, 0), (0.05, 0))
      input.addData(b1: _*)
      q.processAllAvailable()
      assert(snapshot == batch(b1))
      val b2 = Seq((0.97, 1), (1.5, 1), (-0.2, 0), (0.12, 1))
      input.addData(b2: _*)
      q.processAllAvailable()
      assert(snapshot == batch(b1 ++ b2))
      assert(snapshot.size <= 10, "state bounded at bins rows")
    } finally q.stop()
  }

  test("streaming fuzzy match per micro-batch: union == batch pairs on the concatenation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val reference = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "name")
    val got = scala.collection.mutable.Set[(Long, Long, Int)]()
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.fuzzyMatch(
        input.toDF().toDF("id", "name"), reference, "id", "name", 1) { (pairs, _) =>
      got.synchronized {
        got ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4)))
      }
      ()
    }.start()
    try {
      input.addData((10L, "alpho"))
      q.processAllAvailable()
      input.addData((11L, "betas"), (12L, "nothing"))
      q.processAllAvailable()
      val all = Seq((10L, "alpho"), (11L, "betas"), (12L, "nothing")).toDF("id", "name")
      val batch = graft.operators.FuzzyJoin.pairs(all, reference, "id", "name", 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
      assert(got.toSet == batch)
      assert(batch == Set((10L, 1L, 1), (11L, 2L, 1)))
    } finally q.stop()
  }

  test("streaming BM25 probe matches the batch scorer bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "cat cat fish swims"), (2L, "cat dog barks"), (3L, "dog dog bird"),
      (4L, "fish and chips")).toDF("doc_id", "text")
    val index = graft.operators.Tfidf.bm25Index(corpus, "doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.bm25Probe(input.toDF().toDF("query_id", "qtext"), index)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("bm25_stream").start()
    def streamed: Map[(Long, Long), (Long, Double)] = spark.table("bm25_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    def batch(qs: Seq[(Long, String)]): Map[(Long, Long), (Long, Double)] =
      graft.operators.Tfidf.bm25TopK(corpus, "doc_id", "text",
          qs.toDF("query_id", "qtext"), "query_id", "qtext", k = 100)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
    try {
      val b1 = Seq((10L, "cat fish"), (11L, "dog dog")) // repeated term dedups in-row
      input.addData(b1: _*)
      q.processAllAvailable()
      val exp = batch(b1)
      val got = streamed
      assert(got == exp, s"$got vs $exp")
      got.foreach { case (k, (_, s)) =>
        assert(java.lang.Double.compare(s, exp(k)._2) == 0, s"$k drifted") }
      input.addData((12L, "bird chips"))
      q.processAllAvailable()
      assert(streamed.keySet.count(_._1 == 12L) == 2, "second batch scores both matches")
    } finally q.stop()
  }

  test("streaming weighted reservoir equals the batch sampler on the stream-so-far") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val q = StreamOps.weightedReservoir(
        input.toDF().toDF("doc_id", "w"), "doc_id", "w", n = 10, seed = 9L)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("reservoir_stream").start()
    def latestIds: Set[Long] = {
      // update mode appends each batch's snapshot; the final 10 rows are
      // the latest reservoir
      val all = spark.table("reservoir_stream").collect()
        .map(r => (r.getLong(0), r.getDouble(2)))
      all.takeRight(math.min(10, all.length)).map(_._1).toSet
    }
    def batchIds(rows: Seq[(Long, Double)]): Set[Long] =
      graft.operators.Shuffling.weightedSampleN(
          rows.toDF("doc_id", "w"), "doc_id", "w", n = 10, seed = 9L)
        .collect().map(_.getLong(0)).toSet
    try {
      val b1 = (1L to 30L).map(i => (i, (i % 5 + 1).toDouble))
      input.addData(b1: _*)
      q.processAllAvailable()
      assert(latestIds == batchIds(b1))
      val b2 = (31L to 60L).map(i => (i, (i % 7 + 1).toDouble))
      input.addData(b2: _*)
      q.processAllAvailable()
      assert(latestIds == batchIds(b1 ++ b2),
        "reservoir after two batches must equal the batch sample of the union")
    } finally q.stop()
  }

  test("streaming EWMA (update mode) is bit-identical to the batch fold at every point") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, Double)]
    val q = StreamOps.ewmaState(
        input.toDF().toDF("user_id", "ts", "event_id", "value"), alpha = 0.3)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("ewma_stream").start()
    def latest: Map[Long, (Long, Double)] = spark.table("ewma_stream")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).map { case (k, rows) => k -> rows.last._2 } // update mode: last row wins
    def batch(rows: Seq[(Long, Timestamp, Long, Double)]): Map[Long, (Long, Double)] =
      graft.operators.Sessionize.ewma(
          rows.toDF("user_id", "ts", "event_id", "value"),
          "user_id", "ts", "event_id", "value", alpha = 0.3)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    try {
      // batch 1: disordered within the batch (fold must follow ts, not arrival)
      val b1 = Seq((1L, ts(5), 2L, 4.0), (1L, ts(1), 1L, 1.0), (2L, ts(2), 3L, 7.0))
      input.addData(b1: _*)
      q.processAllAvailable()
      val exp1 = batch(b1)
      assert(latest == exp1, s"${latest} vs $exp1")
      // batch 2: later events continue the recurrence across the batch boundary
      val b2 = Seq((1L, ts(9), 4L, 10.0), (3L, ts(9), 5L, 2.5))
      input.addData(b2: _*)
      q.processAllAvailable()
      val exp2 = batch(b1 ++ b2)
      val l2 = latest
      assert(l2 == exp2, s"$l2 vs $exp2")
      l2.foreach { case (k, (_, y)) =>
        assert(java.lang.Double.compare(y, exp2(k)._2) == 0, s"user $k drifted") }
    } finally q.stop()
  }

  test("streaming driftBins: per-window bin counts match Profile.psi's new side") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // static reference: 1..100 plus a NaN that must NOT poison the frame
    val old = ((1 to 100).map(_.toDouble) :+ Double.NaN).map(Tuple1(_)).toDF("v")
    val input = MemoryStream[(Timestamp, Double)]
    val binsOut = StreamOps.driftBins(
      input.toDF().toDF("ts", "v"), old, "ts", "v",
      bins = 4, windowDuration = "10 minutes", watermark = "10 minutes")
    val q = binsOut.writeStream.format("memory").queryName("drift_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // one 10-min window of shifted values 41..140 (the psi fixture) +
      // a NaN row the stream filter must drop
      val windowVals = (41 to 140).map(_.toDouble)
      input.addData(windowVals.map(v => (ts(1), v)): _*)
      input.addData((ts(2), Double.NaN))
      q.processAllAvailable()
      input.addData((ts(1000), 50.0)) // advance watermark, close the window
      q.processAllAvailable()
      def bucketUs(t: Timestamp): Long = t.getTime / 600000L * 600000L * 1000L
      val got = spark.table("drift_out").collect()
        .filter(_.getTimestamp(0).getTime * 1000L == bucketUs(ts(1)))
        .map(r => r.getLong(2) -> r.getLong(3)).toMap
      // identity against the batch operator's new side on the same rows
      val exp = graft.operators.Profile
        .psi(old, windowVals.map(Tuple1(_)).toDF("v"), "v", bins = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(2))
        .filter(_._2 > 0L).toMap
      assert(got == exp, s"streamed bins $got != batch psi new side $exp")
      // only-non-finite reference fails loudly at plan-build time
      intercept[IllegalArgumentException] {
        StreamOps.driftBins(input.toDF().toDF("ts", "v"),
          Seq(Double.NaN).map(Tuple1(_)).toDF("v"), "ts", "v")
      }
    } finally q.stop()
  }
}
