package graft.examples

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, Keyphrases, Multimodal, Packing, Profile, Scoring, Shuffling,
  Similarity, SnapshotDiff, Tfidf}
import graft.sources.CorpusSink

/** End-to-end training-data curation pipeline over the provided tables —
  * the composition story: quality/repetition-filter and scrub documents,
  * cluster near-duplicates and keep the best-quality representative per
  * cluster, prune the embedding space, extract multimodal features and
  * TF-IDF keywords for what survives, BM25-retrieve a topic slice /
  * MMR-diversify an embedding neighborhood / draw a length-weighted
  * training sample, pack the survivors into context-window shards, and
  * write the corpus partitioned for pruned downstream reads. Prints
  * stage counts; `sbt "runMain graft.examples.PipelineDemo"`.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.make()
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val n0 = docs.count()

    // 0. delivery gate: exact profile of the id/metadata columns — a
    //    null or duplicated doc_id fails the delivery before any
    //    curation compute is spent
    val prof = Profile.columns(docs, Seq("doc_id", "lang", "source"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    require(prof("doc_id")._2 == 0 && prof("doc_id")._3 == prof("doc_id")._1,
      "delivery gate: doc_id must be non-null and unique")

    // 1. text analysis: language, quality, repetition signals as
    //    filterable columns; PII scrubbed from survivors
    val scored = docs
      .withColumn("lang_detected", TextFunctions.langId(col("text")))
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .withColumn("n_tokens", TextFunctions.wsTokenCount(col("text")).cast("long"))
      .withColumn("dup_token_frac", TextFunctions.dupTokenFraction(col("text")))
    val kept = scored
      .where(col("quality") >= 0.5 && col("n_tokens") >= 10 && col("dup_token_frac") <= 0.5)
      .withColumn("text", TextFunctions.scrubPii(col("text")))
    val n1 = kept.count()

    // 1b. corpus-LM fluency gate: interpolated Kneser-Ney bigram scoring
    //     (the CCNet-style perplexity filter) — drop the gibberish tail
    val knScores = Scoring.kneserNeyScore(kept, "doc_id", "text")
    val fluent = kept.join(
      knScores.where(col("avg_logp") > -12.0).select("doc_id"), Seq("doc_id"))
    val n1b = fluent.count()

    // 1c. memorization-risk pre-screen: per-doc duplication scores are a
    //     doc-keyed scalar (no pair join), so they run on everything and
    //     ride along as a filterable/weightable column
    val dupScores = Dedup.duplicationScores(fluent, "doc_id", "text", n = 3)
    val flagged = fluent.join(
      dupScores.select(col("doc_id"), col("dup_frac")), Seq("doc_id"))
    val nHighRisk = flagged.where(col("dup_frac") >= 0.9).count()

    // 2. near-duplicate handling: PREFIX-FILTERED trigram jaccard pairs
    //    (hot boilerplate shingles never enter the index — no cap needed)
    //    -> cluster labels -> keep the BEST-QUALITY representative
    val pairs = Dedup.jaccardPairsPrefix(fluent, "doc_id", "text", n = 3, threshold = 0.8)
    val deduped = Dedup.clusterRepresentatives(fluent, "doc_id", pairs,
      better = Seq(col("quality").desc))
    val n2 = deduped.count()

    // 3. embedding-space pruning on the aligned embeddings table
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val embPairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.95, dim = 64, rowsPerBand = 4, bands = 4)
    val embKept = Dedup.dropDuplicatePairs(emb, "vec_id", embPairs)
    val n3 = embKept.count()

    // 4. multimodal: real PNG payloads, PERCEPTUAL dedup first (60-bit
    //    dHash over decoded pixels + banded hamming pairing — catches
    //    re-encoded copies byte-level dedup misses), then real
    //    decode-to-pixel features for the visually-distinct survivors
    val media = Multimodal.syntheticPngMedia(deduped.select(col("doc_id")), "doc_id")
    val phashPairs = Dedup.hammingPairs(
      Multimodal.perceptualHash(media), "media_id", "phash", 60, maxHamming = 0)
    val visuallyDistinct = Dedup.dropDuplicatePairs(media, "media_id", phashPairs)
    val features = Multimodal.extractFeatures(visuallyDistinct, dim = 32)
    val n4 = features.where(col("features").isNotNull).count()
    val n4dropped = deduped.count() - visuallyDistinct.count()

    // 5. keyword extraction over the deduped corpus (topic routing):
    //    corpus-statistical TF-IDF terms + document-local RAKE phrases
    val keywords = Tfidf.topTerms(deduped, "doc_id", "text", k = 3, minDf = 2)
    val n5 = keywords.select("id").distinct().count()
    val phrases = Keyphrases.rake(deduped, "doc_id", "text", topK = 3)
    val n5b = phrases.select("doc_id").distinct().count()

    // 5b. targeted slice: BM25-retrieve docs relevant to a probe topic,
    //     MMR-diversify the embedding neighborhood of the top hit, and
    //     draw a length-weighted training sample from the survivors —
    //     the r12 retrieval-curation stages composed end to end
    val probe = deduped.orderBy("doc_id").limit(1)
      .select(lit(0L).as("query_id"),
        concat_ws(" ", slice(split(lower(trim(col("text"))), "\\s+"), 1, 8)).as("qtext"))
    val bm25Hits = Tfidf.bm25TopK(deduped, "doc_id", "text",
      probe, "query_id", "qtext", k = 20)
    val nBm25 = bm25Hits.count()
    val diversified = Similarity.mmrRerank(embKept,
      embKept.orderBy("vec_id").limit(2), "vec_id", "embedding",
      candidateK = 10, m = 5)
    val nMmr = diversified.count()
    val sample = Shuffling.weightedSampleN(
      deduped.withColumn("w", col("n_tokens").cast("double")),
      "doc_id", "w", n = math.min(50, n2).toInt, seed = 7L)
    val nSample = sample.count()

    // 6. pack survivors into context-window shards and write the corpus
    //    partitioned by detected language (pruned downstream reads)
    val packed = Packing.packByBudget(
      deduped.select(col("doc_id"), col("lang_detected"), col("text"), col("n_tokens")),
      "doc_id", "n_tokens", budget = 2048L)
    val outDir = s"${System.getProperty("java.io.tmpdir")}/graft_pipeline_demo_corpus"
    CorpusSink.writePartitioned(packed, outDir, Seq("lang_detected"))
    val n6 = spark.read.parquet(outDir).count()
    val nPacks = packed.select("pack_id").distinct().count()

    // 7. audit gate: snapshot-diff the curated corpus against the raw
    //    delivery — every id is accounted for as kept-unchanged,
    //    kept-rescrubbed (changed), or curated away (removed)
    val audit = SnapshotDiff.summary(SnapshotDiff.diff(
      docs.select(col("doc_id"), col("text")),
      deduped.select(col("doc_id"), col("text")),
      "doc_id", "text")).collect().head
    val (aAdded, aRemoved) = (audit.getLong(0), audit.getLong(1))
    require(aAdded == 0, "curation must not invent documents")
    require(aRemoved == n0 - n2, "audit: removed must equal curated-away count")

    println(s"[pipeline] docs=$n0 -> curated=$n1 -> fluent=$n1b -> " +
      s"representatives=$n2 (high-memorization-risk flagged=$nHighRisk); " +
      s"embeddings kept=$n3; visually-dup dropped=$n4dropped, " +
      s"media features=$n4; keyworded=$n5, rake-tagged=$n5b; bm25 hits=$nBm25, " +
      s"mmr picks=$nMmr, weighted sample=$nSample; packed=$n6 into $nPacks shards; " +
      s"audit removed=$aRemoved")
    require(n1 <= n0 && n1b <= n1 && n2 <= n1b && n4 <= n2 && n4dropped >= 0 && n6 == n2,
      "pipeline stage counts inconsistent")
    require(nHighRisk <= n1b && n5b <= n2,
      "r13 stage counts inconsistent")
    require(nBm25 > 0 && nBm25 <= 20 && nMmr == 10 && nSample <= 50,
      "retrieval-curation stage counts inconsistent")
    spark.stop()
  }
}
