package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Communities, Dedup, Eval, FuzzyJoin, HeavyHitters, Hits,
  Keyphrases, LinkPrediction, Multimodal, NaiveBayes, Packing, PageRank, Paths,
  Profile, Scoring, Sessionize, Similarity, SnapshotDiff, Tfidf, Triangles}
import graft.functions.TextFunctions
import graft.tree.{Criterion, DecisionTreeClassifier}

/** Dev probe: measured time-vs-rows scaling curves for the heavy
  * operators (VERDICT r6 task #2 — convert "shaped for scale" into
  * "measured scaling").
  *
  * Generates a seed-pinned synthetic corpus in `target/scaling/` with the
  * testdata generator's shape (same columns, token-per-doc distribution,
  * small word vocabulary) at 1x (= sf0.1's 5k docs / 600k fit rows) and
  * 10x. The 10x corpus is SHARDED BY CONSTRUCTION: ten disjoint
  * vocabulary namespaces of 1x-identical statistics, the way a 10x
  * bigger crawl covers more topics rather than re-sampling the same 40
  * words — so candidate structures (shingle document frequencies, pair
  * counts, cluster sizes) scale linearly like a real corpus's, and a
  * quadratic blow-up in an operator shows up as a super-linear CURVE
  * rather than being baked into the data. Near-dup structure is planted
  * (every 50th doc gets an exact twin), so pair outputs are non-empty
  * and scale 10x.
  *
  * All randomness is `xxhash64`-derived from (id, salt) — deterministic,
  * partitioning-independent, no RNG state.
  *
  * The dedup/pair family additionally runs a THIRD decade (100x = 510k
  * docs — past the fixed-cost regime, so the 10x -> 100x step ratio
  * measures true per-row scaling), and a skew drill plants one
  * pathological shingle in 20% of the corpus to verify the maxDf
  * stop-gram cap holds the hot path within 2x of the unskewed time.
  *
  * Usage: sbt "runMain graft.tools.ScalingProbe [opFilter]"
  * Prints `[scaling] op nx rows sec` lines plus per-decade step ratios
  * (elapsed(b) / ((b/a) * elapsed(a)) — 1.0 is perfectly linear).
  */
object ScalingProbe {
  val Dir = "target/scaling"

  private def u(c: Column, salt: Int): Column =
    (abs(xxhash64(c, lit(salt))) % lit(1000000L)).cast("double") / lit(1000000.0)

  /** documents-shaped frame: `factor` vocabulary shards of `docsPerShard`
    * docs each + an exact twin for every 50th doc. */
  def genDocs(spark: SparkSession, factor: Int, docsPerShard: Int = 5000): DataFrame = {
    val vocabPerShard = 40
    val words = (0 until factor).flatMap(s => (0 until vocabPerShard).map(j => s"w${s}_$j"))
    val vocab = array(words.map(lit): _*)
    val base = spark.range(0L, factor.toLong * docsPerShard)
      .select(col("id").as("doc_id"),
        (col("id") / docsPerShard).cast("int").as("__shard"),
        (lit(10) + abs(xxhash64(col("id"), lit(1))) % 90).cast("int").as("__len"))
      .select(col("doc_id"),
        array_join(transform(sequence(lit(0), col("__len") - 1), i =>
          element_at(vocab,
            (col("__shard") * vocabPerShard
              + abs(xxhash64(col("doc_id"), i, lit(2))) % vocabPerShard + 1).cast("int"))),
          " ").as("text"))
    val twins = base.where(col("doc_id") % 50 === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text"))
    base.unionAll(twins)
      .withColumn("lang", when(u(col("doc_id"), 3) < 0.7, "en").otherwise("de"))
      .withColumn("source", concat(lit("src"), (abs(xxhash64(col("doc_id"), lit(4))) % 5)))
      .withColumn("n_chars", length(col("text")))
  }

  /** embeddings-shaped frame: centered unit-scale deterministic vectors
    * (cosine between unrelated vectors concentrates near 0, so only the
    * planted twins pass a 0.9 threshold) + an exact twin for every 50th
    * vector (elements scaled 1.02/0.98 — the catalog's
    * plantedEmbeddings shape, cosine ~0.9998). */
  def genEmb(spark: SparkSession, factor: Int, vecsPerShard: Int = 5000): DataFrame = {
    val base = spark.range(0L, factor.toLong * vecsPerShard)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          (abs(xxhash64(col("id"), j, lit(7))) % lit(1000000L)).cast("double")
            / lit(1000000.0) - lit(0.5)).as("embedding"))
    val twins = base.where(col("vec_id") % 50 === 0)
      .select((col("vec_id") + lit(10000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x * when(pmod(i, lit(2)) === 0, lit(1.02)).otherwise(lit(0.98)))
          .as("embedding"))
    base.unionAll(twins)
  }

  /** customer-name-shaped strings (zero-padded ids): every number has a
    * BOUNDED set of single-digit-edit neighbors, so fuzzy-join pair
    * volume grows linearly with the corpus — the realistic ER regime. */
  def genNames(spark: SparkSession, factor: Int, namesPerShard: Int = 15000): DataFrame =
    spark.range(0L, factor.toLong * namesPerShard)
      .select(col("id"), format_string("Entity#%09d", col("id")).as("name"))

  /** media-shaped real-PNG frame: 24x24 grayscale with a per-id hashed
    * bilinear-gradient pixel field (~3.7e9 distinct (off,a,b,c) combos,
    * so unrelated images share neither pixels nor hashes and near-dup
    * output stays linear) + an exact twin for every 50th image. */
  def genMedia(spark: SparkSession, factor: Int, imagesPerShard: Int = 5000): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("media_id", LongType), StructField("content", BinaryType))))
    val n = factor.toLong * imagesPerShard
    val ids = spark.range(0L, n).select(col("id").as("media_id"))
      .unionAll(spark.range(0L, n).where(col("id") % 50 === 0)
        .select((col("id") + 10000000L).as("media_id")))
    ids.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val h = (id % 10000000L) * 0x9E3779B97F4A7C15L
        val off = ((h >>> 16) & 0xffL).toInt
        val a = java.lang.Long.remainderUnsigned(h >>> 8, 251L).toInt
        val b = java.lang.Long.remainderUnsigned(h >>> 24, 241L).toInt
        val c = java.lang.Long.remainderUnsigned(h >>> 40, 239L).toInt
        Row(id, Multimodal.ImageCodec.encodePngGray(24, 24,
          (x, y) => (off + x * a + y * b + x * y * c) % 256))
      }
    }(enc)
  }

  /** uniform random digraph for the PageRank curve: edges and nodes both
    * scale with the factor (mean degree constant at 10). */
  def genEdges(spark: SparkSession, factor: Int,
      edgesPerShard: Int = 200000, nodesPerShard: Int = 20000): DataFrame =
    spark.range(0L, factor.toLong * edgesPerShard).select(
      (abs(xxhash64(col("id"), lit(20))) % lit(factor.toLong * nodesPerShard)).as("src"),
      (abs(xxhash64(col("id"), lit(21))) % lit(factor.toLong * nodesPerShard)).as("dst"))

  /** lineitem-shaped numeric frame for the fit curve. */
  def genFit(spark: SparkSession, rows: Long): DataFrame =
    spark.range(0L, rows).select(
      (lit(1.0) + floor(u(col("id"), 10) * 50)).as("l_quantity"),
      round(lit(900.0) + u(col("id"), 11) * 99000, 2).as("l_extendedprice"),
      round(u(col("id"), 12) * 0.1, 2).as("l_discount"),
      round(u(col("id"), 13) * 0.08, 2).as("l_tax"),
      when(u(col("id"), 14) < 0.5, "N").when(u(col("id"), 14) < 0.75, "R")
        .otherwise("A").as("l_returnflag"))

  def main(args: Array[String]): Unit = {
    val opFilter = args.headOption
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-scaling-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // generate once; reuse across runs (seed-pinned => identical)
    def ensure(path: String)(df: => DataFrame): Unit =
      if (!new java.io.File(path).exists())
        df.repartition(cpus.toInt).write.mode("overwrite").parquet(path)
    ensure(s"$Dir/docs_1x.parquet")(genDocs(spark, 1))
    ensure(s"$Dir/docs_10x.parquet")(genDocs(spark, 10))
    // the third decade (r7 task #5): 510k docs — past the fixed-cost
    // regime, so the 10x -> 100x step measures true per-row cost
    ensure(s"$Dir/docs_100x.parquet")(genDocs(spark, 100))
    ensure(s"$Dir/fit_1x.parquet")(genFit(spark, 600000L))
    ensure(s"$Dir/fit_10x.parquet")(genFit(spark, 6000000L))
    Seq(1, 10, 100).foreach(nx => ensure(s"$Dir/emb_${nx}x.parquet")(genEmb(spark, nx)))
    Seq(1, 10, 100).foreach { nx =>
      ensure(s"$Dir/names_${nx}x.parquet")(genNames(spark, nx))
      ensure(s"$Dir/media_${nx}x.parquet")(genMedia(spark, nx))
      ensure(s"$Dir/edges_${nx}x.parquet")(genEdges(spark, nx))
    }

    def docs(nx: Int) = spark.read.parquet(s"$Dir/docs_${nx}x.parquet")
    // 10-token-line reflow + a planted boilerplate banner on every 11th
    // doc — the line-hygiene operators' input shape
    def lineDocs(nx: Int): DataFrame = {
      val banner = (0 until 10).map(i => s"bplate$i").mkString(" ")
      docs(nx)
        .withColumn("__toks", split(col("text"), " "))
        .withColumn("__n", expr("(size(__toks) + 9) div 10").cast("int"))
        .withColumn("__lines", transform(sequence(lit(0), col("__n") - 1), i =>
          array_join(slice(col("__toks"), i * 10 + 1, lit(10)), " ")))
        .withColumn("__planted", when(col("doc_id") % 11 === 0,
          concat(array(lit(banner)), col("__lines"))).otherwise(col("__lines")))
        .select(col("doc_id"), array_join(col("__planted"), "\n").as("text"))
    }
    def fitDf(nx: Int) = spark.read.parquet(s"$Dir/fit_${nx}x.parquet")
    def embs(nx: Int) = spark.read.parquet(s"$Dir/emb_${nx}x.parquet")
    def namesDf(nx: Int) = spark.read.parquet(s"$Dir/names_${nx}x.parquet")
    def mediaDf(nx: Int) = spark.read.parquet(s"$Dir/media_${nx}x.parquet")
    def edgesDf(nx: Int) = spark.read.parquet(s"$Dir/edges_${nx}x.parquet")

    // (name, measured decades, body) — the dedup/pair family runs the
    // full 1x/10x/100x curve; the rest keep the two-decade curve
    val ops: Seq[(String, Seq[Int], Int => Unit)] = Seq(
      ("jaccard_pairs", Seq(1, 10, 100), nx =>
        Dedup.jaccardPairs(docs(nx), "doc_id", "text", n = 3, threshold = 0.8)
          .write.format("noop").mode("overwrite").save()),
      // r13 prefix-filtered twin: the candidate join reads the
      // rarest-first (1-t) prefix of every set — same output, curve
      // should run BELOW jaccard_pairs and stay sub-linear
      ("jaccard_pairs_prefix", Seq(1, 10, 100), nx =>
        Dedup.jaccardPairsPrefix(docs(nx), "doc_id", "text", n = 3, threshold = 0.8)
          .write.format("noop").mode("overwrite").save()),
      ("minhash_lsh_pairs", Seq(1, 10, 100), nx =>
        Dedup.minHashLshJaccardPairs(docs(nx), "doc_id", "text",
            numHashes = 32, shingleN = 3, bands = 16, threshold = 0.8)
          .write.format("noop").mode("overwrite").save()),
      ("dedup_clusters", Seq(1, 10, 100), nx => {
        val d = docs(nx)
        val pairs = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.8)
        Dedup.duplicateClusters(d.select("doc_id"), "doc_id", pairs)
          .write.format("noop").mode("overwrite").save()
      }),
      // the r8 substring-level operator: planted exact twins (every 50th
      // doc) give every decade a real span workload; k=20 keeps parity
      // with the catalog entry
      ("substring_spans", Seq(1, 10, 100), nx =>
        Dedup.sharedSpans(docs(nx), "doc_id", "text", k = 20)
          .write.format("noop").mode("overwrite").save()),
      // SemDeDup scaling: cell COUNT scales with the corpus (nlist =
      // 16*nx) so cell size stays constant — the knob that keeps
      // within-cell pair volume linear at a growing corpus; strided
      // centroids keep the quantizer deterministic and O(nlist) to
      // build (the centroid collect is part of the measured time)
      ("semantic_dedup_pairs", Seq(1, 10, 100), nx => {
        val e = embs(nx)
        val nlist = 16 * nx
        val stride = (5000L * nx) / nlist
        val cents = e.where(col("vec_id") < 5000L * nx && col("vec_id") % stride === 0)
          .orderBy("vec_id").limit(nlist)
          .collect().map(_.getSeq[Double](1).toSeq).toSeq
        Similarity.semanticNearDupPairs(e, "vec_id", "embedding", threshold = 0.9,
            trainedCentroids = Some(cents))
          .write.format("noop").mode("overwrite").save()
      }),
      ("bigram_score", Seq(1, 10, 100), nx =>
        Scoring.bigramFrequencyScore(docs(nx), "doc_id", "text")
          .write.format("noop").mode("overwrite").save()),
      // r12 interpolated KN: same bigram-table discipline as
      // bigram_score plus the model-table joins — the sharded vocab
      // keeps distinct-bigram volume linear in the corpus
      ("kneser_ney_score", Seq(1, 10, 100), nx =>
        Scoring.kneserNeyScore(docs(nx), "doc_id", "text")
          .write.format("noop").mode("overwrite").save()),
      // r12 Misra-Gries hot-gram discovery: capacity fixed at the
      // catalog's 32768 while the gram dictionary grows ~100x past it —
      // the curve must stay scan-bound because the summary never grows
      ("hot_grams", Seq(1, 10, 100), nx =>
        HeavyHitters.hotGrams(docs(nx), "text", n = 3, capacity = 32768, k = 20)
          .write.format("noop").mode("overwrite").save()),
      // r11 line hygiene: corpus reflowed to 10-token lines with one
      // shared boilerplate line planted on every 11th doc (the catalog
      // fixture's shape); exact twins (every 50th doc) add organic
      // cross-doc dup lines, so removal volume grows with the corpus
      ("dedup_lines_cross_doc", Seq(1, 10, 100), nx =>
        Dedup.dedupLinesCrossDoc(lineDocs(nx), "doc_id", "text", minDf = 2)
          .write.format("noop").mode("overwrite").save()),
      // r11 char-weighted repetition signals: pure per-row folds — the
      // curve should be flat-linear (scan-speed, zero shuffle)
      ("repetition_signals", Seq(1, 10, 100), nx =>
        Scoring.repetitionSignals(lineDocs(nx), "doc_id", "text")
          .write.format("noop").mode("overwrite").save()),
      ("pack_sequences", Seq(1, 10, 100), nx => {
        val d = docs(nx).select(col("doc_id"),
          TextFunctions.wsTokenCount(col("text")).cast("long").as("n_tokens"))
        Packing.packByBudget(d, "doc_id", "n_tokens", budget = 2048L, numBuckets = 8)
          .write.format("noop").mode("overwrite").save()
      }),
      // r12 FastSS fuzzy join: deletion-variant index is O(L) rows per
      // name; candidate buckets track true edit neighborhoods, so the
      // curve must stay near-linear even though every name shares the
      // "Entity#0000..." prefix (the case that melts q-gram blocking)
      ("fuzzy_join", Seq(1, 10, 100), nx =>
        FuzzyJoin.selfPairs(namesDf(nx), "id", "name", maxDist = 1)
          .write.format("noop").mode("overwrite").save()),
      // r13: the full ER composition (catalog fuzzy_clusters shape) —
      // FastSS pairs + large-star/small-star contraction, with the
      // r13 digest fixpoint test (count + order-independent hash in the
      // count job) replacing the per-round except() double shuffle
      ("fuzzy_clusters", Seq(1, 10, 100), nx => {
        val nm = namesDf(nx)
        val pairs = FuzzyJoin.selfPairs(nm, "id", "name", maxDist = 1)
          .select(col("a_id").as("id_a"), col("b_id").as("id_b"))
        Dedup.duplicateClusters(nm.select("id"), "id", pairs)
          .write.format("noop").mode("overwrite").save()
      }),
      // r12 perceptual image dedup: real PNG decode + 60-bit dHash +
      // banded hamming pairs; planted twins keep output linear, the
      // decode seam dominates (scan-shaped) and the pair join is
      // bounded by hash-bucket collisions
      ("multimodal_phash_pairs", Seq(1, 10, 100), nx => {
        val ph = Multimodal.perceptualHash(mediaDf(nx))
        Dedup.hammingPairs(ph, "media_id", "phash", 60, 2)
          .write.format("noop").mode("overwrite").save()
      }),
      // decomposition of the row above: the decode+hash stage alone —
      // the pairs row minus this one isolates the banding join's cost
      ("multimodal_phash_hashonly", Seq(1, 10, 100), nx =>
        Multimodal.perceptualHash(mediaDf(nx))
          .write.format("noop").mode("overwrite").save()),
      // r12 PageRank: 3 iterations, each one dst-keyed aggregate + one
      // src-keyed join over the edge table — per-decade cost should be
      // linear in edges with a constant iteration count
      ("pagerank", Seq(1, 10, 100), nx =>
        PageRank.ranks(edgesDf(nx), "src", "dst", iterations = 3)
          .write.format("noop").mode("overwrite").save()),
      // r13: dangling-mass redistribution adds one semi-join aggregate
      // (a driver scalar) per round — the curve must track plain
      // pagerank, proving the term costs nothing edge-keyed
      ("pagerank_dangling", Seq(1, 10, 100), nx =>
        PageRank.ranks(edgesDf(nx), "src", "dst", iterations = 3,
            redistributeDangling = true)
          .write.format("noop").mode("overwrite").save()),
      // r12 second half: BM25 with a FIXED 3-query probe against a
      // growing corpus — the broadcast query side is constant and every
      // post-match stage is bounded by matches (shard-0 vocabulary only),
      // so the curve should track the tokenize+tf scan
      ("bm25_topk", Seq(1, 10, 100), nx => {
        val d = docs(nx)
        val probes = d.where(col("doc_id") < 3)
          .select(col("doc_id").as("query_id"),
            concat_ws(" ", slice(split(lower(trim(col("text"))), "\\s+"), 1, 8)).as("qtext"))
        Tfidf.bm25TopK(d, "doc_id", "text", probes, "query_id", "qtext", k = 5)
          .write.format("noop").mode("overwrite").save()
      }),
      // r12 second half: containment — same inverted-index plan as
      // jaccard_pairs, doubled candidate table; planted exact twins keep
      // the qualifying-pair output linear
      ("containment_pairs", Seq(1, 10, 100), nx =>
        Dedup.containmentPairs(docs(nx), "doc_id", "text", n = 3, threshold = 0.9)
          .write.format("noop").mode("overwrite").save()),
      // r12 second half: PMI — gram tables linear in distinct grams
      // (sharded vocab), word-keyed joins, TakeOrdered cut
      ("pmi_collocations", Seq(1, 10, 100), nx =>
        Scoring.pmiCollocations(docs(nx), "doc_id", "text", k = 40, minCount = 5)
          .write.format("noop").mode("overwrite").save()),
      // r12 second half: degree-ordered triangles on the random graph
      // (constant avg degree 20 across decades) — wedge volume ~ m*d,
      // so the curve should be near-linear in edges
      ("triangle_count", Seq(1, 10, 100), nx =>
        Triangles.perNodeCounts(edgesDf(nx), "src", "dst")
          .write.format("noop").mode("overwrite").save()),
      // r12 second half: SQ8 — params aggregate + full-corpus encode +
      // fixed 5-query asymmetric probe; everything is scan-shaped
      ("sq8_topk", Seq(1, 10, 100), nx => {
        val e = embs(nx)
        val params = Similarity.sq8Params(e, "embedding", dim = 64)
        val codes = Similarity.sq8Encode(e, "vec_id", "embedding", params)
        Similarity.sq8TopKForQueries(codes, params, e.where(col("vec_id") < 5),
            "vec_id", "embedding", k = 5)
          .write.format("noop").mode("overwrite").save()
      }),
      // r12 second half: EWMA — constant 100 events/user as users grow,
      // so per-key arrays are bounded and the one shuffle is linear
      ("event_ewma", Seq(1, 10, 100), nx => {
        val ev = spark.range(0L, 500000L * nx).select(
          (col("id") % (5000L * nx)).as("user_id"),
          (lit(1700000000000000L) + col("id") * 1000000L).as("ts"),
          col("id").as("event_id"),
          (abs(xxhash64(col("id"), lit(30))) % 1000).cast("double").as("value"))
        Sessionize.ewma(ev, "user_id", "ts", "event_id", "value", alpha = 0.3)
          .write.format("noop").mode("overwrite").save()
      }),
      // r12 second half: k-core peeling on the random graph (mean degree
      // 20, k=12 forces a multi-round cascade) — per-round cost is one
      // degree aggregate + two semi-joins over a SHRINKING edge table,
      // rounds roughly constant across decades at constant degree
      ("kcore", Seq(1, 10, 100), nx =>
        Triangles.kCore(edgesDf(nx), "src", "dst", k = 12)
          .write.format("noop").mode("overwrite").save()),
      // r13: per-doc duplication score — one shingle-df aggregate + one
      // doc rollup, no pair join; the curve should track the shingle
      // explode (sharded vocab keeps per-shingle df constant)
      ("duplication_scores", Seq(1, 10, 100), nx =>
        Dedup.duplicationScores(docs(nx), "doc_id", "text", n = 3)
          .write.format("noop").mode("overwrite").save()),
      // r13 RAKE: everything doc-keyed (bounded per-doc window + two
      // doc-keyed aggregates) — must be flat-linear
      ("rake_keyphrases", Seq(1, 10, 100), nx =>
        Keyphrases.rake(docs(nx), "doc_id", "text", topK = 3)
          .write.format("noop").mode("overwrite").save()),
      // r13 snapshot diff: catalog's bucket-mutation recipe over the
      // growing corpus — one id-keyed full-outer join + the small
      // added x removed hash join; linear by construction
      ("corpus_diff", Seq(1, 10, 100), nx => {
        val d = docs(nx).select(col("doc_id"),
          coalesce(col("text"), lit("")).as("text"))
        val b = col("doc_id") % 20
        val newSnap = d.where(b >= 5)
          .unionByName(d.where(b === 3 || b === 4)
            .select(col("doc_id"), concat(col("text"), lit(" rev2")).as("text")))
          .unionByName(d.where(b === 2)
            .select((col("doc_id") + 1000000000L).as("doc_id"), col("text")))
          .unionByName(d.where(b === 5)
            .select((col("doc_id") + 3000000000L).as("doc_id"),
              concat(lit("fresh "), col("doc_id").cast("string")).as("text")))
        SnapshotDiff.diff(d, newSnap, "doc_id", "text")
          .write.format("noop").mode("overwrite").save()
      }),
      // r13 LPA: 4 vote rounds, each one node-keyed aggregate + one
      // neighbor equi-join over the (2E + n) adjacency — linear in
      // edges at a constant round count, like pagerank
      // r14: exact ANALYZE profiling — the Expand-based multi-distinct
      // replicates every input row once per profiled column (4 here,
      // worst case doc_id with distinct = rows), so the curve measures
      // the documented O(n_cols x distinct) shuffle floor directly
      ("profile_columns", Seq(1, 10, 100), nx =>
        Profile.columns(docs(nx), Seq("doc_id", "lang", "source", "n_chars"))
          .write.format("noop").mode("overwrite").save()),
      // r14: 2-round integer HITS — per round two map-side-combined
      // aggregates + the 1-row broadcast max; curve should track
      // pagerank (same Pregel shape, one extra aggregate)
      ("hits", Seq(1, 10, 100), nx =>
        Hits.scores(edgesDf(nx), "src", "dst", iterations = 2)
          .write.format("noop").mode("overwrite").save()),
      ("label_propagation", Seq(1, 10, 100), nx =>
        Communities.labelPropagation(edgesDf(nx), "src", "dst", iterations = 4)
          .write.format("noop").mode("overwrite").save()),
      // r13 link prediction, production shape: maxDeg=40 stop-hub cap
      // (binding on the Poisson-degree tail) bounds wedge fan-out the
      // way maxDf bounds hot shingles — the 100 TB configuration
      ("link_prediction", Seq(1, 10, 100), nx =>
        LinkPrediction.scores(edgesDf(nx), "src", "dst", minCommon = 2L,
            maxDeg = Some(40L))
          .write.format("noop").mode("overwrite").save()),
      // uncapped two-decade reference: what the cap saves (wedge volume
      // ~ sum(deg^2) grows with the uncut hub tail)
      ("link_prediction_uncapped", Seq(1, 10), nx =>
        LinkPrediction.scores(edgesDf(nx), "src", "dst", minCommon = 2L)
          .write.format("noop").mode("overwrite").save()),
      // r14 second half: multi-source BFS (64 fixed seeds, 4 hops) —
      // per round one frontier-keyed join against the pre-laid-out
      // adjacency; only the frontier shuffles, so the curve should
      // track the edge count
      ("bfs_hops", Seq(1, 10, 100), nx => {
        val seeds = edgesDf(nx).select(col("src").as("node"))
          .where(col("src") % 100 === 0).distinct()
        Paths.bfsDistances(edgesDf(nx), "src", "dst", seeds, "node", maxHops = 4)
          .write.format("noop").mode("overwrite").save()
      }),
      // large-star/small-star contraction: O(log n) rounds, each two
      // edge-keyed aggregates — the general-graph cluster primitive
      ("connected_components", Seq(1, 10, 100), nx =>
        Communities.connectedComponents(edgesDf(nx), "src", "dst")
          .write.format("noop").mode("overwrite").save()),
      // deterministic DeepWalk corpus: one walker-state equi-join per
      // step against the once-built ranked adjacency; walkers = 2 x
      // nodes, so the curve tracks nodes, not edges^2
      ("random_walks", Seq(1, 10, 100), nx =>
        Paths.randomWalks(edgesDf(nx), "src", "dst", walksPerNode = 2, steps = 3)
          .write.format("noop").mode("overwrite").save()),
      // approximate kNN graph over embeddings: banded sign-LSH
      // candidates + per-node top-k window. The signature WIDTH is the
      // scale knob (the SemDeDup nlist analogue): bits-per-band grows
      // a bit FASTER than log2(n) (320 -> 200 -> 31 vectors/bucket)
      // because the verify join ships two 64-dim vectors per candidate
      // pair — the real scale bound is candidate VOLUME x payload, not
      // bucket count. At the catalog default (16 bits) a 510k corpus
      // puts 32k vectors in each of 16 buckets and the candidate join
      // goes quadratic (measured: filled the disk); at 48 bits the
      // pair count is fine but 2.5e8 pairs x 1 KB of vector payload
      // still spills ~250 GB (measured) — 56 bits holds the verify
      // volume at the 10x decade's level. At cluster scale, verify
      // against SQ8/PQ codes instead of raw vectors to cut the payload
      // 8-64x (the Similarity PQ stack exists for exactly this).
      ("knn_graph", Seq(1, 10, 100), nx => {
        val rpb = if (nx >= 100) 14 else if (nx >= 10) 8 else 4
        Similarity.knnGraph(embs(nx), "vec_id", "embedding", k = 5,
            dim = 64, rowsPerBand = rpb, bands = 4)
          .write.format("noop").mode("overwrite").save()
      }),
      // r15: the quantized-verify twin at the SAME signature ladder, so
      // the delta vs knn_graph is pure verify payload — candidates ship
      // 1-byte SQ8 codes instead of two 512-byte raw vectors, and only
      // the per-node top-(k*4) survivors rejoin raw doubles. The r14
      // row's 8.23 first-decade step was the raw payload crossing from
      // RAM into spill; this row is the cure, measured.
      ("knn_graph_quantized", Seq(1, 10, 100), nx => {
        val rpb = if (nx >= 100) 14 else if (nx >= 10) 8 else 4
        Similarity.knnGraphQuantized(embs(nx), "vec_id", "embedding", k = 5,
            dim = 64, rowsPerBand = rpb, bands = 4, rerankFactor = 4)
          .write.format("noop").mode("overwrite").save()
      }),
      // r15 composed flagship: quantized kNN edges -> 4 LPA vote rounds
      // -> community rollup. The per-operator curves don't price the
      // composition (the dedup lesson) — this row does.
      ("semantic_communities", Seq(1, 10, 100), nx => {
        val rpb = if (nx >= 100) 14 else if (nx >= 10) 8 else 4
        val edges = Similarity.knnGraphQuantized(embs(nx), "vec_id", "embedding",
          k = 5, dim = 64, rowsPerBand = rpb, bands = 4, rerankFactor = 4)
        val labels = Communities.labelPropagation(edges, "id", "nbr", iterations = 4)
        Communities.communitySizes(labels)
          .write.format("noop").mode("overwrite").save()
      }),
      // r14 eval family. source_entropy: one (source, token) aggregate
      // + a token-keyed equi-join whose per-key fan-out is bounded by
      // #sources; the curve should track distinct (source, token)
      ("source_entropy", Seq(1, 10, 100), nx =>
        Scoring.sourceEntropy(docs(nx), "source", "text")
          .write.format("noop").mode("overwrite").save()),
      // source_overlap: ONE corpus-sized distinct, then joins bounded
      // at C(S,2) per shingle — must stay distinct-bound
      ("source_overlap", Seq(1, 10, 100), nx =>
        Eval.sourceOverlap(docs(nx), "source", "text", n = 3)
          .write.format("noop").mode("overwrite").save()),
      // score_auc: the corpus-sized shuffle is the per-score groupBy;
      // the prefix machinery above it is bucket-bounded
      ("score_auc", Seq(1, 10, 100), nx => {
        val d = docs(nx).select(
          ((col("n_chars") % 499).cast("double") / 499.0).as("score"),
          (col("lang") === "en").cast("int").as("label"))
        Eval.aucScore(d, "score", "label")
          .write.format("noop").mode("overwrite").save()
      }),
      // budget_select with a budget pinned at ~1% of the 1x corpus
      // tokens: the bucket prune should keep the window work CONSTANT
      // while the scan grows — the flattest curve in the family
      ("budget_select", Seq(1, 10, 100), nx => {
        val d = docs(nx).select(col("doc_id"),
          ((col("n_chars") % 499).cast("double") / 499.0).as("score"),
          TextFunctions.wsTokenCount(col("text")).cast("long").as("n_tokens"))
        Eval.budgetSelect(d, "doc_id", "score", "n_tokens",
            budget = 200000L, numBuckets = 64)
          .write.format("noop").mode("overwrite").save()
      }),
      ("fit_depth4_entropy_scalable", Seq(1, 10), nx => {
        val df = fitDf(nx)
        val model = DecisionTreeClassifier(maxDepth = Some(4),
          criterion = Criterion.Entropy)
          .fit(df, "l_returnflag")
        graft.tree.Predict.predictMany(model, df)
          .write.format("noop").mode("overwrite").save()
      }),
      // r17: NB scoring curve — model trained ONCE at 1x (fixed
      // broadcast artifact, the production shape: train on seeds, score
      // the world), then the corpus pass at each decade. Expect ~linear:
      // one tokenize + broadcast-join + (doc, label) combine per decade.
      ("nb_classify", Seq(1, 10, 100), {
        // the model is collected to a driver-local literal frame at
        // first use (inside the DISCARDED warmup), so the timed decades
        // measure ONLY the classify pass — a localCheckpoint here was
        // not enough: release() between runs drops checkpoint blocks,
        // so the first TIMED 1x run silently re-paid the train
        lazy val model = {
          val m = NaiveBayes.train(docs(1).withColumn("lbl",
              (col("doc_id") % 5).cast("string")),
            "lbl", "text", vocabSize = 2000)
          val rows = m.collect().toIndexedSeq
          spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), m.schema)
        }
        nx =>
          NaiveBayes.classify(docs(nx), model, "doc_id", "text")
            .write.format("noop").mode("overwrite").save()
      }),
      // r17: the self-made-embedding ANN curve — hashedVector is a pure
      // projection (scan-speed), so this measures whether the kNN graph
      // over ENGINE-MADE vectors keeps the auto-width occupancy pin
      // across decades like the given-embedding twins do.
      ("hashed_knn", Seq(1, 10, 100), nx => {
        // materialize the vectors before the graph (the entry's rule:
        // consumers expand input column expressions per plane)
        val vecs = docs(nx).select(col("doc_id"),
            TextFunctions.hashedVector(col("text"), 64).as("hvec"))
          .localCheckpoint(true)
          .where(Similarity.dot(col("hvec"), col("hvec")) > 0)
        Similarity.knnGraph(vecs, "doc_id", "hvec", k = 3, dim = 64, bands = 2)
          .write.format("noop").mode("overwrite").save()
      }))

    def release(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; val s = (System.nanoTime() - t0) / 1e9
      release(); s
    }

    lazy val docRows: Map[Int, Long] =
      Seq(1, 10, 100).map(nx => nx -> docs(nx).count()).toMap
    lazy val fitRows: Map[Int, Long] =
      Seq(1, 10).map(nx => nx -> fitDf(nx).count()).toMap
    lazy val embRows: Map[Int, Long] =
      Seq(1, 10, 100).map(nx => nx -> embs(nx).count()).toMap
    lazy val nameRows: Map[Int, Long] =
      Seq(1, 10, 100).map(nx => nx -> namesDf(nx).count()).toMap
    lazy val mediaRows: Map[Int, Long] =
      Seq(1, 10, 100).map(nx => nx -> mediaDf(nx).count()).toMap
    lazy val edgeRows: Map[Int, Long] =
      Seq(1, 10, 100).map(nx => nx -> edgesDf(nx).count()).toMap

    ops.filter { case (name, _, _) => opFilter.forall(name.contains) }
      .foreach { case (name, levels, body) =>
        val rows =
          if (name.startsWith("fit")) fitRows
          else if (name.startsWith("semantic") || name.startsWith("sq8")) embRows
          else if (name.startsWith("fuzzy")) nameRows
          else if (name.startsWith("multimodal")) mediaRows
          else if (name.startsWith("pagerank") || name.startsWith("triangle") ||
            name.startsWith("kcore") || name.startsWith("label_propagation") ||
            name.startsWith("link_prediction") || name.startsWith("hits") ||
            name.startsWith("bfs_hops") || name.startsWith("connected_components") ||
            name.startsWith("random_walks")) edgeRows
          else if (name.startsWith("knn_graph")) embRows
          else if (name.startsWith("event_ewma"))
            Seq(1, 10, 100).map(nx => nx -> 500000L * nx).toMap
          else docRows
        time(body(levels.head)) // discarded warmup (codegen/JIT)
        val times = levels.map(nx => nx -> math.min(time(body(nx)), time(body(nx)))).toMap
        val cells = levels.map(nx =>
          f"${nx}%3dx ${rows(nx)}%8d rows ${times(nx)}%8.2fs").mkString("   ")
        // per-DECADE step ratio: elapsed(b) / ((b/a) * elapsed(a)); 1.0 is
        // perfectly linear in rows across that step
        val ratios = levels.sliding(2).collect { case Seq(a, b) =>
          f"ratio${b}x=${times(b) / ((b.toDouble / a) * times(a))}%5.2f"
        }.mkString(" ")
        println(f"[scaling] $name%-28s $cells   $ratios")
      }

    // ---- incremental ingest dedup: FIXED batch, growing corpus ----
    // The production question is different from the curves above: what
    // does ONE ingest batch cost as the standing corpus grows 10x?
    // Three paths: re-shingle the corpus each batch (jaccardPairsAgainst),
    // probe the persisted index (full index scan), probe with the
    // batch-shingle IN pushdown (row-group-pruned scan). The batch is
    // 500 docs copied from corpus shard 0, so every batch doc has an
    // exact corpus near-dup and candidate volume is realistic.
    if (opFilter.forall("incremental_dedup".contains)) {
      val batch = docs(1).where(col("doc_id") < 500)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
      for (nx <- Seq(1, 10, 100)) {
        val corpus = docs(nx)
        val tbl = s"graft_scaling_shingle_${nx}x"
        graft.sources.IndexStore.writeBucketed(
          Dedup.shingleIndex(corpus, "doc_id", "text", n = 3), tbl, "shingle", 8)
        def idx = graft.sources.IndexStore.read(spark, tbl)
        // an "indexed_pruned" path (batch shingles as a literal IN on the
        // index scan) was measured here and REMOVED: 16.5-17.6 s vs the
        // plain indexed probe's 0.65-0.82 s — see the
        // jaccardPairsAgainstIndex scaladoc for the post-mortem
        val paths = Seq[(String, () => Unit)](
          ("reshingle", () => Dedup.jaccardPairsAgainst(batch, corpus, "doc_id", "text",
            n = 3, threshold = 0.8).write.format("noop").mode("overwrite").save()),
          ("indexed", () => Dedup.jaccardPairsAgainstIndex(batch, idx, "doc_id", "text",
            n = 3, threshold = 0.8).write.format("noop").mode("overwrite").save()))
        paths.foreach { case (label, body) =>
          time(body()) // warmup
          val t = math.min(time(body()), time(body()))
          println(f"[scaling] incremental_dedup/$label%-16s corpus ${nx}%3dx ${t}%7.2fs")
        }
      }
    }

    // ---- incremental ingest kNN graph: FIXED batch, growing corpus ----
    // The knn_graph analogue of incremental_dedup: what does giving ONE
    // 500-vector ingest batch its exact-cosine top-5 corpus neighbors
    // cost as the standing corpus grows 100x? Index width follows
    // autoRowsPerBand (the occupancy-pinned guidance), build+write is
    // reported separately from the per-batch probe — the build is paid
    // once, the probe is the recurring ingest cost.
    if (opFilter.forall("incremental_knn".contains)) {
      val batch = embs(1).where(col("vec_id") < 500)
        .select((col("vec_id") + 20000000L).as("vec_id"), col("embedding"))
      for (nx <- Seq(1, 10, 100)) {
        val corpus = embs(nx)
        val rpb = Similarity.autoRowsPerBand(embRows(nx), bands = 4)
        val pre = s"graft_scaling_knn_${nx}x"
        // t0 BEFORE knnGraphIndex: its banding checkpoint is eager, so
        // the expensive banding pass belongs to the build window
        val t0 = System.nanoTime()
        val (banded, payload, params) = Similarity.knnGraphIndex(
          corpus, "vec_id", "embedding", dim = 64, rowsPerBand = rpb, bands = 4)
        graft.sources.IndexStore.writeBucketed(banded, pre + "_banding", "bkey", 8)
        graft.sources.IndexStore.writeTable(payload, pre + "_payload")
        graft.sources.IndexStore.writeTable(params, pre + "_params")
        val tBuild = (System.nanoTime() - t0) / 1e9
        def probe(): Unit = Similarity.knnGraphAgainstIndex(
            graft.sources.IndexStore.read(spark, pre + "_banding"),
            graft.sources.IndexStore.read(spark, pre + "_payload"),
            graft.sources.IndexStore.read(spark, pre + "_params"),
            batch, "vec_id", "embedding", k = 5, dim = 64,
            rowsPerBand = rpb, bands = 4)
          .write.format("noop").mode("overwrite").save()
        time(probe()) // warmup
        val t = math.min(time(probe()), time(probe()))
        println(f"[scaling] incremental_knn corpus ${nx}%3dx rowsPerBand=$rpb%2d " +
          f"build+write=$tBuild%7.2fs probe=$t%7.2fs")
      }
    }

    // ---- incremental community refresh: FIXED batch, growing corpus --
    // The END-TO-END ingest consumer (semantic_communities_incremental's
    // scale shape): the standing corpus's quantized edges are built ONCE
    // and persisted with the index (the build window); each ingest batch
    // pays (a) its banded probe against the standing index and (b) an
    // LPA label refresh over standing + new edges. (b) is inherently
    // corpus-sized (4 vote rounds over ALL edges — refreshing labels IS
    // touching the graph), so the honest per-batch row splits the two:
    // the probe must stay flat, the refresh must stay ~linear in edges,
    // and neither may go super-linear.
    if (opFilter.forall("incremental_lpa".contains)) {
      val batch = embs(1).where(col("vec_id") < 500)
        .select((col("vec_id") + 20000000L).as("vec_id"), col("embedding"))
      for (nx <- Seq(1, 10, 100)) {
        val corpus = embs(nx)
        val rpb = Similarity.autoRowsPerBand(embRows(nx), bands = 4)
        val pre = s"graft_scaling_lpa_${nx}x"
        val t0 = System.nanoTime()
        val (banded, payload, params) = Similarity.knnGraphIndex(
          corpus, "vec_id", "embedding", dim = 64, rowsPerBand = rpb, bands = 4)
        graft.sources.IndexStore.writeBucketed(banded, pre + "_banding", "bkey", 8)
        graft.sources.IndexStore.writeTable(payload, pre + "_payload")
        graft.sources.IndexStore.writeTable(params, pre + "_params")
        graft.sources.IndexStore.writeTable(
          Similarity.knnGraphQuantized(corpus, "vec_id", "embedding", k = 5,
            dim = 64, rowsPerBand = rpb, bands = 4),
          pre + "_edges")
        // the persisted community state the LOCALIZED refresh seeds
        // from — built once with the index, like the labels table a
        // real ingest pipeline would keep next to the edge store
        graft.sources.IndexStore.writeTable(
          Communities.labelPropagation(
            graft.sources.IndexStore.read(spark, pre + "_edges"),
            "id", "nbr", iterations = 4),
          pre + "_labels")
        val tBuild = (System.nanoTime() - t0) / 1e9
        def probeEdges(): DataFrame = Similarity.knnGraphAgainstIndex(
          graft.sources.IndexStore.read(spark, pre + "_banding"),
          graft.sources.IndexStore.read(spark, pre + "_payload"),
          graft.sources.IndexStore.read(spark, pre + "_params"),
          batch, "vec_id", "embedding", k = 5, dim = 64,
          rowsPerBand = rpb, bands = 4)
        def probeOnly(): Unit =
          probeEdges().write.format("noop").mode("overwrite").save()
        def refresh(): Unit = {
          val all = graft.sources.IndexStore.read(spark, pre + "_edges")
            .unionByName(probeEdges())
          Communities.communitySizes(
              Communities.labelPropagation(all, "id", "nbr", iterations = 4))
            .write.format("noop").mode("overwrite").save()
        }
        // LOCALIZED refresh (r17): seed from the persisted labels,
        // re-vote only the 4-hop blast radius around the batch's new
        // edges — the full-refresh vote rounds over ALL standing edges
        // (the r16 4.2->15.5 s/batch growth term) drop to frontier-
        // proportional work; what remains corpus-sized is one
        // canonicalization pass and the frontier semi-join scans
        def localRefresh(): Unit = {
          val batchEdges = probeEdges()
          val all = graft.sources.IndexStore.read(spark, pre + "_edges")
            .unionByName(batchEdges)
          val dirty = batchEdges.select(col("id").as("node"))
            .union(batchEdges.select(col("nbr").as("node"))).distinct()
          Communities.communitySizes(
              Communities.labelPropagationLocal(all, "id", "nbr",
                graft.sources.IndexStore.read(spark, pre + "_labels"),
                dirty, hops = 4, iterations = 4))
            .write.format("noop").mode("overwrite").save()
        }
        probeOnly(); refresh(); localRefresh() // warmups
        val tp = math.min(time(probeOnly()), time(probeOnly()))
        val tr = math.min(time(refresh()), time(refresh()))
        val tl = math.min(time(localRefresh()), time(localRefresh()))
        // untimed diagnostic: what fraction of the graph the 4-hop
        // blast radius actually reaches — the local refresh can only
        // beat the full one when this is well under 1.0 (kNN graphs
        // are small-diameter; a ball that covers the graph makes the
        // restriction pure overhead, worth knowing per decade)
        val batchEdges = probeEdges()
        val all = graft.sources.IndexStore.read(spark, pre + "_edges")
          .unionByName(batchEdges)
        val dirty = batchEdges.select(col("id").as("node"))
          .union(batchEdges.select(col("nbr").as("node"))).distinct()
        val nNodes = all.select(col("id").as("n")).union(all.select(col("nbr").as("n")))
          .distinct().count()
        val nBall = graft.operators.Paths.bfsDistances(
          all, "id", "nbr", dirty, "node", maxHops = 4).count()
        println(f"[scaling] incremental_lpa corpus ${nx}%3dx rowsPerBand=$rpb%2d " +
          f"build+write=$tBuild%7.2fs probe=$tp%7.2fs probe+refresh=$tr%7.2fs " +
          f"probe+local_refresh=$tl%7.2fs ball=${nBall}%d/${nNodes}%d")
      }
    }

    // ---- localized LPA refresh: bounded blast radius, growing corpus --
    // The incremental_lpa drill's kNN graph is an EXPANDER (k=5, ball
    // diagnostic: 4 hops covers 100% of the graph at every decade), so
    // a blast-radius refresh structurally CANNOT beat the full one
    // there. This drill isolates the claim the local operator actually
    // makes — per-batch refresh cost ~flat in corpus size WHEN
    // components are bounded — on the graph shape curation communities
    // really have (near-dup clusters, mutual-kNN islands): 100-node
    // blocks with internal chain+skip structure, a FIXED 250-edge
    // ingest batch, seeds persisted from the standing 4-round LPA.
    if (opFilter.forall("local_lpa".contains)) {
      import spark.implicits._
      val newEdges = (0 until 250)
        .map(i => (20L * i + 3, (20L * i + 153) % 5000)).toDF("src", "dst")
      for (nx <- Seq(1, 10, 100)) {
        val n = 5000L * nx
        val ids = spark.range(n)
        val standingEdges = ids.where(col("id") % 100 =!= 99)
          .select(col("id").as("src"), (col("id") + 1).as("dst"))
          .union(ids.where(col("id") % 100 < 98)
            .select(col("id").as("src"), (col("id") + 2).as("dst")))
        val pre = s"graft_scaling_locallpa_${nx}x"
        val t0 = System.nanoTime()
        graft.sources.IndexStore.writeTable(
          Communities.labelPropagation(standingEdges, "src", "dst", iterations = 4),
          pre + "_labels")
        // the persisted-adjacency rung: bucketed on the expansion join
        // key so every per-batch touch of the standing side is a scan
        graft.sources.IndexStore.writeBucketed(
          Communities.lpaAdjacency(standingEdges, "src", "dst"),
          pre + "_adj", "nbr", 8)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val all = standingEdges.unionByName(newEdges)
        val dirty = newEdges.select(col("src").as("node"))
          .union(newEdges.select(col("dst").as("node"))).distinct()
        def seeds = graft.sources.IndexStore.read(spark, pre + "_labels")
          .select(col("node"), col("label"))
        def full(): Unit = Communities.communitySizes(
            Communities.labelPropagationFrom(all, "src", "dst", seeds,
              iterations = 4))
          .write.format("noop").mode("overwrite").save()
        def local(): Unit = Communities.communitySizes(
            Communities.labelPropagationLocal(all, "src", "dst", seeds,
              dirty, hops = 4, iterations = 4))
          .write.format("noop").mode("overwrite").save()
        def localOnAdj(): Unit = Communities.communitySizes(
            Communities.labelPropagationLocalOnAdj(
              graft.sources.IndexStore.read(spark, pre + "_adj"),
              newEdges, "src", "dst", seeds, dirty, hops = 4, iterations = 4))
          .write.format("noop").mode("overwrite").save()
        // the r18 front door: on this bounded-component shape the ball
        // fraction stays tiny, so auto must track local_on_adj plus
        // only its dispatch bookkeeping (the measured premium column)
        def auto(): Unit = Communities.communitySizes(
            Communities.communityRefreshAuto(
              graft.sources.IndexStore.read(spark, pre + "_adj"),
              newEdges, "src", "dst", seeds, dirty, hops = 4, iterations = 4))
          .write.format("noop").mode("overwrite").save()
        full(); local(); localOnAdj(); auto() // warmups
        val tf = math.min(time(full()), time(full()))
        val tl = math.min(time(local()), time(local()))
        val ta = math.min(time(localOnAdj()), time(localOnAdj()))
        val tu = math.min(time(auto()), time(auto()))
        val nBall = graft.operators.Paths.bfsDistances(
          all, "src", "dst", dirty, "node", maxHops = 4).count()
        println(f"[scaling] local_lpa corpus ${nx}%3dx nodes=$n%d " +
          f"seed_build=$tBuild%7.2fs full_refresh=$tf%7.2fs " +
          f"local_refresh=$tl%7.2fs local_on_adj=$ta%7.2fs " +
          f"auto=$tu%7.2fs ball=$nBall%d/$n%d")
      }
    }

    // ---- skew drill: one pathological shingle in 20% of docs ----------
    // A real crawl has boilerplate n-grams shared by a large corpus
    // fraction; uncapped, ONE such inverted-index key generates
    // (0.2 * N)^2 candidate pairs and the self-join never finishes at
    // scale. The drill plants exactly that key in the 10x corpus and
    // measures jaccard_pairs WITH the maxDf stop-gram cap (+ AQE's
    // runtime skew handling, on by default) against the unskewed/uncapped
    // baseline — the gate is staying within 2x of baseline. Correctness
    // of the cap for below-cap keys is pinned in DedupSpec (identical
    // pair output with and without the cap when no gram exceeds it).
    if (opFilter.forall("skew_drill".contains)) {
      val nx = 10
      val base = docs(nx)
      // one hot trigram appended to every 5th doc (~20% of the corpus);
      // junction grams bridging doc text and the hot phrase stay rare
      // (they inherit the doc's own shard vocabulary)
      val skewed = base.withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" hotk0 hotk1 hotk2"))).otherwise(col("text")))
      def run(d: DataFrame, cap: Option[Long]): Unit =
        Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.8, maxDf = cap)
          .write.format("noop").mode("overwrite").save()
      run(base, None) // warmup
      val tBase = math.min(time(run(base, None)), time(run(base, None)))
      val tSkew = math.min(time(run(skewed, Some(1000L))), time(run(skewed, Some(1000L))))
      println(f"[scaling] skew_drill/jaccard_pairs corpus ${nx}%3dx " +
        f"unskewed=${tBase}%6.2fs  skewed+maxDf1000=${tSkew}%6.2fs  " +
        f"ratio=${tSkew / tBase}%4.2f (gate <= 2.0)")
      // r13 prefix-filter variant: NO cap anywhere — hot shingles have
      // the highest df, so the rarest-first prefix excludes them from
      // the index by construction and the skewed corpus must cost about
      // the same as the unskewed one
      def runPx(d: DataFrame): Unit =
        Dedup.jaccardPairsPrefix(d, "doc_id", "text", n = 3, threshold = 0.8)
          .write.format("noop").mode("overwrite").save()
      runPx(base) // warmup
      val tPxBase = math.min(time(runPx(base)), time(runPx(base)))
      val tPxSkew = math.min(time(runPx(skewed)), time(runPx(skewed)))
      println(f"[scaling] skew_drill/jaccard_pairs_prefix corpus ${nx}%3dx " +
        f"unskewed=${tPxBase}%6.2fs  skewed-NO-cap=${tPxSkew}%6.2fs  " +
        f"ratio=${tPxSkew / tPxBase}%4.2f (gate <= 2.0)")
    }

    // ---- composed-entry skew drill (r12 verdict task #2) --------------
    // The catalog's production-shaped compositions (dedup_drop*,
    // dedup_clusters, cluster_representatives, curation_pipeline) now
    // pass maxDf = Some(1000) to jaccardPairs; this drill proves the
    // guard ENGAGES through a full composition — pairs + greedy drop
    // materialization on the planted-hot-shingle corpus — not only on
    // the bare pair operator above.
    if (opFilter.forall("skew_drill_composed".contains)) {
      val nx = 10
      val base = docs(nx)
      val skewed = base.withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" hotk0 hotk1 hotk2"))).otherwise(col("text")))
      def runDrop(d: DataFrame, cap: Option[Long]): Unit =
        Dedup.dropDuplicatePairs(d, "doc_id",
            Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.8,
              maxDf = cap))
          .write.format("noop").mode("overwrite").save()
      runDrop(base, None) // warmup
      val tBase = math.min(time(runDrop(base, None)), time(runDrop(base, None)))
      val tSkew = math.min(time(runDrop(skewed, Some(1000L))),
        time(runDrop(skewed, Some(1000L))))
      println(f"[scaling] skew_drill_composed/dedup_drop corpus ${nx}%3dx " +
        f"unskewed=${tBase}%6.2fs  skewed+maxDf1000=${tSkew}%6.2fs  " +
        f"ratio=${tSkew / tBase}%4.2f (gate <= 2.0)")
      // r14: the catalog compositions now generate candidates via the
      // PREFIX arm with NO cap — re-run the drill through the promoted
      // composition shape so the skew immunity is measured end to end,
      // not only on the bare pair operator
      def runDropPx(d: DataFrame): Unit =
        Dedup.dropDuplicatePairs(d, "doc_id",
            Dedup.jaccardPairsPrefix(d, "doc_id", "text", n = 3, threshold = 0.8))
          .write.format("noop").mode("overwrite").save()
      runDropPx(base) // warmup
      val tPxBase = math.min(time(runDropPx(base)), time(runDropPx(base)))
      val tPxSkew = math.min(time(runDropPx(skewed)), time(runDropPx(skewed)))
      println(f"[scaling] skew_drill_composed/dedup_drop_prefix corpus ${nx}%3dx " +
        f"unskewed=${tPxBase}%6.2fs  skewed-NO-cap=${tPxSkew}%6.2fs  " +
        f"ratio=${tPxSkew / tPxBase}%4.2f (gate <= 2.0)")
    }

    // ---- hub drill: one planted high-degree node (r13 verdict #7) -----
    // The link-prediction wedge table is Σ C(deg(v), 2) over CENTER
    // nodes; on the constant-degree random graph that is linear in
    // nodes, but one degree-d hub alone contributes C(d, 2) wedges —
    // the power-law failure mode `maxDeg` exists for (the dedup maxDf
    // analogue). Plant a 5,000-degree hub into the 10x graph (C(5000,2)
    // = 12.5M extra wedges uncapped, ~1.6x the whole base graph's
    // wedge volume) and verify the cap holds the capped path within 2x
    // of the hub-free baseline; the uncapped-with-hub time is printed
    // as the honest cost of NOT capping.
    if (opFilter.forall("hub_drill".contains)) {
      val nx = 10
      val base = edgesDf(nx)
      val hub = spark.range(0L, 5000L).select(
        lit(999999999L).as("src"), col("id").as("dst"))
      val withHub = base.unionByName(hub)
      def run(d: DataFrame, cap: Option[Long]): Unit =
        LinkPrediction.scores(d, "src", "dst", minCommon = 2L, maxDeg = cap)
          .write.format("noop").mode("overwrite").save()
      run(base, Some(40L)) // warmup
      val tBase = math.min(time(run(base, Some(40L))), time(run(base, Some(40L))))
      val tHubCap = math.min(time(run(withHub, Some(40L))),
        time(run(withHub, Some(40L))))
      val tHubUncap = math.min(time(run(withHub, None)), time(run(withHub, None)))
      println(f"[scaling] hub_drill/link_prediction corpus ${nx}%3dx " +
        f"no-hub+maxDeg40=${tBase}%6.2fs  hub+maxDeg40=${tHubCap}%6.2fs  " +
        f"hub-UNCAPPED=${tHubUncap}%6.2fs  " +
        f"ratio=${tHubCap / tBase}%4.2f (gate <= 2.0)")
    }

    // ---- sf1 end-to-end (r13 verdict #8) ------------------------------
    // SCALING.md's own caveat: the 100x curves are per-operator. This
    // section runs the two COMPOSED flagships one decade above the
    // bench's sf0.1 — the full curation_pipeline composition (lang +
    // quality + token filters -> prefix-arm near-dup pairs -> greedy
    // drop) on the sf1-shaped 51k-doc corpus, and the scalable fit
    // flagship (depth-4 entropy fit + predict) on 6M lineitem-shaped
    // rows (sf1's fit input size) — and records wall AND peak_live, so
    // the pipeline's AGGREGATE memory story is measured, not inferred
    // from per-operator peaks. (/root/testdata has no sf1 and is
    // read-only to the builder; the seed-pinned synthetic corpus has
    // the generator's shape at exactly 10x the sf0.1 volumes.)
    if (opFilter.forall("sf1_endtoend".contains)) {
      val heap = new graft.PeakHeapSampler(100)
      def measure(label: String, rows: Long)(body: => Unit): Unit = {
        time(body) // discarded warmup
        val samples = Seq.fill(2) {
          heap.reset()
          val t = time(body)
          (t, heap.drainLive() / 1e9, heap.drain() / 1e9)
        }
        val best = samples.minBy(_._1)
        println(f"[scaling] sf1_endtoend/$label%-28s rows=$rows%9d " +
          f"${best._1}%7.2fs  peak_live=${best._2}%5.2f GB  peak_heap=${best._3}%5.2f GB")
      }
      val d = docs(10)
      measure("curation_pipeline", docRows(10)) {
        val scored = d
          .withColumn("lang", TextFunctions.langId(col("text")))
          .withColumn("quality", TextFunctions.qualityScore(col("text")))
          .withColumn("n_tokens", TextFunctions.wsTokenCount(col("text")).cast("long"))
        val kept = scored.where(col("quality") >= 0.5 && col("n_tokens") >= 10)
        val pairs = Dedup.jaccardPairsPrefix(kept, "doc_id", "text", n = 3, threshold = 0.8)
        Dedup.dropDuplicatePairs(kept, "doc_id", pairs)
          .select(col("doc_id"), col("lang"), col("quality"), col("n_tokens"))
          .write.format("noop").mode("overwrite").save()
      }
      measure("fit_depth4_entropy_scalable", fitRows(10)) {
        val df = fitDf(10)
        val model = DecisionTreeClassifier(maxDepth = Some(4),
          criterion = Criterion.Entropy)
          .fit(df, "l_returnflag")
        graft.tree.Predict.predictMany(model, df)
          .write.format("noop").mode("overwrite").save()
      }
      // r15 (verdict #7): a GRAPH flagship under the same protocol —
      // PageRank at the 10x edge table (2M edges / 200k nodes), the
      // iterative-checkpoint memory shape the fit/curation rows don't
      // exercise (per-round released label frames, not level-wise jobs)
      measure("pagerank_iter3", edgeRows(10)) {
        PageRank.ranks(edgesDf(10), "src", "dst", iterations = 3)
          .write.format("noop").mode("overwrite").save()
      }
    }

    // ---- random-walk max-params heap drill (r15, verdict r14 #8) ------
    // randomWalks holds all O(steps) checkpointed walker frames until
    // the output union materializes — that is INHERENT to returning the
    // full walk corpus as one frame (the output IS ~steps frames of
    // rows; each out view shares its step's checkpoint blocks, so
    // per-step release would kill rows the result still needs). The
    // en-bloc live set is therefore ~2x the output volume (frames +
    // the union copy) by design; this drill runs the API maximum
    // (walksPerNode=64, steps=20 -> 21 live frames of nodes x 64 rows)
    // on the 1x and 10x edge graphs and records wall + sampled peaks,
    // so "holds heap at max params" is a measured number, not policy.
    if (opFilter.forall("walk_stress".contains)) {
      val heap = new graft.PeakHeapSampler(100)
      def measureW(label: String, rows: Long)(body: => Unit): Unit = {
        time(body) // discarded warmup
        val samples = Seq.fill(2) {
          heap.reset()
          val t = time(body)
          (t, heap.drainLive() / 1e9, heap.drain() / 1e9)
        }
        val best = samples.minBy(_._1)
        println(f"[scaling] walk_stress/$label%-28s rows=$rows%9d " +
          f"${best._1}%7.2fs  peak_live=${best._2}%5.2f GB  peak_heap=${best._3}%5.2f GB")
      }
      for (nx <- Seq(1, 10)) {
        measureW(s"random_walks_64x20_${nx}x", edgeRows(nx)) {
          Paths.randomWalks(edgesDf(nx), "src", "dst",
              walksPerNode = 64, steps = 20)
            .write.format("noop").mode("overwrite").save()
        }
      }
    }

    // sink mode at the same max params (own filter key so it can run
    // without repeating the union-mode drill): each step lands as a
    // parquet partition and the prior state releases immediately, so
    // the live set must stay BOUNDED (no ~21 GB one-frame spill ride —
    // the r15 walk_stress number sink mode exists to escape)
    if (opFilter.forall("walk_stress_sink".contains)) {
      val heap = new graft.PeakHeapSampler(100)
      def measureW(label: String, rows: Long)(body: => Unit): Unit = {
        time(body) // discarded warmup
        val samples = Seq.fill(2) {
          heap.reset()
          val t = time(body)
          (t, heap.drainLive() / 1e9, heap.drain() / 1e9)
        }
        val best = samples.minBy(_._1)
        println(f"[scaling] walk_stress/$label%-28s rows=$rows%9d " +
          f"${best._1}%7.2fs  peak_live=${best._2}%5.2f GB  peak_heap=${best._3}%5.2f GB")
      }
      for (nx <- Seq(1, 10)) {
        measureW(s"random_walks_sink_64x20_${nx}x", edgeRows(nx)) {
          Paths.randomWalksToSink(edgesDf(nx), "src", "dst",
            walksPerNode = 64, steps = 20, path = s"$Dir/walk_sink_$nx")
        }
      }
    }
    // ---- r20: decade ladder for the r19 additions ---------------------
    // (r19 verdict #5) dedup_clusters_refresh_stream and the NB order
    // twins got first bench lines without SCALING receipts. Protocol:
    // fixed work (one 50-doc streaming refresh batch; the order-corpus
    // train+confusion) against the 1x/10x corpora, wall + sampled
    // peaks — the streaming refresh's per-batch cost must track the
    // batch's ball, not the standing corpus, and the NB twins must
    // track corpus ~linearly with a FLAT bounded model (16-token
    // vocab / 64 bigram buckets => broadcastable grid at any corpus).
    if (opFilter.forall("r20_additions".contains)) {
      val heap = new graft.PeakHeapSampler(100)
      def measureR(label: String, rows: Long)(body: => Unit): Unit = {
        time(body) // discarded warmup
        val samples = Seq.fill(2) {
          heap.reset()
          val t = time(body)
          (t, heap.drainLive() / 1e9, heap.drain() / 1e9)
        }
        val best = samples.minBy(_._1)
        println(f"[scaling] r20_additions/$label%-24s rows=$rows%9d " +
          f"${best._1}%7.2fs  peak_live=${best._2}%5.2f GB  peak_heap=${best._3}%5.2f GB")
      }
      import graft.sources.IndexStore
      for (nx <- Seq(1, 10)) {
        // standing artifacts built OUTSIDE the timer (the entry's
        // ensureDupClusterStanding shape, on the scaling corpus)
        val standing = docs(nx).where(col("doc_id") >= 50)
        IndexStore.writeBucketed(
          Dedup.shingleIndex(standing, "doc_id", "text", n = 3),
          s"graft_r20_shidx_$nx", "shingle", 8)
        val pairs = Dedup.jaccardPairsPrefix(standing, "doc_id", "text",
            n = 3, threshold = 0.8)
          .select(col("id_a"), col("id_b"))
          .localCheckpoint(true)
        IndexStore.writeTable(
          Communities.labelPropagation(pairs, "id_a", "id_b", iterations = 4),
          s"graft_r20_labels_$nx")
        IndexStore.writeBucketed(
          Communities.lpaAdjacency(pairs, "id_a", "id_b"),
          s"graft_r20_adj_$nx", "nbr", 8)
        org.apache.spark.sql.graft.CheckpointBridge.release(pairs)
        val batchRows = docs(nx).where(col("doc_id") < 50)
          .select(col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        measureR(s"refresh_stream_${nx}x", docRows(nx)) {
          import spark.implicits._
          implicit val sqlCtx = spark.sqlContext
          val input = org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[(Long, String)]
          @volatile var out: DataFrame = null
          val q = graft.streaming.StreamOps.communityRefresh(
              input.toDF().toDF("doc_id", "text"),
              IndexStore.read(spark, s"graft_r20_shidx_$nx"),
              IndexStore.read(spark, s"graft_r20_adj_$nx"),
              IndexStore.read(spark, s"graft_r20_labels_$nx"),
              hops = 2, iterations = 2) { (labels, _) => out = labels; () }
            .start()
          try { input.addData(batchRows: _*); q.processAllAvailable() }
          finally q.stop()
          Communities.communitySizes(out)
            .write.format("noop").mode("overwrite").save()
        }
      }
      // NB order twins — the entry's corpus construction (same cls/text
      // synthesis as QueryCatalog.orderCorpus) over the scaling docs
      def orderC(nx: Int): DataFrame = docs(nx).select(
        col("doc_id"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("fwd"))
          .otherwise(lit("rev")).as("cls"),
        concat_ws("", array_repeat(
          when(pmod(col("doc_id"), lit(2)) === 0, lit("ord0 ord2 ord3 "))
            .otherwise(lit("ord3 ord2 ord0 ")),
          (lit(3) + pmod(col("doc_id"), lit(5))).cast("int"))).as("text"))
      for (nx <- Seq(1, 10); bg <- Seq(0, 64)) {
        val name = if (bg == 0) "unigram" else "bigram"
        val corpus = orderC(nx)
        measureR(s"nb_order_${name}_${nx}x", docRows(nx)) {
          val model = NaiveBayes.train(
            corpus.where(pmod(col("doc_id"), lit(3)) =!= 0), "cls", "text",
            vocabSize = 16, bigramBuckets = bg)
          NaiveBayes.confusion(
              corpus.where(pmod(col("doc_id"), lit(3)) === 0), model,
              "doc_id", "text", "cls", bigramBuckets = bg)
            .write.format("noop").mode("overwrite").save()
        }
      }
    }
    spark.stop()
  }
}
