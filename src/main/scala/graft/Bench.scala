package graft

import org.apache.spark.sql.SparkSession

import graft.tree.{Criterion, DecisionTreeClassifier}

/** Benchmark main: times every registered query plus a depth-4 tree fit on
  * the scale dir, printing ONE JSON line for the driver.
  *
  * Queries are forced through a `noop`-format write (full evaluation of
  * every output column) rather than `count()` — Catalyst prunes unreferenced
  * computed columns under count, which would flatter expression-heavy
  * queries.
  *
  * Methodology: INTERLEAVED sweeps. One discarded warmup sweep runs every
  * entry once (session/codegen/parquet-footer cold start lands there), then
  * UP TO 3 measured sweeps (deadline-aware, r18 — at least one always
  * runs, the emitted JSON records the count as `sweeps`) run the whole
  * entry list end-to-end and each entry
  * reports the MIN of its per-sweep times (total = sum of mins).
  * Interleaving matters: with 3 CONSECUTIVE runs per entry, a mid-session
  * JIT/GC/code-cache window inflated whichever queries sorted together
  * alphabetically (r5: majority_class 5.5x its line while the shape-identical
  * class_distribution ran 0.21 s minutes earlier). With repetitions ~100 s
  * apart, a transient window can poison at most one of an entry's 3 samples.
  * MIN (not median) because interleaving has a second-order cost the other
  * way: ~60 entries' generated classes churn the JIT code cache between an
  * entry's samples, so typically one of the 3 lands on a recompile and the
  * median inherits a uniform ~1.5x inflation vs the consecutive-run lines
  * (r6: 17 entries drifted 1.4-1.9x with unchanged plans). The min is
  * immune to both failure modes and measures the same warm-capability the
  * held lines did.
  *
  * Heap: per-entry peak-heap deltas are sampled (PeakHeapSampler.drain gives
  * the high-water mark of exactly one entry's window) and reported as
  * `peaks_gb`, so a raised session peak is attributable to a named entry
  * instead of a round-over-round mystery.
  *
  * Anomaly bracketing (r19 — the r18 verdict's #1: the driver record's
  * wide190 read 460.8 s against a same-code 15.6 s gate with NO second
  * sample in that environment to attribute it): the warmup sweep's
  * per-entry times are RECORDED (not used for the min — cold start still
  * lands there by design) and emitted as `warmup` in the full JSON, so
  * every run carries at least two same-JVM samples per entry. Per-entry
  * GC-time deltas ride along (`gc_ms`) — a 30x sample with its time in
  * collections is a heap event, one without is JIT/scheduler. After the
  * sweeps, entries whose measured MIN still sits over 4x their own warmup
  * get ONE bounded re-run each (budget-guarded, cheapest first): a fast
  * retry re-dates the min to box phase in-record; a slow retry is the
  * regression receipt. The compact stdout line carries only the anomalous
  * brackets (`anomalies`) — the full maps stay in the provenance file.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed-index tables (batch_ann_topk_bucketed) land in tmp, not cwd
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-bench-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    /** Elapsed seconds, or -1 when the query failed — a failure must stay
      * visible in the JSON, not read as a suspiciously fast success. */
    def timeOnce(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try { body; (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable => System.err.println(s"[bench] failed: $e"); -1.0 }
    }

    /** Session hygiene between runs: the pair/ANN operators materialize
      * their indices with eager `localCheckpoint(true)` and nothing frees
      * those RDD blocks. In a single long-lived bench session they
      * accumulated across all ~40 entries (peak heap climbed 2.0→5.9→7.8 GB
      * across rounds and trivial queries drifted up with unchanged code).
      * Dropping persistent blocks and cached relations outside the timed
      * region makes each measurement a plan measurement, not a measurement
      * of accumulated session state.
      *
      * BLOCKING unpersist, deliberately: with `blocking = false` the block
      * removal runs on async block-manager threads INSIDE the next entries'
      * timed windows — r10/r11 showed a ~1.5 s per-entry floor on the
      * entries that alphabetically follow the checkpoint-heavy dedup
      * family (distinct_targets 1.35→1.53 s across sweeps vs 0.26-0.44 s
      * in isolation, with neighbor entries pinned at near-identical
      * values — the signature of a shared positional cost, not a plan
      * cost). Paying removal synchronously here keeps it outside every
      * measurement. */
    def release(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }

    /** Collect garbage between entries when used heap has piled up, so an
      * entry's sampled peak measures ITS allocations, not the uncollected
      * garbage of whoever ran before it. Bounded by the 2 GB gate so we
      * don't pay ~200 full GCs per bench; runs outside every timed region. */
    def gcIfPiled(): Unit = {
      val rt = Runtime.getRuntime
      if (rt.totalMemory() - rt.freeMemory() > (2L << 30)) System.gc()
    }

    // ---- unified entry list: catalog queries + the headline ML fits ----
    val queryEntries: Seq[(String, () => Unit)] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        (name, () => fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      }

    // The headline ML workload: depth-4 entropy fit on lineitem numeric
    // features + single-pass batch predict, reference EP1+EP2 shape.
    // Exact mode = reference-parity candidate set (every distinct value);
    // bins32 = the scale path (quantile-binned thresholds).
    // `_scalable` (formerly exact with partitioned prefix sums) keeps its
    // name so its trajectory continues, and runs the one exact fit.
    val fitVariants = Seq(
      ("fit_depth4_entropy", None),           // exact
      ("fit_depth4_entropy_scalable", None),  // exact
      ("fit_depth4_entropy_bins32", Some(32))) // quantile-binned
    val fitEntries: Seq[(String, () => Unit)] = fitVariants.map { case (label, bins) =>
      (label, () => {
        val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag")
        val model = DecisionTreeClassifier(maxDepth = Some(4), criterion = Criterion.Entropy,
          maxBins = bins).fit(df, "l_returnflag")
        graft.tree.Predict.predictMany(model, df)
          .write.format("noop").mode("overwrite").save()
      })
    }

    // Width scaling at the reference's flagship width (190 features,
    // README.md:40-47). Derive synthetic numeric features and fit binned
    // level-wise — each level is one Spark job whose tasks count un-melted
    // packed rows into MultiFeatureHistogram, one pass per level regardless
    // of feature count, which is what makes wide tables viable (the melt
    // formulation multiplies rows by #features+1).
    def wideFit(nDerived: Int): Unit = {
      // Shared construction (graft.tools.WideFrame) keeps WideHeapProbe
      // and WideScalableFitSpec on exactly this workload. Repartition
      // because at wide widths the per-row work dominates the one tiny
      // 5-column exchange (the testdata parquet is ONE row group -> a
      // single scan task; a real corpus has thousands). The narrow fits
      // stay on the raw scan: their per-row work is light enough that each
      // pre-cache action re-paying the exchange costs more than it buys.
      val wide = graft.tools.WideFrame.frame(spark, sfDir, nDerived,
        repartitionTo = Some(spark.sparkContext.defaultParallelism))
      val model = DecisionTreeClassifier(maxDepth = Some(4), criterion = Criterion.Entropy,
        maxBins = Some(32)).fit(wide, "l_returnflag")
      graft.tree.Predict.predictMany(model, wide)
        .write.format("noop").mode("overwrite").save()
    }
    val wideEntries: Seq[(String, () => Unit)] = Seq(
      ("fit_depth4_entropy_bins32_wide24", () => wideFit(20)),
      ("fit_depth4_entropy_bins32_wide190", () => wideFit(186)),
      // the former melted-histogram pipeline shape of the same binned
      // fit; the name is kept so the entry's trajectory continues, and it
      // now runs the one binned trainer
      ("fit_depth4_entropy_scalable_wide190", () => wideFit(186)))

    // documents with each token deterministically suffixed into ~500
    // variants — the vocabulary-rich corpus the realistic-merge-count
    // BPE entries train on (the raw synthetic vocab exhausts at 89
    // byte-level merges)
    def richDocs(dir: String) = {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$dir/documents.parquet").withColumn("text",
        array_join(transform(split(col("text"), "\\s+"), (t, i) =>
          concat(t, lit("_"), pmod(xxhash64(t, i), lit(499)))), " "))
    }

    // Learned-BPE token pipeline: one corpus scan -> word-count table ->
    // driver merge loop -> broadcast segmentation -> stream packing on
    // TRUE subword counts. Spec-covered (BpeSpec); no SQL oracle — the
    // merge loop is an iterative learned artifact outside bounded SQL,
    // so it benches here instead of joining the hash-checked catalog.
    val bpeEntries: Seq[(String, () => Unit)] = Seq(("bpe_train_segment_pack", () => {
      import org.apache.spark.sql.functions.col
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val merges = graft.operators.Bpe.trainOnCorpus(docs, "text", numMerges = 64)
      val seg = graft.operators.Bpe.segment(docs, "doc_id", "text", merges)
        .withColumn("n_tokens", col("n_tokens").cast("long"))
      graft.operators.Packing.packByBudget(seg, "doc_id", "n_tokens",
          budget = 2048L, numBuckets = 8)
        .write.format("noop").mode("overwrite").save()
    }),
    // Byte-level flavor (GPT-2 alphabet, case-preserving runs — the
    // lossless real-tokenizer mode); spec-covered like the word-level
    // entry (BpeSpec round-trip property).
    ("bpe_byte_level_train_segment", () => {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val merges = graft.operators.Bpe.trainOnCorpus(docs, "text",
        numMerges = 64, byteLevel = true)
      graft.operators.Bpe.segment(docs, "doc_id", "text", merges, byteLevel = true)
        .write.format("noop").mode("overwrite").save()
    }),
    // Trained product quantization end to end: per-subspace distributed
    // k-means codebooks -> compressed encode -> ADC ranking. Spec-covered
    // (PqSpec); the seed-codebook flavor is the hash-checked pq_topk.
    ("pq_topk_trained", () => {
      import org.apache.spark.sql.functions.{col, transform}
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val cb = graft.operators.Similarity.pqTrainedCodebooks(
        e, "vec_id", "embedding", m = 8, k = 16)
      val q = e.where(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")))
        .head().getSeq[Double](0)
      graft.operators.Similarity.pqTopK(
          graft.operators.Similarity.pqEncode(e, "vec_id", "embedding", cb), cb, q, k = 10)
        .write.format("noop").mode("overwrite").save()
    }),
    // Realistic byte-level merge count: 1,024 merges through the
    // incremental trainer (r7 task #7 — prove the inverted-index merge
    // loop scales ~linearly in merges, not quadratically). The raw
    // synthetic corpus exhausts at 89 byte-level merges (40-word
    // vocabulary), so both entries derive a RICHER corpus from
    // documents — each token deterministically suffixed into ~500
    // variants — on which 1,024 merges are sustained (verified); the
    // _rich64 twin on the IDENTICAL corpus isolates the merge-count
    // axis. BpeSpec pins vocab = alphabet+merges at the full 1,024.
    ("bpe_byte_level_rich64", () => {
      val merges = graft.operators.Bpe.trainOnCorpus(
        richDocs(sfDir), "text", numMerges = 64, byteLevel = true)
      require(merges.pairs.length == 64, "rich corpus must sustain 64 merges")
    }),
    ("bpe_byte_level_1k", () => {
      val merges = graft.operators.Bpe.trainOnCorpus(
        richDocs(sfDir), "text", numMerges = 1024, byteLevel = true)
      require(merges.pairs.length == 1024, "rich corpus must sustain 1,024 merges")
    }),
    // FAISS-realistic coarse quantizer (r7 task #6): nlist=4096 on the
    // centroid-TABLE ranked probe + broadcast mapPartitions assignment —
    // both O(1) plan size in nlist, where the literal-centroid paths
    // explode plan/codegen. Centroids are a deterministic synthetic grid
    // (the bench corpus is smaller than nlist; what this measures is the
    // probe/assignment SHAPE at real nlist). Same writes + query set as
    // batch_ivf_topk_bucketed, which is its comparison line.
    ("batch_ivf_topk_nlist4096", () => {
      import org.apache.spark.sql.functions.col
      val S = graft.operators.Similarity
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val dim = 64
      val cents: Seq[Seq[Double]] = (0 until 4096).map { i =>
        (0 until dim).map { j =>
          val h = i * 1315423911L + j * 2654435761L
          ((h ^ (h >>> 16)) & 0xffff) / 32768.0 - 1.0
        }
      }
      val index = S.assignCellsBroadcast(e, "vec_id", "embedding", cents)
      val suffix = sfDir.replaceAll("[^A-Za-z0-9]", "_")
      graft.sources.IndexStore.writeBucketed(index, "graft_ivf4096_idx_" + suffix, "cell", 8)
      graft.sources.IndexStore.writeTable(
        S.centroidTable(spark, cents), "graft_ivf4096_cents_" + suffix)
      S.ivfTopKForQueriesTable(
          graft.sources.IndexStore.read(spark, "graft_ivf4096_idx_" + suffix),
          graft.sources.IndexStore.read(spark, "graft_ivf4096_cents_" + suffix),
          e.where(col("vec_id") < 5), "vec_id", "embedding", nprobe = 16, k = 5)
        .write.format("noop").mode("overwrite").save()
    }))

    // Dev knob (NOT set by the driver): comma-separated entry names to
    // restrict the sweep to — lets a JSON-shape or single-entry check run
    // in seconds instead of a full 220-entry sweep.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Wide fits are measured in a LEAD BLOCK on the fresh JVM, before the
    // warmup sweep ever runs the other ~220 entries (r20, declared
    // measurement fix; supersedes the r19 in-sweep reorder). The r19
    // control experiment (SCALING.md) isolated the wide190 premium to
    // JIT type-profile pollution of shared Spark hot paths after dozens
    // of distinct generated plans — a 1.7x premium reproduced with only
    // 64 preceding plans, 2.4 s GC, code cache far under max. Moving the
    // entry to the FRONT of each sweep (r19) cannot escape that: by the
    // first measured sweep the warmup sweep has already run every plan
    // once (r20 before-record: 151.1 s measured vs 81.6 s same-JVM
    // warmup vs 18.6 s isolated, gc 13 s of 151 — the min got WORSE than
    // the tail position's 48 s builder gate read). The lead block prices
    // the same warm capability the isolated `SPARK_GRAFT_BENCH_ONLY`
    // receipts price, inside the one driver invocation: per wide entry
    // one discarded cold run (recorded in `warmup`), then up to 3
    // measured back-to-back passes, min recorded — identical methodology
    // (noop sink, same hygiene between runs), just sampled before the
    // JIT state the other 220 plans create. The wide entries are then
    // EXCLUDED from the interleaved sweeps; every other entry keeps the
    // warmup + interleaved-min methodology unchanged.
    val leadEntries = wideEntries
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val entries = (fitEntries ++ queryEntries ++ bpeEntries)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    val samples = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    val warmups = scala.collection.mutable.LinkedHashMap[String, Double]()
    val retries = scala.collection.mutable.LinkedHashMap[String, Double]()
    val gcMs = scala.collection.mutable.LinkedHashMap[String, Long]()
    val peaks = scala.collection.mutable.LinkedHashMap[String, Long]()
    val livePeaks = scala.collection.mutable.LinkedHashMap[String, Long]()
    var globalPeak = 0L
    var globalLive = 0L

    /** Cumulative stop-the-world collection time across all collectors —
      * the per-entry delta attributes an anomalous wall-clock sample to
      * heap pressure (GC-dominated) vs JIT/scheduler (not). */
    def totalGcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(0L, b.getCollectionTime)).sum
    }

    /** One trivial job through the scheduler so any pending cleanup RPCs
      * (block removals, broadcast destroys, ContextCleaner work) drain
      * before the next timed region opens — ~ms each, outside timing. */
    def settle(): Unit = spark.range(1).count()

    def runEntry(name: String, body: () => Unit, measured: Boolean): Unit = {
      globalPeak = math.max(globalPeak, heap.drain()) // pre-entry residue → global only
      globalLive = math.max(globalLive, heap.drainLive())
      val gc0 = totalGcMs()
      val t = timeOnce(body())
      val p = heap.drain()
      val lv = heap.drainLive()
      globalPeak = math.max(globalPeak, p)
      globalLive = math.max(globalLive, lv)
      if (measured) {
        samples(name) = samples.getOrElse(name, Nil) :+ t
        gcMs(name) = math.max(gcMs.getOrElse(name, 0L), totalGcMs() - gc0)
        peaks(name) = math.max(peaks.getOrElse(name, 0L), p)
        livePeaks(name) = math.max(livePeaks.getOrElse(name, 0L), lv)
      } else {
        // warmup times are recorded but never enter the min: cold start
        // (session/codegen/parquet footers + the ensure* standing-artifact
        // builds) lands here by design — the value of the record is the
        // second same-JVM sample it gives every measured min
        warmups(name) = t
      }
      release()
      gcIfPiled()
      settle()
    }

    def sweep(measured: Boolean): Unit =
      entries.foreach { case (name, body) => runEntry(name, body, measured) }

    // DEADLINE-AWARE sweep count (r18 — the r17 driver bench died rc 124
    // with NO per-entry record: a fixed warmup+3 schedule at 219+
    // entries exceeded the harness budget whenever the box ran slow).
    // The warmup always runs (cold-start isolation) and AT LEAST ONE
    // measured sweep always runs (a record must exist); further sweeps
    // (up to 3) are added only while the budget predicts they fit,
    // using the last completed pass's duration as the estimate. A
    // record that says "min over 1-2 warm interleaved sweeps, sweeps
    // count recorded in the JSON" beats a timeout that says nothing.
    // Budget via SPARK_GRAFT_BENCH_DEADLINE_S. Default re-based r19: the
    // r18 driver run completed at 3182 s sbt wall (rc 0), so the harness
    // cap is >= ~53 min and the old 1680 s default was leaving sweeps on
    // the table — a fast-phase box (warmup+sweep ~550 s each) now fits
    // warmup + 3 measured sweeps with retry headroom, while a slow-phase
    // box degrades to the same forced warmup+1 the r18 run already
    // survived.
    val deadlineS = sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_S", "2600").toDouble
    val bench0 = System.nanoTime()
    def spent(): Double = (System.nanoTime() - bench0) / 1e9
    def timedSweep(measured: Boolean): Double = {
      val s0 = System.nanoTime()
      sweep(measured)
      (System.nanoTime() - s0) / 1e9
    }
    // Lead block (fresh JVM — see the leadEntries comment): per wide
    // entry one discarded cold pass, then up to 3 measured round-robin
    // passes, each admitted only while the deadline predicts it fits
    // (estimate = the entry's last observed duration, cold pass included,
    // with the same 1.2x margin the anomaly retries use).
    leadEntries.foreach { case (name, body) => runEntry(name, body, measured = false) }
    val leadLast = scala.collection.mutable.Map[String, Double]() ++=
      leadEntries.flatMap { case (n, _) => warmups.get(n).filter(_ >= 0).map(n -> _) }
    (1 to 3).foreach { _ =>
      leadEntries.foreach { case (name, body) =>
        if (spent() + leadLast.getOrElse(name, 60.0) * 1.2 + 10 <= deadlineS) {
          runEntry(name, body, measured = true)
          samples.get(name).flatMap(_.lastOption).filter(_ >= 0)
            .foreach(leadLast(name) = _)
        }
      }
    }

    var lastDur = timedSweep(measured = false) // discarded warmup sweep
    var sweepsRun = 0
    while (sweepsRun < 3 &&
        (sweepsRun == 0 || spent() + lastDur * 1.05 <= deadlineS)) {
      lastDur = timedSweep(measured = true)
      sweepsRun += 1
    }

    // ---- anomaly retries (r18 verdict #1): an entry whose measured MIN
    // sits over 4x its own same-JVM warmup is carrying a sample that
    // reconciles with nothing — one bounded re-run each (cheapest
    // expected cost first, warmup-estimated, budget-guarded so a real
    // regression's slow retry can't starve the rest) either re-dates the
    // min to box phase in-record or stands as the regression receipt.
    def minOf(ts: List[Double]): Double = if (ts.exists(_ < 0)) -1.0 else ts.min
    val anomalous = samples.toSeq
      .map { case (n, ts) => (n, minOf(ts)) }
      .filter { case (n, m) =>
        m >= 0 && warmups.get(n).exists(w => w >= 0 && m > 4.0 * w) }
      .sortBy { case (n, _) => warmups(n) }
    anomalous.foreach { case (name, m) =>
      // Budget against the WORST credible outcome, not the hoped-for one
      // (r19 ADVICE): the retry exists because min > 4x warmup, so if the
      // entry genuinely regressed the retry runs at ~the measured min —
      // estimating at warmup*1.5 would overshoot the deadline by minutes
      // on a real wide-fit regression. max(warmup, min)*1.2 + hygiene
      // admits the retry only when even the slow outcome fits.
      if (spent() + math.max(warmups(name), m) * 1.2 + 10 <= deadlineS) {
        entries.find(_._1 == name).foreach { case (_, body) =>
          val t = timeOnce(body())
          retries(name) = t
          if (t >= 0) samples(name) = samples(name) :+ t
          release(); gcIfPiled(); settle()
        }
      }
    }

    val results = samples.map { case (name, ts) => name -> minOf(ts) }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val wu = warmups.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val rt = retries.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val gcj = gcMs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val pk = peaks.map { case (k, v) => "\"" + k + "\":" + f"${v / 1e9}%.2f" }.mkString("{", ",", "}")
    // post-GC live peaks: the harness-independent memory number (raw
    // sampled peaks scale with the harness's -Xmx via G1 young-gen and
    // Spark execution-pool sizing — see PeakHeapSampler scaladoc)
    val lv = livePeaks.map { case (k, v) => "\"" + k + "\":" + f"${v / 1e9}%.2f" }.mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val peakGb = math.max(globalPeak, heap.peakBytes) / 1e9
    val liveGb = math.max(globalLive, heap.livePeakBytes) / 1e9
    // Code-cache occupancy diagnostics (the wide190 bimodality lead):
    // ~200 entries x whole-stage codegen compile thousands of classes
    // in this one JVM; if the CodeHeap pools run at their reserve the
    // JIT flushes hot methods and later sweeps re-JIT what the warmup
    // compiled (the r10 spread, fixed by ReservedCodeCacheSize=512m).
    // Recording peak usage per pool turns "is the reserve enough at
    // the CURRENT entry count" from a guess into a per-round number.
    import scala.jdk.CollectionConverters._
    val codePools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map { p =>
        val peakMb = p.getPeakUsage.getUsed / 1e6
        // JMX allows getMax = -1 (undefined reserve); rendering that as
        // "-0" MB reads like a zero reserve in the gate artifact — emit
        // null instead so undefined stays visibly undefined
        val maxBytes = p.getUsage.getMax
        val maxJson =
          if (maxBytes < 0) "null" else f"${maxBytes / 1e6}%.0f"
        "\"" + p.getName.replace("'", "") + "\":" +
          f"""{"peak_mb":$peakMb%.0f,"max_mb":$maxJson}"""
      }.mkString("{", ",", "}")
    val leadJson = leadEntries.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    // the harness the record was taken on, resolved from the session
    // rather than from the env var that asked for it, so a record whose
    // cores or heap differ from its label shows it
    val LocalMaster = """local\[(\d+|\*)(?:,\s*\d+)?\]""".r
    val resolvedCpus = spark.sparkContext.master match {
      case "local" => 1
      case LocalMaster("*") => Runtime.getRuntime.availableProcessors
      case LocalMaster(n) => n.toInt
      case _ => spark.sparkContext.defaultParallelism
    }
    val harness = f""""cpus":$resolvedCpus,"default_parallelism":""" +
      f"""${spark.sparkContext.defaultParallelism},"xmx_gb":${Runtime.getRuntime.maxMemory / 1e9}%.2f"""
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,""" +
      f""""sweeps":$sweepsRun,"lead":$leadJson,"warmup":$wu,"retries":$rt,"gc_ms":$gcj,""" +
      f""""peak_heap_gb":$peakGb%.2f,"peak_live_gb":$liveGb%.2f,"peaks_gb":$pk,""" +
      f""""peaks_live_gb":$lv,"code_cache":$codePools,$harness,"sf":"$sfDir"}"""
    // The driver's stdout capture keeps only a ~2 KB tail: the full
    // ~150-entry line was truncated mid-JSON every round since r8
    // ("parsed": null in BENCH_r*.json). Stdout therefore carries a
    // COMPACT line — total + the headline entries the held baselines
    // track — that always fits the capture; the COMPLETE per-entry
    // record still lands in target/bench_latest.json below (committed
    // as BENCH_GATE_r{N}.json at round close, per the r12 verdict).
    val headline = Seq(
      "fit_depth4_entropy", "fit_depth4_entropy_scalable",
      "fit_depth4_entropy_bins32", "fit_depth4_entropy_bins32_wide190",
      "fit_depth4_entropy_scalable_wide190",
      "jaccard_pairs", "dedup_drop", "dedup_clusters", "minhash_lsh_pairs",
      "winnow_pairs", "simhash_pairs", "fuzzy_clusters", "sessionize",
      "event_hopping_distinct", "knn_classify", "bm25_topk_indexed",
      "semantic_dedup", "pagerank", "pagerank_dangling", "pq_topk_trained",
      "bpe_byte_level_1k")
    // a renamed/removed catalog key must not vanish silently from the
    // headline record — flag it where the round notes will see it
    headline.filterNot(results.contains).foreach(k =>
      System.err.println(s"[bench] headline entry missing from results: $k"))
    val hqs = headline.flatMap(k => results.get(k).map(v => "\"" + k + "\":" + f"$v%.3f"))
      .mkString("{", ",", "}")
    // the compact line carries the anomaly BRACKETS only (warmup w,
    // measured-min m, retry r, gc seconds) — expected empty; the full
    // warmup/retry/gc maps stay in the provenance file under the ~2 KB
    // stdout-capture cap
    val anoJson = anomalous.map { case (k, m) =>
      val parts = Seq(
        Some(f""""w":${warmups(k)}%.2f"""),
        Some(f""""m":$m%.2f"""),
        retries.get(k).map(r => f""""r":$r%.2f"""),
        gcMs.get(k).map(g => f""""gc_s":${g / 1e3}%.1f""")).flatten
      "\"" + k + "\":" + parts.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val compact = f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
      f""""queries":$hqs,"n_entries":${results.size},"sweeps":$sweepsRun,""" +
      f""""anomalies":$anoJson,"peak_heap_gb":$peakGb%.2f,""" +
      f""""peak_live_gb":$liveGb%.2f,$harness,"full":"target/bench_latest.json",""" +
      f""""sf":"$sfDir"}"""
    println(compact)
    // Provenance copy: the driver captures stdout, but BENCH_r06's
    // per-entry timings were lost to tail truncation there — a file
    // under target/ survives regardless (BASELINE.md points here).
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_latest.json"))
    // a clean bench must not die on the provenance write: create the
    // parent dir (runs outside sbt lack target/) and absorb IO failures —
    // stdout already carried the line
    scala.util.Try {
      Option(outPath.toAbsolutePath.getParent)
        .foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(outPath, line + "\n")
    }.failed.foreach(e => System.err.println(s"[bench] provenance write failed: $e"))
    spark.stop()
  }

  private val heap = new PeakHeapSampler(100)
}
