package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-statistics document scoring and filtering — quality signals
  * that need a pass over the WHOLE corpus before any document can be
  * scored, unlike the per-row [[graft.functions.TextFunctions]] columns.
  * These are the curation steps that run after per-doc filters: score
  * every document against corpus-global statistics, then threshold.
  */
object Scoring {

  /** Per-document bigram "fluency" score from corpus bigram frequencies —
    * the count-based skeleton of KenLM-style LM filtering (CCNet scores
    * documents by LM perplexity; with counts instead of backoff
    * probabilities the score stays integer-exact and cross-engine
    * checkable). A document whose bigrams are common corpus-wide reads
    * like the corpus; boilerplate/gibberish sits in the tails.
    *
    * Dataflow: tokenize once, build per-doc bigram rows with an in-plan
    * `transform(sequence(...))` (no shuffle, no self-join), aggregate the
    * corpus bigram table — map-side combined, shuffle volume = distinct
    * bigrams — then join doc-bigrams back on the bigram key and roll up
    * per document. Both shuffles key on the bigram; a stop-bigram hot key
    * is AQE-skew-join territory, and `trackTopK` removes the count join
    * entirely when the full table outgrows the shuffle.
    *
    * Output: (idCol, n_bigrams, freq_sum, avg_bigram_freq); documents
    * with fewer than two tokens have no bigrams and drop out.
    *
    * `trackTopK` is the broadcast scale variant: only the K most frequent
    * bigrams are tracked (deterministic cut: count desc, bigram asc) and
    * BROADCAST onto the doc-bigram stream, every untracked bigram scoring
    * its own single occurrence (frequency 1 — exact for true singletons,
    * a floor for the rest). The per-doc rollup becomes the only shuffle:
    * no corpus-wide count-table join, no hot-key exposure. The right
    * shape when the distinct-bigram table outgrows the shuffle tier but
    * the frequent head (what the score actually discriminates on) fits
    * in a broadcast.
    */
  def bigramFrequencyScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      trackTopK: Option[Int] = None
  ): DataFrame = {
    // materialize the token array in its own projection: referencing the
    // split() expression directly inside the transform lambda makes
    // element_at re-run the regex split per ELEMENT — O(tokens^2) regex
    // work per document (measured 7x on the bench corpus).
    // lower() for cross-operator consistency: every text operator here
    // (Tfidf.vocabulary, Dedup.shingleSet, Bpe.wordCounts) case-folds,
    // so composed pipelines see one tokenization convention.
    val toks = split(regexp_replace(lower(trim(col(textCol))), "\\s+", " "), " ")
    val tokenized = df.select(col(idCol), toks.as("__toks"))
    val ta = col("__toks")
    val n = size(ta)
    val bigrams = when(n >= lit(2),
      transform(sequence(lit(1), n - lit(1)),
        i => concat_ws(" ", element_at(ta, i), element_at(ta, i + lit(1)))))
      .otherwise(array().cast("array<string>"))
    val docBigrams = tokenized.select(col(idCol), explode(bigrams).as("bg"))
    val counts = docBigrams.groupBy("bg").agg(count(lit(1)).as("cnt"))
    val joined = trackTopK match {
      case Some(k) =>
        require(k >= 1, s"trackTopK must be >= 1, got $k")
        val head = counts.orderBy(col("cnt").desc, col("bg").asc).limit(k)
        docBigrams.join(broadcast(head), Seq("bg"), "left")
          .withColumn("cnt", coalesce(col("cnt"), lit(1L)))
      case None => docBigrams.join(counts, Seq("bg"))
    }
    joined
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum("cnt").as("freq_sum"))
      .withColumn("avg_bigram_freq",
        round(col("freq_sum").cast("double") / col("n_bigrams"), 6))
  }

  /** Top-k collocations by pointwise mutual information:
    * `pmi(w1, w2) = ln( P(w1 w2) / (P(w1) P(w2)) )` over corpus bigram /
    * unigram frequencies — the classic collocation-extraction signal
    * (Church & Hanks 1990), used here to surface multi-word boilerplate
    * and named-entity phrases worth treating as units.
    *
    * Scale shape: unigram and bigram count tables are map-side-combined
    * aggregates (shuffle volume = distinct grams, the
    * [[bigramFrequencyScore]] discipline); the two probability joins are
    * plain equi-joins on the word key; corpus totals ride a one-row
    * broadcast; the cut compiles to TakeOrderedAndProject. The PMI double
    * is a single per-row closed-form expression over exact integer counts
    * (counts enter as exact <2^53 doubles, one op order), so it is
    * deterministic and SQL-replayable.
    *
    * `minCount` floors the bigram count — PMI famously explodes for
    * hapax pairs (two words seen once, together), so a raw top-k without
    * the floor returns noise. Output: `(w1, w2, n_pair, pmi)`. */
  def pmiCollocations(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minCount: Long
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val toks = split(regexp_replace(lower(trim(col(textCol))), "\\s+", " "), " ")
    val tokenized = df.select(col(idCol), toks.as("__toks"))
    val ta = col("__toks")
    val n = size(ta)
    val bigrams = when(n >= lit(2),
      transform(sequence(lit(1), n - lit(1)),
        i => struct(element_at(ta, i).as("w1"), element_at(ta, i + lit(1)).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val uni = tokenized.select(explode(ta).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
    val pair = tokenized.select(explode(bigrams).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= lit(minCount))
    val totals = uni.agg(sum("c").as("__n")).crossJoin(
      tokenized.select(explode(bigrams).as("bg")).agg(count(lit(1)).as("__b")))
    pair
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .withColumn("pmi",
        log(col("n_pair").cast("double") * col("__n") * col("__n") /
          (col("__b").cast("double") * col("c1") * col("c2"))))
      .select(col("w1"), col("w2"), col("n_pair"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Robust per-stratum scaling: `scaled = (x - median) / IQR` within
    * each group — the outlier-resistant alternative to z-scoring
    * (mean/stddev move with the tails; median/IQR don't), and the
    * affine complement of [[percentileNormalize]] (which discards
    * magnitude entirely). Strata with zero IQR (constant scores) are
    * excluded — their scale is undefined, not infinite.
    *
    * Shape: one exact-percentile aggregate per stratum (ONE per-group
    * sort serves all three quantiles via the array-probability form —
    * the group_percentiles discipline), a one-row-per-stratum broadcast
    * join back, and a scan-speed projection. The `approx = true`
    * regime of [[qualityFilterStratified]] applies here too when strata
    * outgrow the exact sort. */
  def robustScale(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      groupCol: String
  ): DataFrame = {
    val stats = df.where(col(scoreCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(percentile(col(scoreCol), array(lit(0.25), lit(0.5), lit(0.75))).as("__p"))
      .select(col(groupCol), col("__p")(1).as("__med"),
        (col("__p")(2) - col("__p")(0)).as("__iqr"))
    df.where(col(scoreCol).isNotNull)
      .join(broadcast(stats), Seq(groupCol))
      .where(col("__iqr") > 0)
      .withColumn("scaled", (col(scoreCol) - col("__med")) / col("__iqr"))
      .select(col(idCol), col(groupCol), col(scoreCol), col("scaled"))
  }

  /** Percentile-rank normalization of a score WITHIN each stratum:
    * `pct = percent_rank` and an `ntile` curriculum bucket over the
    * (score, id) total order per group — the standard way to make
    * quality scores comparable ACROSS sources whose raw distributions
    * differ (source A's 0.6 may be its top decile while source B's 0.6
    * is median; after normalization both read as their within-source
    * percentile). The continuous counterpart of
    * [[qualityFilterStratified]]'s single-threshold cut, and the
    * ordering input for curriculum schedules (train easy-to-hard by
    * bucket).
    *
    * Deterministic: the window orders by (score, id) — a total order, so
    * `percent_rank`'s rank equals row_number and both the percentile and
    * the ntile bucket are pure functions of the group's sorted id
    * sequence, replayable in any engine. One group-keyed shuffle; window
    * partition size = stratum size (the [[graft.operators.Shuffling
    * .sampleNPerStratum]] regime — for mega-strata, pre-aggregate an
    * equi-width score histogram per group and broadcast cumulative
    * counts instead; the trade is exact rank for bounded memory). */
  def percentileNormalize(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      groupCol: String,
      nBuckets: Int = 4
  ): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(scoreCol).asc, col(idCol).asc)
    df.select(col(idCol), col(groupCol), col(scoreCol))
      .where(col(scoreCol).isNotNull)
      .withColumn("pct", percent_rank().over(w))
      .withColumn("bucket", ntile(nBuckets).over(w))
  }

  /** Keep documents above their stratum's quality quantile — "top half by
    * quality within each language/source", the standard way to apply one
    * quality bar across strata with different score distributions without
    * starving low-scoring strata.
    *
    * Per-stratum thresholds are one tiny aggregate (rows = distinct
    * strata) broadcast back onto the corpus: the corpus itself never
    * shuffles — score, hash-join against the broadcast threshold table,
    * filter at scan speed. Exact `percentile` buffers each stratum's
    * values inside the aggregate (the oracle-checkable form — same trade
    * as the group_percentiles entry); pass `approx = true` for the 100 TB
    * path, which swaps in the bounded-memory `approx_percentile` sketch —
    * same plan shape, thresholds within the sketch's rank-error bound
    * (agreement asserted in ScoringSpec).
    */
  def qualityFilterStratified(
      df: DataFrame,
      idCol: String,
      textCol: String,
      strataCol: String,
      p: Double = 0.5,
      approx: Boolean = false
  ): DataFrame = {
    // ONE scored projection feeds both the threshold aggregate and the
    // filter, so qualityScore is defined once. Laziness still scans the
    // source twice (threshold branch + filter branch — the aggregate
    // must finish before any row can be filtered); at 100 TB persist the
    // scored frame (or write it through CorpusSink) before calling this
    // to pay the scoring scan once.
    val scored = df.select(
      col(idCol), col(strataCol), TextFunctions.qualityScore(col(textCol)).as("quality"))
    scored.join(broadcast(thresholdsFromScored(scored, strataCol, p, approx)), Seq(strataCol))
      .where(col("quality") > col("__thr"))
      .select(col(idCol), col(strataCol), col("quality"))
  }

  /** The per-stratum quality-quantile table (strataCol, __thr) on its
    * own — the batch artifact [[graft.streaming.StreamOps.qualityFilter]]
    * pins a stream's quality bar to. */
  def qualityThresholds(
      df: DataFrame,
      textCol: String,
      strataCol: String,
      p: Double = 0.5,
      approx: Boolean = false
  ): DataFrame =
    thresholdsFromScored(
      df.select(col(strataCol), TextFunctions.qualityScore(col(textCol)).as("quality")),
      strataCol, p, approx)

  /** Threshold aggregate over an ALREADY-SCORED frame (must carry
    * `quality`) — the shared tail of both public entry points. */
  private def thresholdsFromScored(
      scored: DataFrame, strataCol: String, p: Double, approx: Boolean): DataFrame = {
    require(p > 0 && p < 1, s"p must be in (0, 1), got $p")
    val thrAgg: Column =
      if (approx) approx_percentile(col("quality"), lit(p), lit(10000)).as("__thr")
      else percentile(col("quality"), lit(p)).as("__thr")
    scored.groupBy(col(strataCol)).agg(thrAgg)
  }

  /** DSIR importance log-weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how much more likely its hashed n-gram features are
    * under a TARGET-corpus bag-of-ngrams model than under the raw-corpus
    * model — log w(x) = sum_f c_f(x) * (log p_target(f) - log p_raw(f)).
    * Selecting top-weight (or Gumbel-top-k) documents tilts a 100 TB
    * crawl toward a small high-quality target domain; this is the
    * standard pretraining-data selection baseline.
    *
    * Features are unigrams + bigrams hashed into `nBuckets` buckets (the
    * paper's hashed n-gram reduction), so BOTH model tables are bounded
    * at `nBuckets` rows no matter the corpus: two map-side-combined
    * count aggregates, an `nBuckets`-row log-ratio table, and one
    * broadcast join back onto the raw gram stream with a per-doc rollup
    * — the corpus shuffles once (by doc id, for the rollup). Laplace
    * `alpha` smoothing keeps buckets unseen in either corpus finite.
    *
    * `hashGram` defaults to `xxhash64` (codegen'd, the scale flavor);
    * the catalog entry passes the md5-prefix flavor
    * ([[Dedup.md5TokenHash60]]) whose DuckDB twin is exact.
    *
    * Output: (idCol, n_grams, log_weight) for every raw document. */
  /** The unigram+bigram feature stream of `df`, hashed into `nBuckets`
    * buckets — (idCols..., __bucket), one row per gram occurrence. */
  private def gramBuckets(
      df: DataFrame, idCols: Seq[String], textCol: String,
      nBuckets: Int, hashGram: Column => Column): DataFrame = {
    // same materialize-the-split + case-fold convention as
    // [[bigramFrequencyScore]] (see the O(tokens^2) regex note there)
    val toks = split(regexp_replace(lower(trim(col(textCol))), "\\s+", " "), " ")
    val tokenized = df.select(idCols.map(col) :+ toks.as("__toks"): _*)
    val ta = col("__toks")
    val n = size(ta)
    val bigrams = when(n >= lit(2),
      transform(sequence(lit(1), n - lit(1)),
        i => concat_ws(" ", element_at(ta, i), element_at(ta, i + lit(1)))))
      .otherwise(array().cast("array<string>"))
    tokenized.select(idCols.map(col) :+ explode(concat(ta, bigrams)).as("__gram"): _*)
      .select(idCols.map(col) :+
        pmod(hashGram(col("__gram")), lit(nBuckets.toLong)).as("__bucket"): _*)
  }

  /** The DSIR model artifact on its own: a DENSE (__bucket, __logr)
    * table covering all `nBuckets` buckets (buckets unseen in either
    * corpus carry the pure-smoothing ratio), bounded at `nBuckets` rows
    * no matter the corpus — the batch artifact
    * [[graft.streaming.StreamOps.dsirScore]] folds into a plan-literal
    * LUT to score a stream in-row. */
  def dsirRatioTable(
      raw: DataFrame,
      target: DataFrame,
      textCol: String,
      nBuckets: Int = 10000,
      alpha: Double = 1.0,
      hashGram: Column => Column = c => xxhash64(c)
  ): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    require(alpha > 0, s"alpha must be > 0 for finite smoothing, got $alpha")
    val targetCounts = gramBuckets(target, Nil, textCol, nBuckets, hashGram)
      .groupBy("__bucket").agg(count(lit(1)).as("__tc"))
    val rawCounts = gramBuckets(raw, Nil, textCol, nBuckets, hashGram)
      .groupBy("__bucket").agg(count(lit(1)).as("__qc"))
    // the model table is exactly nBuckets rows: the single-partition
    // totals window is over the MODEL table, never the corpus
    val w = Window.partitionBy()
    raw.sparkSession.range(nBuckets).select(col("id").as("__bucket"))
      .join(targetCounts, Seq("__bucket"), "left")
      .join(rawCounts, Seq("__bucket"), "left")
      .select(col("__bucket"),
        coalesce(col("__tc"), lit(0L)).as("__tc"),
        coalesce(col("__qc"), lit(0L)).as("__qc"))
      .withColumn("__T", sum("__tc").over(w))
      .withColumn("__Q", sum("__qc").over(w))
      .select(col("__bucket"),
        (log((col("__tc") + lit(alpha)) / (col("__T") + lit(alpha * nBuckets)))
          - log((col("__qc") + lit(alpha)) / (col("__Q") + lit(alpha * nBuckets))))
          .as("__logr"))
  }

  def dsirLogWeights(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      nBuckets: Int = 10000,
      alpha: Double = 1.0,
      hashGram: Column => Column = c => xxhash64(c)
  ): DataFrame = {
    val rawGrams = gramBuckets(raw, Seq(idCol), textCol, nBuckets, hashGram)
    val ratio = dsirRatioTable(raw, target, textCol, nBuckets, alpha, hashGram)
    // per-doc rollup: counts first (integer-exact), then a BUCKET-SORTED
    // in-row fold for the double sum — the weight is partitioning-
    // independent bit-for-bit (a plain sum() would add doubles in
    // shuffle-arrival order), which is what lets the gate hash it
    val perDocBucket = rawGrams
      .groupBy(col(idCol), col("__bucket")).agg(count(lit(1)).as("__c"))
    perDocBucket.join(broadcast(ratio), Seq("__bucket"))
      .select(col(idCol), col("__bucket"), col("__c"),
        (col("__c") * col("__logr")).as("__w"))
      .groupBy(col(idCol))
      .agg(sum("__c").as("n_grams"),
        aggregate(
          array_sort(collect_list(struct(col("__bucket"), col("__w")))),
          lit(0.0), (acc, x) => acc + x.getField("__w")).as("log_weight"))
  }

  /** Interpolated Kneser-Ney bigram LM scoring — the smoothed-probability
    * upgrade of [[bigramFrequencyScore]] and the count-based skeleton of
    * CCNet-style LM-perplexity filtering (Wenzek et al. 2020 filter on
    * KenLM perplexity; Kneser & Ney 1995 is the smoothing):
    *
    *   P(w2|w1) = max(c(w1,w2) - D, 0)/c(w1)
    *            + (D * N1+(w1,·)/c(w1)) * (N1+(·,w2) / |bigram types|)
    *
    * with absolute discount `D`. The continuation weight (how many
    * DISTINCT contexts a word follows) is what distinguishes KN from
    * plain add-k: "francisco" is frequent but nearly always follows
    * "san", so its unigram backoff is small. Output per document:
    * `(idCol, n_bigrams, avg_logp)` — average natural-log bigram
    * probability; perplexity = exp(-avg_logp). Documents with fewer
    * than two tokens drop out.
    *
    * Scale shape: every model table is a map-side-combined aggregate
    * over the bigram-count table `c` (materialized ONCE via
    * localCheckpoint; shuffle volume = distinct bigrams, the
    * [[bigramFrequencyScore]] discipline), the probability table joins
    * back on the bigram key, and the per-doc rollup is the only
    * corpus-keyed shuffle. The double sum folds in BIGRAM-SORTED order
    * inside the row (the DSIR rule), so the score is
    * partitioning-independent bit-for-bit and the DuckDB twin replays it
    * with `sum(... ORDER BY bg)` — both engines add in binary string
    * order. Self-scoring (model = corpus) means every doc bigram exists
    * in the model, so no backoff path is needed in-plan; score a stream
    * against a FROZEN model table for the serving shape. */
  def kneserNeyScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      discount: Double = 0.75
  ): DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0, 1), got $discount")
    val toks = split(regexp_replace(lower(trim(col(textCol))), "\\s+", " "), " ")
    val tokenized = df.select(col(idCol), toks.as("__toks"))
    val ta = col("__toks")
    val n = size(ta)
    val pairs = when(n >= lit(2),
      transform(sequence(lit(1), n - lit(1)),
        i => struct(element_at(ta, i).as("w1"), element_at(ta, i + lit(1)).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val docBg = tokenized
      .select(col(idCol), explode(pairs).as("__p"))
      .select(col(idCol), col("__p.w1").as("__w1"), col("__p.w2").as("__w2"))
    val c = docBg.groupBy("__w1", "__w2").agg(count(lit(1)).as("__c"))
      .localCheckpoint(true) // read by c1, cont, the type count, and p
    val c1 = c.groupBy("__w1")
      .agg(sum("__c").as("__c1"), count(lit(1)).as("__n1p"))
    val cont = c.groupBy("__w2").agg(count(lit(1)).as("__ncont"))
    val bigramTypes = c.count().toDouble
    val p = c.join(c1, "__w1").join(cont, "__w2")
      .select(concat_ws(" ", col("__w1"), col("__w2")).as("__bg"),
        log(greatest(col("__c").cast("double") - lit(discount), lit(0.0))
            / col("__c1").cast("double")
          + (lit(discount) * col("__n1p").cast("double") / col("__c1").cast("double"))
            * (col("__ncont").cast("double") / lit(bigramTypes))).as("__logp"))
    val db = docBg
      .select(col(idCol), concat_ws(" ", col("__w1"), col("__w2")).as("__bg"))
      .groupBy(col(idCol), col("__bg")).agg(count(lit(1)).as("__cd"))
    db.join(p, "__bg")
      .select(col(idCol), col("__bg"),
        (col("__cd") * col("__logp")).as("__w"), col("__cd"))
      .groupBy(col(idCol))
      .agg(sum("__cd").as("n_bigrams"),
        aggregate(array_sort(collect_list(struct(col("__bg"), col("__w")))),
          lit(0.0), (acc, x) => acc + x.getField("__w")).as("__lsum"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__lsum") / col("n_bigrams").cast("double"), 6).as("avg_logp"))
  }

  /** Character-weighted repetition signals (Gopher, Rae et al. 2021
    * Table A1; MassiveText's repetition filters, reused by RefinedWeb /
    * Dolma): per document,
    *
    *   - `dup_line_char_frac`: characters in non-first occurrences of
    *     each distinct line / total line characters;
    *   - `top_{n}gram` + `top_{n}gram_char_frac`: the most frequent
    *     word n-gram (ties -> lexicographically smallest) and
    *     count * gramChars / docChars;
    *   - `dup_{m}gram_char_frac`: characters of non-first occurrences
    *     of each distinct m-gram / docChars.
    *
    * Unlike [[graft.functions.TextFunctions.dupLineFraction]] (count
    * ratio), these weight by CHARACTERS, so one giant repeated block
    * scores as the filter literature intends. Per-row only — no corpus
    * pass, no shuffle, no pair graph: each signal is one `array_sort` +
    * one linear `aggregate` fold over the row's own lines/grams, so the
    * operator runs at scan speed and cost is O(L log L) in the DOCUMENT
    * length, never the corpus. The token/line arrays are materialized in
    * their own projection first (the [[bigramFrequencyScore]] lesson:
    * an array-building expression referenced inside a lambda re-runs
    * per element). */
  def repetitionSignals(
      df: DataFrame,
      idCol: String,
      textCol: String,
      topN: Int = 2,
      dupN: Int = 3
  ): DataFrame = {
    // NOT the shared trim(): Spark's trim strips 0x20 only, so text with
    // a leading/trailing newline or tab would tokenize an empty first
    // token and produce a phantom " x" gram (caught by the differential
    // property test). Strip ALL whitespace at both ends before folding
    // runs of it.
    val toks = split(
      regexp_replace(regexp_replace(lower(col(textCol)), "^\\s+|\\s+$", ""), "\\s+", " "),
      " ")
    val staged = df.select(col(idCol), col(textCol),
      split(col(textCol), "\n").as("__lines"), toks.as("__toks"))

    def grams(n: Int): Column =
      when(size(col("__toks")) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(col("__toks")) - n), i =>
          concat_ws(" ", (0 until n).map(j => element_at(col("__toks"), i + j + 1)): _*)))

    // chars in non-first occurrences over a SORTED array: equal neighbors
    // are repeats, so the fold adds length(x) exactly (count-1) times per
    // distinct value. Null init prev => the first element never matches.
    def dupChars(sorted: Column): Column =
      aggregate(sorted,
        struct(lit(null).cast("string").as("prev"), lit(0L).as("dup")),
        (acc, x) => struct(x.as("prev"),
          (acc.getField("dup") +
            when(x === acc.getField("prev"), length(x).cast("long")).otherwise(lit(0L)))
            .as("dup")),
        acc => acc.getField("dup"))

    // longest equal-neighbor run over a SORTED array; strict > keeps the
    // FIRST gram reaching the max run = lexicographically smallest tie
    def topRun(sorted: Column): Column =
      aggregate(sorted,
        struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
          lit(0L).as("best"), lit(null).cast("string").as("bestg")),
        (acc, x) => {
          val run2 = when(x === acc.getField("prev"), acc.getField("run") + 1L).otherwise(lit(1L))
          struct(x.as("prev"), run2.as("run"),
            when(run2 > acc.getField("best"), run2).otherwise(acc.getField("best")).as("best"),
            when(run2 > acc.getField("best"), x).otherwise(acc.getField("bestg")).as("bestg"))
        },
        acc => struct(acc.getField("best").as("cnt"), acc.getField("bestg").as("gram")))

    val withArrays = staged
      .withColumn("__lsort", array_sort(col("__lines")))
      .withColumn("__gtop", array_sort(grams(topN)))
      .withColumn("__gdup", array_sort(grams(dupN)))
    val lineChars = aggregate(col("__lines"), lit(0L), (acc, x) => acc + length(x).cast("long"))
    val docChars = length(col(textCol)).cast("long")
    withArrays
      .withColumn("__top", topRun(col("__gtop")))
      .select(
        col(idCol),
        when(lineChars === 0L, lit(0.0))
          .otherwise(dupChars(col("__lsort")).cast("double") / lineChars)
          .as("dup_line_char_frac"),
        col("__top").getField("gram").as(s"top_${topN}gram"),
        when(docChars === 0L || size(col("__gtop")) === 0, lit(0.0))
          .otherwise((col("__top").getField("cnt") *
            length(col("__top").getField("gram"))).cast("double") / docChars)
          .as(s"top_${topN}gram_char_frac"),
        when(docChars === 0L, lit(0.0))
          .otherwise(dupChars(col("__gdup")).cast("double") / docChars)
          .as(s"dup_${dupN}gram_char_frac"))
  }

  /** Per-source unigram-distribution diagnostics against the whole
    * corpus: token/type counts, Shannon self-entropy H(s), cross-entropy
    * H(s, corpus), and their difference KL(s ‖ corpus) — the
    * mixture-design signal for "this source's language is unlike the
    * rest" (high KL) or "this source is degenerate boilerplate" (low
    * self-entropy). The distributional complement of
    * [[Eval.sourceOverlap]]'s set-level Jaccard.
    *
    * Exactness: every per-token log is quantized ONCE —
    * `floor(ln(c/T)·1e9)` as a long — then summed in DECIMAL(38,0)
    * weighted by the exact integer count, so the rollup is
    * order-independent and the three outputs are each one closed-form
    * double division. No smoothing is needed: p_s > 0 only on tokens
    * the source contains, and every such token is in the corpus table
    * by construction (KL(s ‖ corpus) is always finite).
    *
    * Shape: one tokenize pass, one (source, token) aggregate, one
    * token aggregate rolled up from it (never a second scan), a
    * token-keyed equi-join of the two (a hot token meets at most
    * #sources rows), a broadcast S-row totals join, one source rollup.
    * The (source, token) count table is checkpointed when the frame is
    * built: three plan branches read it (the join side, the corpus
    * rollup, the totals), and each would otherwise re-tokenize the
    * corpus.
    */
  def sourceEntropy(df: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val norm = regexp_replace(
      lower(trim(coalesce(col(textCol), lit("")))), "\\s+", " ")
    val tok = df.select(col(srcCol).as("__src"), explode(split(norm, " ")).as("__t"))
      .where(length(col("__t")) > 0)
    val counts = tok.groupBy("__src", "__t").agg(count(lit(1)).as("__c")).localCheckpoint(true)
    val corpus = counts.groupBy("__t").agg(sum("__c").as("__ct"))
    val srcTotals = counts.groupBy("__src")
      .agg(sum("__c").as("__ts"), count(lit(1)).as("__types"))
    val grand = corpus.agg(sum("__ct").as("__tg"))
    val dec = "decimal(38,0)"
    // one quantized log per (source, token) row and per corpus token:
    // floor(ln(count / total) * 1e9) — negative, |.| < 1e11, long-safe
    val scored = counts
      .join(corpus, Seq("__t"))
      .join(broadcast(srcTotals), Seq("__src"))
      .crossJoin(broadcast(grand))
      .select(col("__src"), col("__c"), col("__ts"), col("__types"),
        floor(log(col("__c").cast("double") / col("__ts")) * 1e9)
          .cast("long").as("__lp"),
        floor(log(col("__ct").cast("double") / col("__tg")) * 1e9)
          .cast("long").as("__lq"))
    scored.groupBy(col("__src"))
      .agg(
        first("__ts").as("n_tokens"),
        first("__types").as("n_types"),
        sum(col("__c").cast(dec) * col("__lp").cast(dec)).as("__sp"),
        sum(col("__c").cast(dec) * col("__lq").cast(dec)).as("__sq"))
      .select(col("__src").as(srcCol), col("n_tokens"), col("n_types"),
        round(-col("__sp").cast("double") / 1e9 / col("n_tokens"), 6)
          .as("self_entropy"),
        round(-col("__sq").cast("double") / 1e9 / col("n_tokens"), 6)
          .as("cross_entropy"),
        round((col("__sp") - col("__sq")).cast("double") / 1e9 / col("n_tokens"), 6)
          .as("kl_vs_corpus"))
  }

  /** Zipf-law fit over the top-`k` vocabulary: least-squares slope and
    * intercept of ln(freq) against ln(rank) — natural text sits near
    * slope ≈ −1; template/boilerplate corpora flatten, id-like noise
    * steepens. One corpus token aggregate, a TakeOrdered top-k cut
    * (count desc, token asc — deterministic under ties), then the
    * closed-form regression from four DECIMAL-exact sums of
    * once-quantized logs (`floor(ln(·)·1e9)`) over the k-row frame.
    * Returns one row `(k_used, slope, intercept)`; both outputs are
    * single double expressions over exact integer sums. `k` is required
    * <= 10000 — the k-row window and TakeOrdered heap are driver-safe
    * at any corpus size. */
  def zipfFit(df: DataFrame, textCol: String, k: Int = 100): DataFrame = {
    val norm = regexp_replace(
      lower(trim(coalesce(col(textCol), lit("")))), "\\s+", " ")
    val vocab = df.select(explode(split(norm, " ")).as("__t"))
      .where(length(col("__t")) > 0)
      .groupBy("__t").agg(count(lit(1)).as("__c"))
    zipfFitCounts(vocab, "__t", "__c", k)
  }

  /** [[zipfFit]] on a PRE-COUNTED frequency table — the same
    * quantized-log regression over any rankable count column: node
    * degrees (power-law exponent of a graph's degree sequence), shingle
    * document frequencies, cluster sizes. `itemCol` breaks count ties
    * deterministically; counts must be >= 1 (ln). */
  def zipfFitCounts(
      df: DataFrame,
      itemCol: String,
      countCol: String,
      k: Int = 100
  ): DataFrame = {
    require(k >= 2 && k <= 10000, s"k must be in [2, 10000], got $k")
    // the ">= 1 (ln)" contract above, ENFORCED: a zero/negative/null
    // count would make log() NULL and silently null out the whole
    // regression — fail loudly instead (the budgetSelect convention)
    val checked = when(col(countCol).isNull || col(countCol) < 1,
      raise_error(concat(
        lit(s"Scoring.zipfFitCounts: $countCol must be >= 1, got "),
        coalesce(col(countCol).cast("string"), lit("null"))))
    ).otherwise(col(countCol))
    val top = df
      .select(col(itemCol).as("__t"), checked.cast("long").as("__c"))
      .orderBy(col("__c").desc, col("__t").asc)
      .limit(k)
    // k rows from here on: the unpartitioned window is bounded by k
    val w = Window.orderBy(col("__c").desc, col("__t").asc)
    val dec = "decimal(38,0)"
    val pts = top
      .withColumn("__x", floor(log(row_number().over(w).cast("double")) * 1e9)
        .cast("long"))
      .withColumn("__y", floor(log(col("__c").cast("double")) * 1e9).cast("long"))
    // the 1e9 quantization scale cancels in the slope ratio; the
    // intercept keeps one explicit 1e9 division back to log units
    pts.agg(
        count(lit(1)).as("k_used"),
        sum(col("__x").cast(dec)).as("__sx"),
        sum(col("__y").cast(dec)).as("__sy"),
        sum((col("__x").cast(dec)) * (col("__x").cast(dec))).as("__sxx"),
        sum((col("__x").cast(dec)) * (col("__y").cast(dec))).as("__sxy"))
      .withColumn("__slope",
        (col("k_used").cast(dec) * col("__sxy") - col("__sx") * col("__sy"))
          .cast("double") /
          (col("k_used").cast(dec) * col("__sxx") - col("__sx") * col("__sx"))
            .cast("double"))
      .select(col("k_used"), round(col("__slope"), 6).as("slope"),
        round((col("__sy").cast("double") -
          col("__slope") * col("__sx").cast("double")) /
          (col("k_used") * 1e9), 6).as("intercept"))
  }
}
