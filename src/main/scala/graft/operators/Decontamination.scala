package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag training documents that share word
  * n-grams with an evaluation/benchmark set, so eval leakage is removed
  * before training (the GPT-3 appendix-C / PaLM "dirty if it collides with
  * the eval set on enough n-grams" procedure — public methodology).
  *
  * Scale shape, designed for a 100 TB corpus vs a megabyte-scale eval set:
  * the BENCHMARK side is shingled, deduplicated, and `broadcast()` — eval
  * sets are thousands of documents, so their distinct shingle set fits in
  * every executor and the corpus-side probe is a broadcast hash join with
  * NO corpus shuffle. The only exchange in [[flagContaminated]] is the
  * per-document aggregate (map-side combined, keyed by doc id), and the
  * corpus text is read exactly once: the per-doc shingle total and the
  * matched-shingle count come out of the SAME exploded pass via a
  * left-join marker, not a second scan. Shingles reuse
  * [[Dedup.shingleSet]] (distinct word n-grams, codegen'd lookahead
  * regex), so the DuckDB oracle shares the jaccard CTE shape verbatim.
  */
object Decontamination {

  /** Per-corpus-document contamination report against the whole benchmark
    * set: `(doc_id, n_shingles, n_contaminated, contamination_ratio)` for
    * every corpus document with at least `minOverlap` distinct n-grams
    * that appear anywhere in the benchmark. Output column `doc_id` takes
    * its name from `idCol`.
    *
    * One corpus scan, one map-side-combined aggregate, benchmark side
    * broadcast — the 100 TB-correct decontamination pass. */
  def flagContaminated(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minOverlap: Long = 1L
  ): DataFrame = {
    require(n >= 1, s"shingle n must be >= 1, got $n")
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    val corpusSh = corpus.select(col(idCol),
      explode(Dedup.shingleSet(col(textCol), n)).as("__shingle"))
    val benchSh = benchmark
      .select(explode(Dedup.shingleSet(col(textCol), n)).as("__shingle"))
      .distinct()
      .withColumn("__hit", lit(1))
    corpusSh
      .join(broadcast(benchSh), Seq("__shingle"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_contaminated"))
      .where(col("n_contaminated") >= lit(minOverlap))
      .withColumn("contamination_ratio",
        col("n_contaminated").cast("double") / col("n_shingles"))
  }

  /** Attribution variant: which benchmark document leaked into which
    * corpus document. `(doc_id, bench_id, n_common)` for every
    * (corpus, benchmark) pair sharing at least `minCommon` distinct
    * n-grams — the audit table a release review reads after
    * [[flagContaminated]] names the dirty docs. Same broadcast shape;
    * the aggregate is keyed by the (corpus, bench) pair, whose
    * cardinality is bounded by matches, not by the corpus. */
  def contaminationPairs(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minCommon: Long = 1L
  ): DataFrame = {
    require(n >= 1, s"shingle n must be >= 1, got $n")
    val corpusSh = corpus.select(col(idCol),
      explode(Dedup.shingleSet(col(textCol), n)).as("__shingle"))
    val benchSh = benchmark.select(col(idCol).as("bench_id"),
      explode(Dedup.shingleSet(col(textCol), n)).as("__shingle"))
    corpusSh
      .join(broadcast(benchSh), Seq("__shingle"))
      .groupBy(col(idCol), col("bench_id"))
      .agg(count(lit(1)).as("n_common"))
      .where(col("n_common") >= lit(minCommon))
  }

  /** SEMANTIC decontamination: flag training documents whose EMBEDDING is
    * near-duplicate (cosine >= `threshold`) of any benchmark embedding —
    * the leak the n-gram pass cannot see (paraphrased eval questions,
    * translated answers, re-worded problems; public methodology: the
    * embedding-similarity decontamination used alongside n-gram overlap
    * in open LLM data pipelines). Returns the pair audit table
    * `(doc_id, bench_id, cosine)` — `doc_id` named after `idCol` — for
    * every (corpus, benchmark) candidate pair at or above the threshold.
    *
    * Scale shape, the [[flagContaminated]] contract transplanted to
    * embeddings: the BENCHMARK side is tiny, so its banded LSH buckets
    * AND its raw vectors broadcast; the corpus side computes signatures
    * as pure column algebra (no exchange), candidates come from the
    * broadcast `(band, bucket)` equi-join, and the exact cosine is
    * verified IN the map stage — a candidate that fails the threshold
    * dies before any shuffle. The only exchange in the whole operator is
    * the final `(doc, bench)` max-cosine collapse of multi-band
    * collisions, whose input is already filtered to actual leaks. The
    * corpus is scanned exactly once and never re-keyed: the
    * 100 TB-correct decontamination pass.
    *
    * The band width follows the kNN family's occupancy rule:
    * `rowsPerBand = 0` (default) auto-sizes from a one-job CORPUS count
    * via [[Similarity.autoRowsPerBand]], so the per-band bucket space
    * grows with the corpus and broadcast-join fan-out stays pinned.
    * Buckets are [[Similarity.bandBuckets]] (md5 planes, replayable in
    * SQL). Recall follows the OR-of-ANDs S-curve of `bands` (a leak
    * sharing no band bucket with its source is missed — the standard
    * LSH trade; raise `bands` for recall).
    *
    * Zero-vector contract: rows whose embedding has zero norm are
    * DROPPED on both sides (cosine against them is 0/0 = NaN, and
    * Spark orders NaN above all doubles, so they would otherwise
    * surface as spurious "contaminated" pairs with NaN cosine). A
    * zero embedding carries no semantic signal to leak. */
  def semanticPairs(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      rowsPerBand: Int = 0,
      bands: Int = 2
  ): DataFrame = {
    val rpb = Similarity.resolveRowsPerBand(corpus.count(), rowsPerBand, bands)
    // zero-norm vectors are dropped on BOTH sides before the verify:
    // their cosine is 0/0 = NaN, and Spark orders NaN above every
    // double, so an unguarded `NaN >= threshold` would report a
    // zero vector that bucket-collides as contaminated
    def banded(df: DataFrame, idAs: String, vecAs: String): DataFrame =
      df.select(col(idCol).as(idAs),
          transform(col(vecCol), x => x.cast("double")).as(vecAs),
          Similarity.bandBuckets(col(vecCol), bands, rpb, dim).as("__buckets"))
        .where(Similarity.dot(col(vecAs), col(vecAs)) > 0)
        .select(col(idAs), col(vecAs),
          posexplode(col("__buckets")).as(Seq("band", "bucket")))
    val corpusBanded = banded(corpus, "__doc", "__va")
    val benchBanded = banded(benchmark, "bench_id", "__vb")
    corpusBanded
      .join(broadcast(benchBanded), Seq("band", "bucket"))
      .withColumn("__cos", Similarity.cosine(col("__va"), col("__vb")))
      .where(col("__cos") >= lit(threshold))
      .groupBy(col("__doc"), col("bench_id"))
      .agg(max(col("__cos")).as("cosine"))
      .select(col("__doc").as(idCol), col("bench_id"), col("cosine"))
  }

  /** Per-document rollup of [[semanticPairs]]: `(doc_id, n_bench_matches,
    * max_cosine)` for every corpus document semantically contaminated by
    * at least one benchmark document — the drop list. Same single-scan
    * broadcast shape; the rollup re-keys only the already-tiny pair
    * table. */
  def semanticFlag(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      rowsPerBand: Int = 0,
      bands: Int = 2
  ): DataFrame =
    semanticPairs(corpus, benchmark, idCol, vecCol, threshold, dim, rowsPerBand, bands)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bench_matches"), max(col("cosine")).as("max_cosine"))
}
