package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a single narrow scan with the
  * dot product evaluated as a codegen'd `aggregate`/`zip_with` expression
  * (no UDF, no shuffle except the final top-k, which Spark plans as
  * TakeOrderedAndProject: per-partition heaps + driver merge of k rows).
  *
  * Scale path: random-hyperplane LSH. Each vector gets a `nBits`-bit
  * signature (sign of dot product with deterministic pseudo-random
  * hyperplanes); queries probe only their own bucket (and optionally
  * neighboring buckets). The bucketing is a plain repartition-by-key:
  * at 100 TB the index is written once, bucketed/partitioned by signature,
  * and each query touches one partition instead of the full corpus.
  */
object Similarity {

  /** Sequential dot product of two equal-length double arrays — a native
    * codegen'd Catalyst expression ([[graft.functions.ArrayDotProduct]]);
    * bitwise-identical to the HOF formulation
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` it replaced, which ran
    * interpreted per row. */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.functions.ArrayDotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k against a constant query vector. */
  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int
  ): DataFrame = {
    val q = array(query.map(lit): _*)
    val v = col(vecCol).cast("array<double>")
    df.select(col(idCol).as("id"), cosine(v, q).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** All-pairs top-k for a set of query rows against the corpus, via a
    * broadcast of the (small) query side — no cartesian shuffle.
    *
    * SCALE GUARD: the `corpus_id =!= query_id` join condition is non-equi,
    * so Spark plans a broadcast nested-loop — every corpus row is scored
    * against every query. Work is O(|corpus| x |queries|); this is the
    * intended brute-force batch scorer and is only appropriate while the
    * query set is small (hundreds). Bulk query sets belong on the LSH path
    * ([[lshIndex]] + [[annTopK]]), where candidates are bucket-bounded. */
  def topKForQueries(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<double>").as("cvec"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qvec"))
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("cvec"), col("qvec")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("corpus_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009, public): merge N
    * candidate rankings into one list per query by
    * `score(d) = sum over lists of 1 / (k0 + rank_list(d))` — the
    * standard way to combine heterogeneous retrieval signals (brute
    * cosine, LSH, IVF, random-projection, lexical BM25) without score
    * calibration, since only RANKS enter. Each input is a
    * `(query_id, corpus_id, rank)` frame.
    *
    * Scale shape: one union + ONE (query, corpus)-keyed aggregate over
    * at most `N * per-list-k` rows per query, then a per-query top-k
    * window over the same bounded set — the corpus itself is never
    * touched (the generators did that). The fused double score folds in
    * LIST-INDEX order inside the row (the DSIR determinism rule), so it
    * is partitioning-independent bit-for-bit and the DuckDB twin
    * replays it with `sum(term ORDER BY src)`.
    *
    * Output: `(query_id, corpus_id, rrf_score, n_lists, rank)`,
    * `rank <= topK` per query (score desc, corpus_id tie-break). */
  def reciprocalRankFusion(
      rankings: Seq[DataFrame],
      k0: Int = 60,
      topK: Int = 10
  ): DataFrame = {
    require(rankings.nonEmpty, "at least one ranking")
    require(k0 >= 1, s"k0 must be >= 1, got $k0")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col("query_id"), col("corpus_id"), lit(i).as("__src"),
        (lit(1.0) / (lit(k0.toDouble) + col("rank").cast("double"))).as("__term"))
    }.reduce(_ unionByName _)
    val fused = tagged
      .groupBy("query_id", "corpus_id")
      .agg(count(lit(1)).as("n_lists"),
        aggregate(array_sort(collect_list(struct(col("__src"), col("__term")))),
          lit(0.0), (acc, x) => acc + x.getField("__term")).as("rrf_score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("corpus_id").asc)
    fused
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select("query_id", "corpus_id", "rrf_score", "n_lists", "rank")
  }

  /** kNN weak labeling: each query vector takes the MAJORITY LABEL of
    * its k nearest corpus neighbors (exact cosine; vote ties break to
    * the smaller label — deterministic). The per-query vote is a k-row
    * aggregate, so the neighbor stage is the whole cost: this exact
    * flavor inherits [[topKForQueries]]'s small-query-set bound, and the
    * scale path swaps in the bucketed/IVF candidate generators
    * unchanged — the vote never sees more than k rows per query either
    * way. Output: (query_id, label, votes, n_neighbors). */
  def knnClassify(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int
  ): DataFrame = {
    val topk = topKForQueries(corpus, queries, idCol, vecCol, k)
    val labels = corpus.select(col(idCol).as("corpus_id"),
      col(labelCol).cast("long").as("__label"))
    topk.join(labels, Seq("corpus_id"))
      .groupBy(col("query_id"), col("__label"))
      .agg(count(lit(1)).as("__votes"))
      .groupBy(col("query_id"))
      .agg(
        // max over (votes, -label): most votes wins, ties to smaller label
        max(struct(col("__votes"), (-col("__label")).as("__nl"))).as("__best"),
        sum(col("__votes")).cast("long").as("n_neighbors"))
      .select(col("query_id"), (-col("__best.__nl")).as("label"),
        col("__best.__votes").as("votes"), col("n_neighbors"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * xxhash64 folded into [-1, 1), computed on the driver through the
    * Catalyst XxHash64 evaluation. Stateless, reproducible everywhere. */
  private def planeComponent(plane: Int, dim: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(Seq(Literal(plane), Literal(dim)), 42L).eval(null).asInstanceOf[Long]
    h.toDouble / Long.MaxValue.toDouble
  }

  /** Single-long signature shift budget: bit p lands at `1L << p` and
    * band masks shift by `band * rowsPerBand`, and JVM long shifts wrap
    * their distance mod 64 — a width past this budget would silently
    * alias high bands onto low bits (duplicated buckets, occupancy no
    * longer pinned). Every signature builder and banded consumer
    * fail-louds against it. 62 (not 64) keeps `(1L << nBits) - 1`
    * positive and leaves the sign bit out of bucket arithmetic. */
  val MaxSignatureBits = 62

  private def requireSignatureWidth(nBits: Int, label: String): Unit =
    require(nBits >= 1 && nBits <= MaxSignatureBits,
      s"$label: nBits must be in [1, $MaxSignatureBits] (single-long " +
        s"signature shift budget; long shifts wrap mod 64 and would " +
        s"silently alias bits), got $nBits")

  /** `array<bigint>` of `bands` buckets of `rowsPerBand` sign bits, the
    * projections of the vector (cast to `array<double>` once) onto planes
    * [0, bands·rowsPerBand) with `component` weights — one native
    * [[graft.functions.SignProjectionBuckets]] loop. Bit j of band b
    * reads plane `b·rowsPerBand + j` and lands at its LOCAL position j,
    * so a band's bucket is bit-identical to the whole-width signature's
    * `(sig >> b·rowsPerBand) & mask`. NULL vector -> NULL; empty vector
    * -> `emptyBucket` in every band; another length or a null element
    * fails loudly with a `dim hint` message. */
  private def signProjection(
      vec: Column,
      bands: Int,
      rowsPerBand: Int,
      dim: Int,
      component: (Int, Int) => Double,
      emptyBucket: Long,
      label: String
  ): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val weights = for (p <- 0 until bands * rowsPerBand; i <- 0 until dim)
      yield component(p, i)
    ColumnBridge.column(graft.functions.SignProjectionBuckets(
      ColumnBridge.expression(vec.cast("array<double>")), weights, bands, rowsPerBand, dim,
      emptyBucket, label))
  }

  /** Sign-random-projection signature: bit p = [dot(vec, plane_p) >= 0].
    *
    * The plane weights for the embedding dimension `dim` are computed on
    * the driver and held by the native [[signProjection]] kernel, bitwise-identical to
    * [[lshSignatureLocal]] (same hash, same fold order); a vector of
    * another length fails loudly. A NULL vector yields a NULL signature
    * (bucket joins drop it); an empty vector folds to proj = 0.0 >= 0 on
    * every plane — all bits set — exactly matching the driver-side fold. */
  def lshSignature(vecCol: Column, nBits: Int, dim: Int): Column = {
    requireSignatureWidth(nBits, "lshSignature")
    signProjection(vecCol, 1, nBits, dim, planeComponent,
      emptyBucket = (1L << nBits) - 1, label = "lshSignature").getItem(0)
  }

  /** Index the corpus into LSH buckets (one row per vector, keyed by
    * signature). At scale, persist this partitioned by `bucket`. `dim` is
    * the embedding dimension — see [[lshSignature]]. */
  def lshIndex(df: DataFrame, idCol: String, vecCol: String, nBits: Int = 12,
      dim: Int): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      lshSignature(col(vecCol), nBits, dim).as("bucket"))

  /** md5-derived hyperplane component for (plane, dim): the first 60 bits
    * of md5("p_i") mapped onto [-1, 1). Slower than the xxhash64 flavor but
    * recomputable in DuckDB SQL — the same exact-verifiability move as the
    * 60-bit md5 simhash ([[Dedup.simHashPairs60]]). */
  private def md5Component(plane: Int, dim: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${plane}_$dim".getBytes("UTF-8"))
    val hex = digest.map(b => f"$b%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16).toDouble / (1L << 59).toDouble - 1.0
  }

  /** Oracle-flavor twin of [[lshSignature]]: identical banding semantics,
    * md5-derived plane weights (dim must be known).
    * Every piece — weight, projection fold order, sign, bit position — has
    * an exact DuckDB twin, so LSH pair queries built on it hash-match a
    * SQL reimplementation. Divergence from the xxhash flavor on the
    * empty-vector degenerate: signature 0, because the SQL twin's
    * `list_sum([])` is NULL and `CASE WHEN NULL >= 0` takes the 0 arm —
    * twin-exactness is this flavor's whole contract. */
  def lshSignatureMd5(vecCol: Column, nBits: Int, dim: Int): Column = {
    requireSignatureWidth(nBits, "lshSignatureMd5")
    signProjection(vecCol, 1, nBits, dim, md5Component,
      emptyBucket = 0L, label = "lshSignatureMd5").getItem(0)
  }

  /** The LSH banding of every banded operator in graft (the kNN graph
    * family, the embedding near-dup pairs, semantic decontamination):
    * `array<long>` of `bands` buckets, band b's bucket computed directly
    * from its own md5 plane range [b·rowsPerBand, (b+1)·rowsPerBand).
    * Each band is its own long (≤ [[MaxSignatureBits]] bits), so the
    * TOTAL width `bands · rowsPerBand` is unbounded. For widths ≤ 62
    * bits the buckets are bit-identical to `(lshSignatureMd5(...) >>
    * b·rowsPerBand) & mask` (same md5 plane weights, same fold, bit j
    * at local position j — spec-gated), which is what the oracle SQL
    * twins replay. One native kernel ([[signProjection]]) computes all
    * `bands · rowsPerBand` bits in one codegen'd loop, the vector cast
    * once per row.
    * NULL vector -> NULL array (no band rows); empty vector -> all-zero
    * buckets (the md5 flavor's degenerate). */
  private[graft] def bandBuckets(vec: Column, bands: Int, rowsPerBand: Int,
      dim: Int): Column = {
    require(bands >= 1, s"bandBuckets: bands must be >= 1, got $bands")
    require(rowsPerBand >= 1 && rowsPerBand <= MaxSignatureBits,
      s"bandBuckets: rowsPerBand must be in [1, $MaxSignatureBits] (each " +
        s"band is one long; shifts wrap mod 64), got $rowsPerBand")
    require(dim >= 1, s"bandBuckets: dim must be >= 1, got $dim")
    signProjection(vec, bands, rowsPerBand, dim, md5Component, emptyBucket = 0L,
      label = "bandBuckets")
  }

  /** The band width (`rowsPerBand = 0`) every banded operator auto-sizes
    * to for a corpus of `n` vectors: `max(4, ceil-log2(n / 16))` bits
    * per band, floored at `ceil(16 / bands)` (tiny corpora keep a
    * 16-bit total width). The per-(band, bucket) candidate join is
    * quadratic in bucket occupancy, so a FIXED width silently goes
    * quadratic as the corpus grows; growing one bit per band per corpus
    * doubling pins the expected occupancy at ~16 rows. There is no cap
    * on the total width (each band is its own long — see
    * [[bandBuckets]]), and no long-valued `n` needs more than 59 bits
    * per band. Integer-exact — the smallest b with `16 * 2^b >= n`, which
    * a SQL oracle replays as `min(b) WHERE (16 << b) >= n` without
    * floating-log edge cases. Public so an index build can record the
    * width it auto-chose and hand it to [[knnGraphAgainstIndex]], which
    * must probe at the BUILD width. */
  def autoRowsPerBand(n: Long, bands: Int): Int = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(bands >= 1, s"bands must be >= 1, got $bands")
    var needed = 0
    var cap = 16L
    while (cap < n) {
      needed += 1
      cap = if (cap > (Long.MaxValue >> 1)) Long.MaxValue else cap << 1
    }
    math.max(math.max(4, needed), (16 + bands - 1) / bands)
  }

  /** Resolve the `rowsPerBand = 0` auto sentinel: [[autoRowsPerBand]] of
    * the corpus row count `n` (a count job over the corpus unless the
    * caller already has it; pass an explicit width to skip it). Explicit
    * widths pass through and `n` is not evaluated; [[bandBuckets]]
    * validates either. */
  private[operators] def resolveRowsPerBand(n: => Long, rowsPerBand: Int,
      bands: Int): Int =
    if (rowsPerBand == 0) autoRowsPerBand(math.max(n, 1L), bands)
    else rowsPerBand

  /** `(id, vec, buckets)`: ids, the cast vectors and their
    * [[bandBuckets]], checkpointed so the banding runs once for every
    * consumer (both join sides, the verify re-join). An empty vector has
    * no cosine (a zero norm divides), so it fails the checkpoint with the
    * `USER_RAISED_EXCEPTION` "`label`: expected dim=... vectors, got
    * size=0", as [[knnGraphQuantized]]'s stats pass does. */
  private def bandedFrame(df: DataFrame, idCol: String, vecCol: String,
      bands: Int, rowsPerBand: Int, dim: Int, label: String): DataFrame =
    bandedProjection(df, idCol, vecCol, bands, rowsPerBand, dim)
      .withColumn("vec", when(size(col("vec")) === 0, raise_error(
        lit(s"$label: expected dim=$dim vectors, got size=0"))).otherwise(col("vec")))
      .localCheckpoint(true)

  /** [[bandedFrame]] before its checkpoint. */
  private def bandedProjection(df: DataFrame, idCol: String, vecCol: String,
      bands: Int, rowsPerBand: Int, dim: Int): DataFrame =
    df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"),
      bandBuckets(col(vecCol), bands, rowsPerBand, dim).as("buckets"))

  /** `(id, vec, buckets, codes8)`: [[bandedFrame]] plus each vector's
    * 1-byte [[sq8Codes]] against the collected params, in ONE checkpoint —
    * the banding, the cast and the encode are native kernels of one pass. */
  private def quantizedBandedFrame(df: DataFrame, idCol: String, vecCol: String,
      bands: Int, rowsPerBand: Int, dim: Int, params: Sq8Row): DataFrame =
    bandedProjection(df, idCol, vecCol, bands, rowsPerBand, dim)
      .select(col("id"), col("vec"), col("buckets"),
        sq8Codes(col("vec"), params.mins, params.widths, shifted = true).as("codes8"))
      .localCheckpoint(true)

  /** The SQ8 params row (`mins`, `widths`: a [[corpusStats]] row, or a
    * persisted [[sq8Params]] table) collected once to the driver —
    * 2·dim doubles — and handed to the encode and the ADC verify as
    * literal arrays, so neither re-runs the per-dimension min/max
    * aggregate over the corpus. Literals rather than a crossJoined
    * one-row frame: a cross join in the checkpointed plan multiplies its
    * size estimate, and the candidate joins over the checkpoint then
    * shuffle instead of broadcasting. */
  private final case class Sq8Row(row: org.apache.spark.sql.Row) {
    val mins: Column = typedLit(row.getAs[Seq[Double]]("mins"))
    val widths: Column = typedLit(row.getAs[Seq[Double]]("widths"))
  }

  private def collectParams(params: DataFrame): Sq8Row = {
    val rows = params.collect()
    require(rows.length == 1, s"SQ8 params must be one row, got ${rows.length}")
    Sq8Row(rows.head)
  }

  /** The native [[graft.functions.Sq8Stats]] aggregate of a vector column:
    * `(n, mins, widths)` in one map-side-combined pass. */
  private def sq8Stats(vec: Column, dim: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.Sq8Stats(
      ColumnBridge.expression(vec.cast("array<double>")), dim).toAggregateExpression())
  }

  /** ONE execution over the corpus, collected: its row count (for the
    * auto band width) and its SQ8 params. */
  private def corpusStats(df: DataFrame, vecCol: String, dim: Int): (Long, Sq8Row) = {
    val row = df.select(sq8Stats(col(vecCol), dim).as("s")).select("s.*").head()
    (row.getAs[Long]("n"), Sq8Row(row))
  }

  /** One `(id, band, bucket)` row per band membership. */
  private def bandRows(banded: DataFrame): DataFrame =
    banded.select(col("id"), posexplode(col("buckets")).as(Seq("band", "bucket")))

  /** DIRECTED candidate pairs `(id, nbr)`, id != nbr, sharing any
    * (band, bucket) — ids only, deduped on the pair ([[byId]]). */
  private def directedCandidates(banded: DataFrame): DataFrame = {
    val rows = bandRows(banded)
    byId(rows.join(rows.select(col("band"), col("bucket"), col("id").as("nbr")),
        Seq("band", "bucket"))
      .where(col("id") =!= col("nbr")))
  }

  /** Candidate pairs `(id, nbr)` shuffled ONCE, by `id`, and deduped on
    * that partitioning: the pair dedup and both per-node windows of the
    * verify tails require clustering by `id`, which this one exchange
    * satisfies (a dedup shuffled by the pair would need a second exchange
    * for the windows). Ids only — the payload-free pair rule. The width
    * is explicit, the one Spark plans with AQE off: AQE coalesces a
    * by-column repartition by bytes, and the ids-only pairs are so small
    * that the whole verify then ran in one task. */
  private def byId(pairs: DataFrame): DataFrame =
    pairs.select("id", "nbr").repartition(SQLConf.get.numShufflePartitions, col("id"))
      .dropDuplicates("id", "nbr")

  /** `(key, value)` of a payload frame's `id` and `column`, renamed for
    * one join side. The id side and the nbr side of a self-graph project
    * the same frame the same way, so their broadcasts canonicalize alike
    * and the second is a `ReusedExchange`. */
  private def payloadSide(frame: DataFrame, column: String, key: String,
      value: String): DataFrame =
    frame.select(col("id").as(key), col(column).as(value))

  /** Exact-cosine top-k of each node among its candidate `pairs`: both
    * vectors joined by id (broadcast payload, reused for a self-graph),
    * ranked (cosine desc, nbr asc) on the pairs' `id` partitioning. */
  private def exactTopK(pairs: DataFrame, idVecs: DataFrame, nbrVecs: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy("id").orderBy(col("cosine").desc, col("nbr").asc)
    pairs
      .join(payloadSide(idVecs, "vec", "__ia", "__va"), col("id") === col("__ia"))
      .join(payloadSide(nbrVecs, "vec", "__ib", "__vb"), col("nbr") === col("__ib"))
      .select(col("id"), col("nbr"), cosine(col("__va"), col("__vb")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Bits the band index occupies above `rowsPerBand` in the index's
    * `bkey = band·2^rpb + bucket` long — the index packs (band, bucket)
    * into one probe column for bucket-persistence, so rpb + these bits
    * must fit the shift budget (a non-binding bound in practice:
    * bands=16 still leaves 2^58 bucket space per band). */
  private def bandIndexBits(bands: Int): Int =
    if (bands <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros((bands - 1).toLong)

  /** `(bkey, id)` rows of a banded frame, `bkey = band·2^rowsPerBand +
    * bucket` — the probe column of [[knnGraphIndex]]/[[knnGraphAgainstIndex]]. */
  private def bkeyRows(banded: DataFrame, bands: Int, rowsPerBand: Int,
      label: String): DataFrame = {
    require(rowsPerBand + bandIndexBits(bands) <= MaxSignatureBits,
      s"$label: band index needs ${bandIndexBits(bands)} bits above " +
        s"rowsPerBand=$rowsPerBand in the bkey long — lower one of them")
    bandRows(banded).select(
      (col("band").cast("long") * lit(1L << rowsPerBand) + col("bucket")).as("bkey"),
      col("id"))
  }

  /** Embedding-cosine near-duplicate pairs, brute force: every id_a < id_b
    * pair scored. O(n^2) work via a broadcast nested-loop — ONLY for small
    * corpora and as the exactness oracle for [[cosineNearDupPairs]]. */
  def cosineNearDupPairsBrute(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    val a = df.select(col(idCol).as("id_a"),
      col(vecCol).cast("array<double>").as("va"))
    val b = df.select(col(idCol).as("id_b"),
      col(vecCol).cast("array<double>").as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .where(col("cosine") >= lit(threshold))
      .select("id_a", "id_b", "cosine")
  }

  /** Embedding-cosine near-duplicate pairs at scale: banded
    * sign-random-projection LSH ([[bandBuckets]]). `rowsPerBand` bits
    * per band (0 = the default = auto-sized from a one-job corpus count
    * via [[autoRowsPerBand]], so the width tracks corpus growth and the
    * per-band bucket occupancy — and with it the candidate-join cost —
    * stays pinned instead of silently going quadratic); vectors sharing
    * ANY band bucket become candidates (recall follows the OR-of-ANDs
    * S-curve: for cosine >= 0.95 with 4 bits in 4 bands, ~0.99), then
    * exact cosine confirms. Shuffles are the band-bucket join and the
    * candidate dedup — never all pairs.
    *
    * The candidate stages carry IDs ONLY: the band self-join and the
    * (id_a, id_b) dedup shuffle metadata-sized rows, and the full vectors
    * re-join from the checkpointed banded frame afterwards (the
    * [[Dedup.minHashLshJaccardPairs]] pattern). At 100 TB embeddings this
    * is the difference between a metadata shuffle and shuffling
    * O(candidates x dim) doubles through the dedup exchange.
    *
    * A NULL vector has no pairs; an empty vector fails the call with
    * [[knnGraph]]'s "expected dim=... vectors, got size=0". */
  def cosineNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      rowsPerBand: Int = 0,
      bands: Int = 4
  ): DataFrame = {
    val rpb = resolveRowsPerBand(df.count(), rowsPerBand, bands)
    val signed = bandedFrame(df, idCol, vecCol, bands, rpb, dim, "cosineNearDupPairs")
    val banded = bandRows(signed)
    val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    val candidates = a.join(b, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val vecs = signed.select(col("id"), col("vec"))
    candidates
      .join(vecs.select(col("id").as("id_a"), col("vec").as("va")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vb")), Seq("id_b"))
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .where(col("cosine") >= lit(threshold))
      .select("id_a", "id_b", "cosine")
  }

  /** Approximate kNN graph over the embedding column — each vector's
    * top-`k` cosine neighbors AMONG its sign-LSH banded candidates, the
    * semantic-neighborhood edge list that graph-based curation consumes
    * (SemDeDup-style cluster audits, [[graft.operators.Communities]]
    * label propagation over semantic neighbors, graph-diversity
    * sampling, and DeepWalk-corpus generation via
    * [[graft.operators.Paths]]). DIRECTED: a->b ranks b among a's
    * candidates; kNN is not symmetric and the consumer decides whether
    * to symmetrize.
    *
    * Recall contract: candidates come from the [[cosineNearDupPairs]]
    * banding machinery (OR-of-ANDs S-curve) — a true neighbor sharing
    * no band bucket is missed by construction, and a node whose buckets
    * hold fewer than k candidates emits fewer than k edges. That is the
    * standard ANN-graph trade; the oracle replays the SAME candidate
    * generation, so the gate pins the implementation, not brute force
    * (the brute twin exists as [[bruteForceTopK]]/[[topKForQueries]]).
    *
    * Scale shape: banded frame computed once (checkpoint; persist
    * bucketed-by-(band, bucket) at cluster scale), candidates from
    * per-(band, bucket) equi-joins — never all-pairs — shuffled ONCE,
    * by `id`, and deduped on the directed pair there ([[byId]]);
    * vectors re-joined by id (candidate rows carry ids only, the
    * payload-free pair-dedup rule; one broadcast serves both sides),
    * and the per-node top-k is a row_number window on that same
    * partitioning whose partition is one node's candidate set —
    * bounded by the S-curve's bucket volumes, the same bound the pair
    * operator's verify stage already accepts.
    *
    * A NULL vector has no edges; an empty vector fails the call (the
    * `USER_RAISED_EXCEPTION` "expected dim=... vectors, got size=0" that
    * [[knnGraphQuantized]] raises), since it has no cosine.
    *
    * AT SCALE prefer [[knnGraphQuantized]]: this variant's verify joins
    * ship the raw 8·dim-byte vectors per candidate row, which is the
    * measured spill bound a decade up; the quantized twin ships 1-byte
    * SQ8 codes and exact-re-ranks only the per-node survivors.
    * `rowsPerBand` defaults to 0 = auto ([[autoRowsPerBand]] over a
    * one-job corpus count), so the width grows with log2(n) and bucket
    * occupancy stays pinned — a FIXED width goes quadratic once the
    * corpus outgrows its per-band bucket space. */
  def knnGraph(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      rowsPerBand: Int = 0,
      bands: Int = 4
  ): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    val rpb = resolveRowsPerBand(df.count(), rowsPerBand, bands)
    val signed = bandedFrame(df, idCol, vecCol, bands, rpb, dim, "knnGraph")
    exactTopK(directedCandidates(signed), signed, signed, k)
  }

  /** Forwarder kept for existing callers: [[knnGraphQuantized]] at the
    * auto width. */
  def knnGraphAuto(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      bands: Int = 4,
      rerankFactor: Int = 4
  ): DataFrame =
    knnGraphQuantized(df, idCol, vecCol, k, dim, bands = bands, rerankFactor = rerankFactor)

  /** [[knnGraph]] with a QUANTIZED verify stage — the 100-TB form. The
    * plain variant's verify joins ship the raw double vectors twice per
    * candidate row (8·dim bytes a side); at banded-candidate volumes a
    * decade up that payload — not the pair count — is what crosses into
    * disk spill. Here the candidate joins ship SQ8 codes packed as
    * 1-byte array elements (8x smaller), the approximate cosine is
    * scored on broadcast-dequantized codes, only the per-node
    * top-(k·rerankFactor) SURVIVORS rejoin the raw vectors, and the
    * final top-k is EXACT cosine over those survivors. Output schema
    * matches [[knnGraph]]: `(id, nbr, cosine, rank)` with exact cosine.
    *
    * Semantics contract (what the oracle replays): exact-cosine top-k
    * among the SQ8-top-(k·rerankFactor) of the banded candidates. A
    * true neighbor can be missed by the banding (the [[knnGraph]]
    * recall trade) or — much more rarely — ranked past k·rerankFactor
    * by SQ8 score despite an exact-cosine top-k placement; raising
    * `rerankFactor` trades verify payload for re-rank recall. Ties
    * break (score desc, nbr asc) at both stages, so every row is
    * deterministic and the hash gate pins the full pipeline.
    *
    * Scale shape: three executions, two of them input scans. (1) ONE
    * native [[graft.functions.Sq8Stats]] aggregate returns the row
    * count (the auto width) and the SQ8 params, collected to the driver
    * as 2·dim doubles and reused as literals by the encode and the ADC
    * verify. (2) ONE checkpoint of `(id, vec, buckets, codes8)`, where
    * the banding ([[bandBuckets]]) and the encode
    * ([[graft.functions.Sq8Codes]]) are native kernels per row. (3) The
    * verify ([[quantizedVerifyTopK]]) over ONE shuffle. The code table
    * is dim bytes/row in-plan (tinyint elements) and ~dim bytes
    * persisted; the candidate exchange carries ids only and the
    * survivor window codes/scores (the payload-free pair rule); the raw
    * vectors are touched by exactly n + n·k·rerankFactor join rows,
    * linear in corpus size. `rowsPerBand` defaults to 0 = auto
    * ([[autoRowsPerBand]] of the stats pass's count) — a fixed width
    * goes quadratic when the corpus outgrows its bucket space. */
  def knnGraphQuantized(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      rowsPerBand: Int = 0,
      bands: Int = 4,
      rerankFactor: Int = 4
  ): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    require(rerankFactor >= 1 && rerankFactor <= 64,
      s"rerankFactor must be in [1, 64], got $rerankFactor")
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val (n, params) = corpusStats(df, vecCol, dim)
    val rpb = resolveRowsPerBand(n, rowsPerBand, bands)
    val signed = quantizedBandedFrame(df, idCol, vecCol, bands, rpb, dim, params)
    quantizedVerifyTopK(directedCandidates(signed), signed, signed, params, k, rerankFactor)
  }

  /** Shared SQ8-verify tail of the quantized kNN family: ADC-score the
    * candidate pairs on 1-byte codes, window to the per-node
    * top-(k·rerankFactor) survivors, exact-cosine re-rank only those.
    * The quantized verify uses the native fused [[graft.functions
    * .Sq8AdcCosine]] (dequantize + three inner products in ONE
    * codegen'd allocation-free loop — a dequantizing `transform` HOF
    * here runs interpreted per element and costs ~4x wall, measured)
    * against the collected params, and only n·k·rerankFactor rows ever
    * touch raw vectors ([[exactTopK]]).
    *
    * One shuffle: the `candidates` arrive shuffled by `id` and deduped
    * there ([[byId]]); every payload join broadcasts and keeps that
    * partitioning, so the survivor window and the exact window plan no
    * exchange of their own. The `id` and `nbr` sides take their codes and
    * vectors from `(id, codes8, vec)` frames: the same frame for a
    * self-graph, whose nbr-side broadcasts then reuse the id side's, the
    * batch and the standing corpus for the incremental probe. */
  private def quantizedVerifyTopK(
      candidates: DataFrame,
      idSide: DataFrame,
      nbrSide: DataFrame,
      params: Sq8Row,
      k: Int,
      rerankFactor: Int
  ): DataFrame = {
    def adcCosine(a: Column, b: Column): Column = {
      import org.apache.spark.sql.graft.ColumnBridge
      ColumnBridge.column(graft.functions.Sq8AdcCosine(
        ColumnBridge.expression(a), ColumnBridge.expression(b),
        ColumnBridge.expression(params.mins), ColumnBridge.expression(params.widths)))
    }
    val wq = Window.partitionBy("id").orderBy(col("qcos").desc, col("nbr").asc)
    val survivors = candidates
      .join(payloadSide(idSide, "codes8", "__ia", "__ca"), col("id") === col("__ia"))
      .join(payloadSide(nbrSide, "codes8", "__ib", "__cb"), col("nbr") === col("__ib"))
      .select(col("id"), col("nbr"), adcCosine(col("__ca"), col("__cb")).as("qcos"))
      .withColumn("__qrank", row_number().over(wq))
      .where(col("__qrank") <= k * rerankFactor)
      .select("id", "nbr")
    exactTopK(survivors, idSide, nbrSide, k)
  }

  /** Persisted quantized kNN-graph index — the three frames the
    * incremental edge probe ([[knnGraphAgainstIndex]]) consumes,
    * completing the ingestion story for the semantic-neighborhood
    * graph (the [[graft.operators.Dedup]] `jaccardPairsAgainstIndex` /
    * IVF-append pattern, kNN-graph flavor):
    *
    *   - banding `(bkey, id)`: one row per (band, bucket) membership,
    *     `bkey = band * 2^rowsPerBand + bucket` — ONE join column so
    *     the table bucket-persists on its probe key
    *     ([[graft.sources.IndexStore.writeBucketed]]; the probe join
    *     then needs no index-side exchange and single-bucket lookups
    *     prune files);
    *   - payload `(id, codes8, vec)`: 1-byte SQ8 codes for the
    *     quantized verify plus the raw vector for the exact re-rank,
    *     stored ONCE per id (never per band);
    *   - params: the 1-row SQ8 range table, a local frame of the row
    *     the build collected once ([[graft.sources.IndexStore.writeTable]]
    *     sidecar, collected once more at probe time).
    *
    * The build scans the input twice: ONE native stats pass (the row
    * count for the auto width and the SQ8 params, [[knnGraphQuantized]]'s
    * first execution) and ONE checkpoint of `(id, vec, buckets, codes8)`;
    * banding and payload are both projections of it.
    *
    * The SQ8 ranges FREEZE at build time (the IVF frozen-centroid
    * rule): appended or probed vectors outside the trained range clamp
    * into the edge codes — [[sq8Encode]]'s documented behavior — so an
    * append never silently re-encodes the standing corpus.
    *
    * The band WIDTH freezes at build time too: with the auto default
    * (`rowsPerBand = 0`) it is [[autoRowsPerBand]] of the build-time
    * corpus count — record that number next to the persisted frames
    * (the probe's `rowsPerBand` has no default for exactly this
    * reason). */
  def knnGraphIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      rowsPerBand: Int = 0,
      bands: Int = 4
  ): (DataFrame, DataFrame, DataFrame) = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val (n, params) = corpusStats(df, vecCol, dim)
    val rpb = resolveRowsPerBand(n, rowsPerBand, bands)
    val signed = quantizedBandedFrame(df, idCol, vecCol, bands, rpb, dim, params)
    val banding = bkeyRows(signed, bands, rpb, "knnGraphIndex")
    val payload = signed.select(col("id"), col("codes8"), col("vec"))
    val paramsRow = df.sparkSession.createDataFrame(
      java.util.Collections.singletonList(params.row), graft.functions.Sq8Stats.Schema).drop("n")
    (banding, payload, paramsRow)
  }

  /** Incremental kNN-graph edges for a NEW batch against a persisted
    * [[knnGraphIndex]]: each batch vector's exact-cosine top-`k` among
    * its SQ8-top-(k·rerankFactor) banded candidates FROM THE STANDING
    * CORPUS — "give the new documents semantic neighbors without
    * touching the old ones", the per-ingest cost a live corpus pays.
    * Output `(id, nbr, cosine, rank)` where `id` is a batch node and
    * `nbr` a corpus node; cosine is exact (re-ranked), the
    * [[knnGraphQuantized]] contract.
    *
    * Scale shape: the batch side computes its own band buckets and
    * codes (frozen params collected once — out-of-range batch values clamp,
    * the documented SQ8 rule); the candidate equi-join on `bkey` needs
    * no index-side exchange when `banding` is the bucketed read-back;
    * the candidates then shuffle once, by batch `id`, for the shared
    * verify tail ([[quantizedVerifyTopK]]), which ships 1-byte codes;
    * raw vectors are touched only by the
    * batch rows and the <= batch·k·rerankFactor survivor joins. The
    * standing corpus is never re-scanned beyond its banded candidates.
    *
    * `rowsPerBand`/`bands` have NO defaults here: the probe MUST band
    * with the width the index was built at (a mismatch probes the wrong
    * buckets), so it is recorded at build time — explicit, or
    * [[autoRowsPerBand]] of the standing count when the build
    * auto-sized. */
  def knnGraphAgainstIndex(
      banding: DataFrame,
      payload: DataFrame,
      params: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      rowsPerBand: Int,
      bands: Int,
      rerankFactor: Int = 4
  ): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    require(rerankFactor >= 1 && rerankFactor <= 64,
      s"rerankFactor must be in [1, 64], got $rerankFactor")
    require(rowsPerBand >= 1, s"knnGraphAgainstIndex: rowsPerBand must be " +
      s"the BUILD width (no auto here — a mismatched probe bands into the " +
      s"wrong buckets), got $rowsPerBand")
    val frozen = collectParams(params)
    val qsigned = quantizedBandedFrame(batch, idCol, vecCol, bands, rowsPerBand, dim, frozen)
    val candidates = byId(bkeyRows(qsigned, bands, rowsPerBand, "knnGraphAgainstIndex")
      .join(banding.select(col("bkey"), col("id").as("nbr")), Seq("bkey"))
      .where(col("id") =!= col("nbr")))
    quantizedVerifyTopK(candidates, qsigned, payload, frozen, k, rerankFactor)
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster-pruned cosine. Every embedding is assigned
    * to its nearest coarse-quantizer centroid (the [[ivfIndex]] k-means),
    * and exact cosine is scored WITHIN cells only — for k even cells the
    * scored-pair volume is ~n^2/k instead of n^2, and the within-cell
    * self-join is an equi-join on `cell`, so the corpus shuffles once
    * (by cell) rather than all-pairs. Pairs straddling a cell boundary
    * are missed BY CONSTRUCTION — the paper's accepted recall trade
    * (SemDedupSpec pins both the exact-recall case on the planted-twin
    * corpus and a constructed cross-cell miss).
    *
    * The third near-dup family beside banded sign-LSH
    * ([[cosineNearDupPairs]], random-projection buckets) and brute force:
    * data-adaptive cells concentrate true neighbors, and the same trained
    * quantizer is shared with the ANN index, so a pipeline that serves
    * ANN gets semantic dedup from the index it already built. */
  /** @param bandWithinCell when `Some((rowsPerBand, bands))`, candidate
    *        generation INSIDE each cell goes through sign-LSH banding
    *        (the [[cosineNearDupPairs]] machinery with `cell` added to
    *        the band join key; `dim` is then required): a pathological
    *        mega-cell no longer costs n_c^2 — candidates are bounded per
    *        (cell, band, bucket) — at the usual OR-of-ANDs recall (for
    *        cosine >= 0.99 with 4 bits in 4 bands, P(miss) ~ 4e-7). The
    *        skew guard for the same reason
    *        [[graft.operators.Dedup.jaccardPairs]] has `maxDf`. */
  def semanticNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nlist: Int = 16,
      sampleSize: Int = 4096,
      trainedCentroids: Option[Seq[Seq[Double]]] = None,
      bandWithinCell: Option[(Int, Int)] = None,
      dim: Option[Int] = None
  ): DataFrame = {
    val (index, _) = ivfIndex(df, idCol, vecCol, nlist = nlist,
      sampleSize = sampleSize, trainedCentroids = trainedCentroids)
    val cast = index.select(col("id"), col("cell"),
      col("vec").cast("array<double>").as("v"))
    bandWithinCell match {
      case None =>
        val a = cast.select(col("cell"), col("id").as("id_a"), col("v").as("va"))
        val b = cast.select(col("cell"), col("id").as("id_b"), col("v").as("vb"))
        a.join(b, Seq("cell"))
          .where(col("id_a") < col("id_b"))
          .withColumn("cosine", cosine(col("va"), col("vb")))
          .where(col("cosine") >= lit(threshold))
          .select("id_a", "id_b", "cosine")
      case Some((rowsPerBand, bands)) =>
        require(dim.isDefined, "semanticNearDupPairs: bandWithinCell needs dim")
        val signed = cast.select(col("id"), col("cell"), col("v"),
          bandBuckets(col("v"), bands, rowsPerBand, dim.get).as("buckets"))
          .localCheckpoint(true) // band buckets computed once for both sides
        val banded = signed.select(col("id"), col("cell"),
          posexplode(col("buckets")).as(Seq("band", "bucket")))
        val a = banded.select(col("cell"), col("band"), col("bucket"), col("id").as("id_a"))
        val b = banded.select(col("cell"), col("band"), col("bucket"), col("id").as("id_b"))
        val candidates = a.join(b, Seq("cell", "band", "bucket"))
          .where(col("id_a") < col("id_b"))
          .select("id_a", "id_b")
          .dropDuplicates("id_a", "id_b")
        val vecs = signed.select(col("id"), col("v"))
        candidates
          .join(vecs.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
          .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
          .withColumn("cosine", cosine(col("va"), col("vb")))
          .where(col("cosine") >= lit(threshold))
          .select("id_a", "id_b", "cosine")
    }
  }

  /** SemDeDup keep-set materialization: rows of `df` surviving semantic
    * dedup at `threshold`. Two policies:
    *
    *   - `keepLowCentroidCosine = false` (default): the min-id greedy —
    *     drop every id that appears as the larger side of a pair (the
    *     [[Dedup.dropDuplicatePairs]] convention, exact on clique-shaped
    *     duplicate groups, SQL-expressible for the oracle gate).
    *   - `keepLowCentroidCosine = true`: the paper's policy — within each
    *     duplicate group (connected component of the pair graph) keep the
    *     member with the LOWEST cosine to its assigned centroid, i.e. the
    *     boundary example, which SemDeDup found preserves downstream
    *     accuracy better than keeping cluster-typical members; id breaks
    *     ties. Implemented as [[Dedup.clusterRepresentatives]] with the
    *     centroid cosine as the ranking, so the grouping is the same
    *     label propagation every other dedup family uses.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nlist: Int = 16,
      sampleSize: Int = 4096,
      trainedCentroids: Option[Seq[Seq[Double]]] = None,
      keepLowCentroidCosine: Boolean = false
  ): DataFrame = {
    val (index, centroids) = ivfIndex(df, idCol, vecCol, nlist = nlist,
      sampleSize = sampleSize, trainedCentroids = trainedCentroids)
    val cast = index.select(col("id"), col("cell"),
      col("vec").cast("array<double>").as("v"))
    val a = cast.select(col("cell"), col("id").as("id_a"), col("v").as("va"))
    val b = cast.select(col("cell"), col("id").as("id_b"), col("v").as("vb"))
    val pairs = a.join(b, Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .where(col("cosine") >= lit(threshold))
      .select("id_a", "id_b")
    if (!keepLowCentroidCosine) Dedup.dropDuplicatePairs(df, idCol, pairs)
    else {
      val spark = df.sparkSession
      val centroidRows = centroids.zipWithIndex.map { case (c, i) => (i, c) }
      val centroidDf = spark.createDataFrame(centroidRows)
        .toDF("cell", "centroid")
      val withCos = cast
        .join(broadcast(centroidDf), Seq("cell"))
        .select(col("id").as(idCol),
          cosine(col("v"), col("centroid")).as("__centroid_cos"))
      val ranked = Dedup.clusterRepresentatives(
        df.join(withCos, Seq(idCol)), idCol, pairs,
        better = Seq(col("__centroid_cos").asc))
      ranked.drop("__centroid_cos", "cluster_id")
    }
  }

  /** IVF (inverted-file) ANN index: a k-means coarse quantizer assigns
    * every vector to one of `nlist` cells; queries probe only the `nprobe`
    * nearest cells. The other classic ANN scale path beside sign-LSH:
    * cells adapt to the data distribution, and at 100 TB the index is
    * written once bucketed by `cell` so a probe reads nprobe/nlist of
    * the corpus — executed, not just claimed: the catalog's
    * `batch_ivf_topk_bucketed` persists this index and the quantizer's
    * centroid table through [[graft.sources.IndexStore]] and probes the
    * read-back, and IndexStoreSpec asserts the cell join has no
    * index-side exchange.
    *
    * The quantizer is trained on the driver over a deterministic sample
    * (first `sampleSize` vectors by id, fixed Lloyd iteration order, ties
    * to the lower cell index) — the FAISS-style train-on-sample shape,
    * chosen over MLlib KMeans because distributed float aggregation order
    * makes MLlib's centroids run-nondeterministic, and a reproducible
    * index is what lets the ANN result be oracle-checked exactly. For a
    * corpus whose diversity the sample under-represents, pass
    * `trainedCentroids` from [[graft.operators.KMeans.lloyd]] — the
    * fully-distributed trainer with the same determinism contract — and
    * the sample/training step is skipped entirely. Cell
    * ASSIGNMENT is distributed: argmin_i |v-c_i|^2 = argmin_i
    * (|c_i|^2 - 2 v.c_i) evaluated as an `array_min` over (distance,
    * index) structs with the codegen'd dot product — one narrow pass, no
    * shuffle.
    *
    * @return (index with a `cell` column, cell centroids in cell order)
    */
  def ivfIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      sampleSize: Int = 4096,
      maxIter: Int = 15,
      trainedCentroids: Option[Seq[Seq[Double]]] = None
  ): (DataFrame, Seq[Seq[Double]]) = trainedCentroids match {
    case Some(cs) =>
      require(cs.nonEmpty && cs.forall(_.size == cs.head.size),
        "trainedCentroids must be non-empty and rectangular")
      (assignAuto(df, idCol, vecCol, cs.map(_.toIndexedSeq).toIndexedSeq), cs)
    case None => trainOnSampleAndAssign(df, idCol, vecCol, nlist, sampleSize, maxIter)
  }

  /** Literal-centroid assignment explodes the PLAN at large k (one
    * struct per centroid in the codegen'd array_min); past this cutover
    * [[assignCellsBroadcast]] takes over — same strict-< argmin, output
    * cell-identical (SimilaritySpec asserts it), plan size O(1) in
    * k x dim. 256 keeps every oracle-gated nlist=16 entry on the fully
    * codegen'd literal path. */
  private val BroadcastAssignCutover = 256

  private def assignAuto(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: IndexedSeq[IndexedSeq[Double]]
  ): DataFrame =
    if (centroids.size >= BroadcastAssignCutover)
      assignCellsBroadcast(df, idCol, vecCol, centroids)
    else assignCells(df, idCol, vecCol, centroids)

  private def trainOnSampleAndAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      sampleSize: Int,
      maxIter: Int
  ): (DataFrame, Seq[Seq[Double]]) = {
    val sample: Array[Array[Double]] = df
      .select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .where(col("__v").isNotNull && size(col("__v")) > 0)
      .orderBy("__id").limit(sampleSize)
      .collect().map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "ivfIndex: no non-empty vectors to index")
    val k = math.min(nlist, sample.length)
    val d = sample(0).length
    // deterministic init: evenly strided sample vectors
    var centroids: Array[Array[Double]] =
      Array.tabulate(k)(i => sample((i.toLong * sample.length / k).toInt).clone())
    var iter = 0
    while (iter < maxIter) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0
        var bestD = Double.PositiveInfinity
        var i = 0
        while (i < k) {
          var dist = 0.0
          var j = 0
          while (j < d) { val t = v(j) - centroids(i)(j); dist += t * t; j += 1 }
          if (dist < bestD) { bestD = dist; best = i } // strict < : ties keep lower i
          i += 1
        }
        counts(best) += 1
        val s = sums(best)
        var j = 0
        while (j < d) { s(j) += v(j); j += 1 }
      }
      centroids = Array.tabulate(k) { i =>
        if (counts(i) == 0) centroids(i) else sums(i).map(_ / counts(i))
      }
      iter += 1
    }
    (assignAuto(df, idCol, vecCol, centroids.toIndexedSeq.map(_.toIndexedSeq)),
      centroids.toIndexedSeq.map(_.toSeq))
  }

  /** Distributed cell assignment against literal centroids: argmin_i
    * |v-c_i|^2 = argmin_i (|c_i|^2 - 2 v.c_i) as an `array_min` over
    * (distance, index) structs — one narrow codegen'd pass, no shuffle. */
  private def assignCells(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: IndexedSeq[IndexedSeq[Double]]
  ): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val cNorm2 = c.map(x => x * x).sum
      struct((lit(cNorm2) - dot(v, typedLit(c.toSeq)) * 2).as("d"), lit(i).as("i"))
    }
    val cell = array_min(array(scored: _*)).getField("i")
    df.select(col(idCol).as("id"), col(vecCol).as("vec"), cell.as("cell"))
  }

  /** Large-nlist cell assignment: broadcast-centroids `mapPartitions`
    * argmin — plan size O(1) in nlist x dim, where [[assignCells]]'
    * literal struct array explodes plan/codegen at FAISS-realistic
    * nlist >= 4096 (the same cutover [[KMeans.lloyd]] applies per
    * iteration). Full squared euclidean, strict-< argmin (ties keep the
    * lower cell) — SimilaritySpec asserts cell-identical output against
    * [[assignCells]] at small nlist. Output: (id, vec array<double>,
    * cell) — the [[ivfTopKForQueriesTable]] index shape. */
  def assignCellsBroadcast(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Double]]
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cb = spark.sparkContext.broadcast(centroids.map(_.toArray).toArray)
    df.select(col(idCol).cast("long"),
        col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val cs = cb.value
        it.map { case (id, vseq) =>
          val v = vseq.toArray
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < cs.length) {
            val cen = cs(c)
            var d2 = 0.0
            var j = 0
            while (j < v.length) { val t = v(j) - cen(j); d2 += t * t; j += 1 }
            if (d2 < bestD) { bestD = d2; best = c } // ties keep lower cell
            c += 1
          }
          (id, vseq, best)
        }
      }
      .toDF("id", "vec", "cell")
  }

  /** IVF probe: rank the `nprobe` cells nearest to the query (driver-side
    * euclidean, matching the quantizer's metric), scan only those cells,
    * return the exact-cosine top-k. `nprobe = nlist` degenerates to exact
    * brute force — the recall knob. */
  def ivfTopK(
      index: DataFrame,
      centroids: Seq[Seq[Double]],
      query: Seq[Double],
      nprobe: Int,
      k: Int
  ): DataFrame = {
    // zip would silently truncate a mismatched query -> wrong probe cells;
    // fail loudly like lshSignature's dim-hint check does.
    centroids.headOption.foreach { c =>
      require(query.size == c.size,
        s"ivfTopK: query dim ${query.size} does not match centroid dim ${c.size}")
    }
    val probes = centroids.zipWithIndex
      .map { case (c, i) =>
        val d = c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum
        (i, d)
      }
      .sortBy { case (i, d) => (d, i) }
      .take(math.max(1, nprobe))
      .map(_._1)
    val qArr = array(query.map(lit): _*)
    val v = col("vec").cast("array<double>")
    index.where(col("cell").isin(probes: _*))
      .select(col("id"), cosine(v, qArr).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Batch twin of [[ivfTopK]]: top-k for every row of a query DataFrame.
    * Each query ranks the `nlist` centroids in-plan (an `array_sort` over
    * (distance, cell) structs built from literal centroids — same
    * |c|^2 - 2 v.c expansion as the index assignment) and explodes its
    * `nprobe` nearest cells; the probe set equi-joins the index on `cell`
    * (hash join), exact cosine + a per-query window rerank finish. At
    * scale the index is stored partitioned by cell, so the join touches
    * nprobe/nlist of the corpus per query. `nprobe = nlist` is the
    * exhaustive recall-1.0 setting (oracle-checkable against brute force).
    */
  def ivfTopKForQueries(
      index: DataFrame,
      centroids: Seq[Seq[Double]],
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nprobe: Int,
      k: Int
  ): DataFrame = {
    require(centroids.nonEmpty, "ivfTopKForQueries: empty centroid list")
    val qv = col(vecCol).cast("array<double>")
    val scoredCells = centroids.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      val cNorm2 = c.map(x => x * x).sum
      struct((lit(cNorm2) - dot(qv, typedLit(c)) * 2).as("d"), lit(i).as("i"))
    }
    val probeCells = slice(array_sort(array(scoredCells: _*)), 1, math.max(1, nprobe))
    // the codegen'd dot truncates to the shorter array (zip semantics), so
    // a dim-mismatched query would silently rank cells by a prefix dot —
    // fail loudly instead, like ivfTopK's driver-side require. A NULL
    // query vector gets NULL probe cells, which the equi-join drops (the
    // probeBuckets null-signature semantics).
    val dim0 = centroids.head.size
    val probed = queries.select(col(idCol).as("query_id"), qv.as("qvec"),
      explode(probeCells.getField("i")).as("cell"))
      .withColumn("cell",
        when(col("qvec").isNull, lit(null).cast("int"))
          .when(size(col("qvec")) === dim0, col("cell"))
          .otherwise(raise_error(concat(
            lit(s"ivfTopKForQueries: query dim "), size(col("qvec")).cast("string"),
            lit(s" does not match centroid dim $dim0"))).cast("int")))
    rankProbedCandidates(probed, index, k)
  }

  /** Shared scoring tail of the batch IVF paths: equi-join the probe set
    * with the index on `cell`, exclude self-matches, exact cosine, and
    * rerank per query. Both variants are documented as semantically
    * identical — a fix here (tie-break, self-exclusion) reaches both. */
  private def rankProbedCandidates(
      probed: DataFrame, index: DataFrame, k: Int): DataFrame = {
    val scored = probed.join(index, Seq("cell"))
      .where(col("query_id") =!= col("id"))
      .withColumn("cosine", cosine(col("qvec"), col("vec").cast("array<double>")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("id").as("corpus_id"), col("cosine"), col("rank"))
  }

  /** Centroids as a (cell, centroid) DataFrame — the input shape for
    * [[ivfTopKForQueriesTable]] and the form an IVF index's quantizer is
    * persisted in at scale (alongside the bucketed index table). */
  def centroidTable(spark: SparkSession, centroids: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "centroid")
  }

  // ---- product quantization (Jegou/Douze/Schmid 2011, the FAISS PQ) ----
  //
  // The memory-compression ANN path: split each d-dim vector into m
  // subspaces, quantize each slice against a k-entry per-subspace
  // codebook, and store only the m code bytes (64 floats -> 8 bytes at
  // m=8). Queries score compressed codes via ADC (asymmetric distance
  // computation): one tiny m x k lookup table of query-to-centroid
  // subdistances, then a code's score is an m-term table sum — no
  // decompression, no corpus-sized float reads. At 100 TB this is what
  // makes an in-memory rerank tier possible at all.
  //
  // Determinism contract (same as the IVF/KMeans paths): subdistances
  // round at 9 dp with the floor(x*1e9+0.5) primitive, argmin ties go to
  // the LOWER code, the ADC sum folds subspaces in order 0..m-1, and the
  // emitted score rounds at 6 dp — so `pq_topk`'s DuckDB twin is
  // hash-exact.

  /** Untrained "natural share" codebooks: the first `k` corpus vectors
    * (by id — deterministic in any layout), sliced into `m` subspaces.
    * The quantizer-init shape; for trained codebooks compose
    * [[pqTrainedCodebooks]]. Output: (sub)(code)(subDim). */
  def pqSeedCodebooks(
      df: DataFrame, idCol: String, vecCol: String, m: Int, k: Int
  ): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    val seeds = df
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy("id").limit(k)
      .collect().map(_.getSeq[Double](1).toIndexedSeq)
    require(seeds.length == k, s"need >= $k vectors for $k codes, got ${seeds.length}")
    sliceCodebooks(seeds.toIndexedSeq, m)
  }

  /** Trained codebooks: ONE [[graft.operators.KMeans.lloydGrouped]] run
    * keyed by subspace over the exploded slice table — the fully-
    * distributed PQ trainer in 1 seed job + `iters` jobs TOTAL (the
    * r19 verdict #2 fold: the previous m sequential [[KMeans.lloyd]]
    * runs were m x (1 + iters) jobs, and at small k the job round
    * trips dominate). Per-subspace results are bit-identical to the
    * composed per-subspace runs (PqSpec asserts it): same hash-ranked
    * seeds — the slices share one id universe, so per-group rank ==
    * global rank — same broadcast argmin IEEE sequence, same
    * DECIMAL(18,6) update, now keyed (sub, cell, dim). Only
    * m x k x subDim statistics reach the driver per iteration. */
  def pqTrainedCodebooks(
      df: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
      iters: Int = 2, seed: Long = 42L
  ): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    val subDim = vectorDimOf(df, vecCol) match {
      case d =>
        require(d % m == 0, s"dim $d not divisible by m=$m subspaces"); d / m
    }
    val v = col(vecCol).cast("array<double>")
    val sliced = df.select(col(idCol).as("vec_id"),
      posexplode(array((0 until m).map(s => slice(v, s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "embedding")))
    val trained = KMeans.lloydGrouped(
      sliced, "sub", "vec_id", "embedding", k, iters, seed)
    val rows = trained.select("grp", "cell", "dim", "c").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    IndexedSeq.tabulate(m, k, subDim)((s, c, d) => rows((s, c, d)))
  }

  private def vectorDimOf(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head().getInt(0)

  private def sliceCodebooks(
      vecs: IndexedSeq[IndexedSeq[Double]], m: Int
  ): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    val d = vecs.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
    val subDim = d / m
    (0 until m).map(s => vecs.map(v => v.slice(s * subDim, (s + 1) * subDim))).toIndexedSeq
  }

  /** Encode every vector to its m-code array: per subspace, the
    * r9-rounded-argmin codebook entry (ties to the lower code).
    * Broadcast-codebooks `mapPartitions` — the KMeans large-k assignment
    * shape: plan size O(1) in m x k. Output: (id, codes array<int>). */
  def pqEncode(
      df: DataFrame, idCol: String, vecCol: String,
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val subDim = codebooks.head.head.length
    val cb = spark.sparkContext.broadcast(
      codebooks.map(_.map(_.toArray).toArray).toArray)
    df.select(col(idCol).cast("long"),
        col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val books = cb.value
        it.map { case (id, vseq) =>
          val v = vseq.toArray
          val codes = new Array[Int](m)
          var s = 0
          while (s < m) {
            val book = books(s)
            var best = 0
            var bestD = Double.MaxValue
            var c = 0
            while (c < book.length) {
              val cen = book(c)
              var d2 = 0.0
              var j = 0
              while (j < subDim) {
                val t = v(s * subDim + j) - cen(j); d2 += t * t; j += 1
              }
              val d = math.floor(d2 * 1e9 + 0.5) / 1e9
              if (d < bestD) { bestD = d; best = c } // ties keep lower code
              c += 1
            }
            codes(s) = best
            s += 1
          }
          (id, codes.toSeq)
        }
      }
      .toDF("id", "codes")
  }

  /** ADC top-k over PQ codes for one query: the m x k lookup table is
    * computed driver-side with the same r9 primitive, shipped as a plan
    * literal (m x k doubles — tiny), and each code row's score is an
    * in-plan ordered fold over its m table entries. Ascending distance,
    * id tie-break. */
  /** Batch twin of [[pqTopK]]: ADC top-k for every row of a query
    * DataFrame. Per-query LUTs are computed driver-side (the documented
    * bounded-query-set batch-ANN shape — `collect` is per QUERY, never
    * per corpus row) and broadcast as a (query_id, lut) table; each
    * (code row x query) pair folds its m table entries in-plan. Output:
    * (query_id, id, adc, rank).
    *
    * SCALE GUARD: the driver holds one m x k LUT per query and every
    * code row scores against every query, so this is the small-batch
    * scorer — `maxQueries` is ENFORCED at plan-build time (the probe
    * collects at most maxQueries+1 rows, so a violating call never
    * pulls the full query set onto the driver). Bulk query sets belong
    * on [[ivfPqTopKOnCelledCodes]] / the bucketed candidate generators,
    * where candidates are cell-bounded.
    *
    * @param maxQueries cap on the driver-built LUT table (default 1024:
    *        ~1 MB of LUTs at m=8, k=16) */
  def pqTopKForQueries(
      codes: DataFrame,
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      k: Int,
      maxQueries: Int = 1024
  ): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val subDim = codebooks.head.head.length
    val qs = queries
      .select(col(queryIdCol).cast("long"),
        col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Double])].limit(maxQueries + 1).collect()
    require(qs.length <= maxQueries,
      s"pqTopKForQueries builds a driver-side LUT per query and is bounded to " +
        s"maxQueries=$maxQueries (query set exceeds it); bulk query sets belong " +
        s"on ivfPqTopKOnCelledCodes or the bucketed candidate generators")
    val lutRows = qs.map { case (qid, qv) =>
      require(qv.size == m * subDim,
        s"pqTopKForQueries: query $qid dim ${qv.size} != ${m * subDim}")
      val lut = (0 until m).map { s =>
        codebooks(s).map { cen =>
          var d2 = 0.0
          var j = 0
          while (j < subDim) { val t = qv(s * subDim + j) - cen(j); d2 += t * t; j += 1 }
          math.floor(d2 * 1e9 + 0.5) / 1e9
        }.toSeq
      }.toSeq
      (qid, lut)
    }.toSeq
    val lutDf = broadcast(lutRows.toDF("query_id", "lut"))
    val adc = aggregate(sequence(lit(0), lit(m - 1)), lit(0.0d), (acc, s) =>
      acc + element_at(element_at(col("lut"), s + 1), element_at(col("codes"), s + 1) + 1))
    val w = Window.partitionBy("query_id").orderBy(col("adc").asc, col("id").asc)
    codes.crossJoin(lutDf)
      .select(col("query_id"), col("id"), round(adc, 6).as("adc"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "id", "adc", "rank")
  }

  /** IVF-ADC: the coarse quantizer prunes candidates to the `nprobe`
    * cells nearest the query, then ADC ranks the survivors' compressed
    * codes — FAISS's IVFPQ composition, minus residual encoding (codes
    * quantize RAW vectors here; per-cell residual codebooks are the
    * classic recall upgrade and would slot into [[pqEncode]] by
    * subtracting the cell centroid first — a per-cell codebook table is
    * the cost). Probe ranking matches [[ivfTopK]] (driver-side full
    * squared distance, lower-cell ties); candidate pruning is an id
    * equi-join between the cell-filtered index and the code table, so at
    * 100 TB — both written bucketed by their keys — the scan reads
    * nprobe/nlist of the index and the join needs no code-side shuffle. */
  def ivfPqTopK(
      index: DataFrame,
      codes: DataFrame,
      centroids: Seq[Seq[Double]],
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      query: Seq[Double],
      nprobe: Int,
      k: Int
  ): DataFrame = {
    val cand = index
      .where(col("cell").isin(nearestCells(centroids, query, nprobe): _*))
      .select(col("id"))
    pqTopK(codes.join(cand, Seq("id")), codebooks, query, k)
  }

  /** [[ivfPqTopK]] over a SELF-CONTAINED code table that already carries
    * its `cell` column — the persisted-index shape: written once through
    * [[graft.sources.IndexStore.writeBucketed]] bucketed by `cell`, a
    * probe's `cell IN (...)` filter bucket-prunes the scan to
    * nprobe/numBuckets of the files, and no id join is needed at all. */
  def ivfPqTopKOnCelledCodes(
      celledCodes: DataFrame,
      centroids: Seq[Seq[Double]],
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      query: Seq[Double],
      nprobe: Int,
      k: Int
  ): DataFrame =
    pqTopK(
      celledCodes.where(col("cell").isin(nearestCells(centroids, query, nprobe): _*)),
      codebooks, query, k)

  /** Driver-side probe ranking shared by the IVF-ADC paths — full
    * squared distance, (distance, cell) order, same as [[ivfTopK]]. */
  private def nearestCells(
      centroids: Seq[Seq[Double]], query: Seq[Double], nprobe: Int): Seq[Int] = {
    centroids.headOption.foreach { c =>
      require(query.size == c.size,
        s"probe: query dim ${query.size} does not match centroid dim ${c.size}")
    }
    centroids.zipWithIndex
      .map { case (c, i) =>
        (i, c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
      .sortBy { case (i, d) => (d, i) }
      .take(math.max(1, nprobe))
      .map(_._1)
  }

  /** PQ codebooks as a (sub, code, centroid) DataFrame — the persisted
    * sidecar shape (m x k x subDim doubles, trivially small beside the
    * code table). */
  def pqCodebookTable(
      spark: SparkSession,
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): DataFrame = {
    import spark.implicits._
    (for {
      (book, s) <- codebooks.zipWithIndex
      (cen, c) <- book.zipWithIndex
    } yield (s, c, cen.toSeq)).toDF("sub", "code", "centroid")
  }

  /** Inverse of [[pqCodebookTable]]: read a persisted sidecar back into
    * the in-memory codebook shape (one tiny collect). */
  def pqCodebooksFromTable(df: DataFrame): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    val rows = df.select("sub", "code", "centroid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toIndexedSeq))
    rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toIndexedSeq).toIndexedSeq
  }

  /** Inverse of [[centroidTable]] (cell-ordered). */
  def centroidsFromTable(df: DataFrame): Seq[Seq[Double]] =
    df.select("cell", "centroid").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1).map(_._2).toSeq

  /** Driver-side m x k lookup table of r9-rounded query-to-centroid
    * subdistances — shared by every ADC path. */
  private def pqLut(
      query: Seq[Double],
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): Seq[Seq[Double]] = {
    val m = codebooks.length
    val subDim = codebooks.head.head.length
    require(query.size == m * subDim,
      s"ADC: query dim ${query.size} != m*subDim ${m * subDim}")
    (0 until m).map { s =>
      codebooks(s).map { cen =>
        var d2 = 0.0
        var j = 0
        while (j < subDim) { val t = query(s * subDim + j) - cen(j); d2 += t * t; j += 1 }
        math.floor(d2 * 1e9 + 0.5) / 1e9
      }.toSeq
    }
  }

  /** Ordered in-plan fold of a code row's m table entries. */
  private def adcExpr(lut: Seq[Seq[Double]]): Column = {
    val lutLit = typedLit(lut)
    aggregate(sequence(lit(0), lit(lut.length - 1)), lit(0.0d), (acc, s) =>
      acc + element_at(element_at(lutLit, s + 1), element_at(col("codes"), s + 1) + 1))
  }

  def pqTopK(
      codes: DataFrame,
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      query: Seq[Double],
      k: Int
  ): DataFrame =
    codes
      .select(col("id"), round(adcExpr(pqLut(query, codebooks)), 6).as("adc"))
      .orderBy(col("adc").asc, col("id").asc)
      .limit(k)

  /** Residuals of an [[ivfIndex]] assignment: v - centroid[cell], the
    * input PQ quantizes in FULL FAISS IVFADC. Residuals concentrate
    * around the origin with far less variance than raw vectors, so the
    * same codebook budget spends its resolution where the data actually
    * is — PqSpec measures the quantization-error win on real
    * embeddings. */
  def residualFrame(index: DataFrame, centroids: Seq[Seq[Double]]): DataFrame = {
    val centsLit = typedLit(centroids.map(_.toSeq))
    index.select(col("id"), col("cell"),
      zip_with(col("vec").cast("array<double>"),
        element_at(centsLit, col("cell") + 1), (a, b) => a - b).as("residual"))
  }

  /** Residual IVF-ADC: candidates from the `nprobe` nearest cells, each
    * cell's codes scored against ITS OWN lookup table (built from the
    * query's residual q - centroid[cell]) — the full FAISS IVFADC query
    * shape. `celledCodes` = [[pqEncode]] of [[residualFrame]] joined
    * with its `cell` column. One scan branch per probed cell (nprobe is
    * small by design), unioned and ranked. */
  def ivfPqResidualTopK(
      celledCodes: DataFrame,
      centroids: Seq[Seq[Double]],
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      query: Seq[Double],
      nprobe: Int,
      k: Int
  ): DataFrame = {
    val probes = nearestCells(centroids, query, nprobe)
    probes.map { cell =>
      val qres = query.zip(centroids(cell)).map { case (a, b) => a - b }
      celledCodes.where(col("cell") === cell)
        .select(col("id"), round(adcExpr(pqLut(qres, codebooks)), 6).as("adc"))
    }
      .reduce(_ unionAll _)
      .orderBy(col("adc").asc, col("id").asc)
      .limit(k)
  }

  /** Scale form of [[ivfTopKForQueries]] for large `nlist`: cells are
    * ranked per query via a BROADCAST JOIN against a centroid TABLE
    * instead of an `array_sort` over plan-literal centroids. The literal
    * form is ideal up to ~10^3 centroids; at an nlist realistic for
    * 100 TB (10^4-10^5) a literal centroid array explodes plan size and
    * codegen, while a broadcast of nlist * dim doubles stays trivially
    * small. Costs one extra query-keyed exchange (the per-query cell-rank
    * window) versus the in-plan sort — amortized over bulk query sets.
    *
    * Semantics are identical to the literal path (asserted by
    * SimilaritySpec at nlist=16): same |c|^2 - 2 q.c distance with the
    * same association order (the distributed |c|^2 fold runs in the same
    * element order as the driver-side sum), ties to the lower cell index.
    */
  def ivfTopKForQueriesTable(
      index: DataFrame,
      centroidTbl: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nprobe: Int,
      k: Int
  ): DataFrame = {
    val qv = col(vecCol).cast("array<double>")
    val cents = centroidTbl.select(col("cell"),
      col("centroid").cast("array<double>").as("cvec"))
    // NULL query vectors can't rank cells — drop them up front (the
    // null-signature-drops semantics); then the same loud dim guard as
    // the literal path: the truncating dot must never silently rank
    // cells by a prefix product
    val scoredCells = queries.select(col(idCol).as("query_id"), qv.as("qvec"))
      .where(col("qvec").isNotNull)
      .crossJoin(broadcast(cents))
      .withColumn("d", when(size(col("qvec")) === size(col("cvec")),
          dot(col("cvec"), col("cvec")) - dot(col("qvec"), col("cvec")) * 2)
        .otherwise(raise_error(concat(
          lit("ivfTopKForQueriesTable: query dim "), size(col("qvec")).cast("string"),
          lit(" does not match centroid dim "), size(col("cvec")).cast("string")))
          .cast("double")))
    val cellRank = Window.partitionBy("query_id").orderBy(col("d").asc, col("cell").asc)
    val probed = scoredCells
      .withColumn("crank", row_number().over(cellRank))
      .where(col("crank") <= math.max(1, nprobe))
      .select("query_id", "qvec", "cell")
    rankProbedCandidates(probed, index, k)
  }

  /** Driver-side twin of [[lshSignature]] for a single query vector — the
    * query's bucket is a pure function of the vector, so computing it must
    * not cost a Spark job. Hash components are evaluated through the same
    * Catalyst XxHash64 expression the distributed signature uses, and the
    * fold runs in the same element order, so the two paths agree bitwise. */
  def lshSignatureLocal(vec: Seq[Double], nBits: Int): Long =
    (0 until nBits).map { p =>
      val proj = vec.zipWithIndex
        .map { case (x, i) => x * planeComponent(p, i) }
        .foldLeft(0.0d)(_ + _)
      if (proj >= 0) 1L << p else 0L
    }.reduce(_ | _)

  /** All signatures within hamming distance `radius` of `sig` — the
    * multi-probe set. Size is sum_{r<=radius} C(nBits, r). */
  def probeBall(sig: Long, nBits: Int, radius: Int): Seq[Long] = {
    var ball = Set(sig)
    var r = 0
    while (r < radius) {
      ball = ball ++ ball.flatMap(s => (0 until nBits).map(b => s ^ (1L << b)))
      r += 1
    }
    ball.toSeq.sorted
  }

  /** ANN top-k: probe the buckets within `probeRadius` bit flips of the
    * query's signature, then rank by exact cosine. Recall is tuned by
    * nBits (fewer bits = bigger buckets) and probeRadius (sign-LSH's near
    * misses are the few-flipped-bits buckets; each extra radius step
    * trades more bucket reads for recall without growing the index —
    * radius 0 probes 1 bucket, radius 1 probes nBits+1, radius 2
    * ~nBits^2/2). Tune (nBits, radius) per corpus: high-similarity
    * lookups (near-dup, cosine >= 0.9) recall well at nBits 16 / radius 1;
    * a scan-fraction target like 2^-10 of the corpus means nBits >= 16.
    * The probe signatures are computed on the driver
    * ([[lshSignatureLocal]]) — no Spark job for scalars. */
  def annTopK(
      index: DataFrame,
      query: Seq[Double],
      nBits: Int,
      k: Int,
      probeRadius: Int = 1
  ): DataFrame = {
    val qArr = array(query.map(lit): _*)
    val probes = probeBall(lshSignatureLocal(query, nBits), nBits, probeRadius)
    val v = col("vec").cast("array<double>")
    index.where(col("bucket").isin(probes: _*))
      .select(col("id"), cosine(v, qArr).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** All xor-masks with at most `radius` bits of `nBits` set (mask 0 = the
    * home bucket). `sig ^ mask` over these masks enumerates the probe ball
    * as column arithmetic — the batch twin of [[probeBall]]. */
  def probeBallMasks(nBits: Int, radius: Int): Seq[Long] = {
    var ball = Set(0L)
    var r = 0
    while (r < radius) {
      ball = ball ++ ball.flatMap(m => (0 until nBits).map(b => m | (1L << b)))
      r += 1
    }
    ball.toSeq.sorted
  }

  /** Bucketed BATCH ANN: top-k for every row of a query DataFrame in one
    * dataflow. Each query expands to its multi-probe bucket set (xor of
    * literal flip masks — no driver-side per-query work), which EQUI-JOINS
    * the LSH index on `bucket`: a shuffled hash join whose probe side is
    * |queries| x |ball| rows, never the BroadcastNestedLoop of
    * [[topKForQueries]]. Exact cosine + a per-query top-k window rerank
    * the candidates. A corpus row lives in exactly one bucket and probe
    * buckets are distinct, so no candidate dedup is needed.
    *
    * At 100 TB: the index is written once, bucketed by `bucket`; the join
    * touches |ball|/2^nBits of the corpus per query. Production near-dup
    * lookups run nBits ~16, radius 1 (ball = 17 of 65536 buckets);
    * `probeRadius = nBits` degenerates to an exhaustive-but-bucketed scan,
    * which is the recall-1.0 oracle setting. */
  /** Expand query rows to their multi-probe bucket set: one row per
    * (query, probe bucket), with the double-cast query vector carried
    * along. Shared by the batch and streaming ANN paths so probe
    * semantics (signature flavor, ball shape, null handling) live in one
    * place. A NULL/absent signature yields NULL buckets, which the
    * downstream equi-join drops. */
  def probeBuckets(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nBits: Int,
      probeRadius: Int,
      dim: Int
  ): DataFrame = {
    val masks = probeBallMasks(nBits, probeRadius)
    queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"),
        lshSignature(col(vecCol), nBits, dim).as("qsig"))
      .select(col("query_id"), col("qvec"),
        explode(array(masks.map(m => col("qsig").bitwiseXOR(lit(m))): _*)).as("bucket"))
  }

  def annTopKForQueries(
      index: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nBits: Int,
      k: Int,
      probeRadius: Int = 1,
      dim: Int
  ): DataFrame = {
    val probed = probeBuckets(queries, idCol, vecCol, nBits, probeRadius, dim)
    val scored = probed.join(index, Seq("bucket"))
      .where(col("query_id") =!= col("id"))
      .withColumn("cosine", cosine(col("qvec"), col("vec").cast("array<double>")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("id").as("corpus_id"), col("cosine"), col("rank"))
  }

  // ---- Johnson–Lindenstrauss random projection ---------------------------

  /** splitmix64 finalizer — the standard stateless 64-bit mixer; used to
    * derive projection-matrix entries from (seed, cell index) with no RNG
    * state, so the matrix is identical on every driver/executor/rerun. */
  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Deterministic Achlioptas (2003) sparse JL projection matrix:
    * entries are `+sqrt(3/outDim)`, `-sqrt(3/outDim)`, `0` with
    * probability 1/6, 1/6, 2/3 — the database-friendly JL construction
    * (2/3 of the multiplies vanish) with the same distance-preservation
    * guarantee as the dense Gaussian matrix. `outDim` rows of `inDim`
    * doubles, driver-built (outDim x inDim x 8 bytes — e.g. 8 KB at
    * 16 x 64), shipped to executors as plan literals. */
  def randomProjectionMatrix(inDim: Int, outDim: Int, seed: Long = 42L): IndexedSeq[Seq[Double]] = {
    require(inDim > 0 && outDim > 0, s"dims must be positive, got $inDim -> $outDim")
    val scale = math.sqrt(3.0 / outDim)
    IndexedSeq.tabulate(outDim) { j =>
      Seq.tabulate(inDim) { i =>
        // non-negative bucket in [0, 6): top bits of the mix, unbiased
        // enough for a projection draw
        (splitmix64(seed + j.toLong * inDim + i) >>> 8) % 6 match {
          case 0 => scale
          case 1 => -scale
          case _ => 0.0
        }
      }
    }
  }

  /** Project an `array<float|double>` vector column through `matrix`:
    * one codegen'd [[dot]] against a literal row per output dimension —
    * a single narrow scan, no shuffle, no UDF. */
  def projectColumn(vecCol: Column, matrix: IndexedSeq[Seq[Double]]): Column = {
    val v = vecCol.cast("array<double>")
    array(matrix.map(row => dot(v, array(row.map(lit): _*))): _*)
  }

  /** Batch ANN through a random-projection candidate stage: score
    * query-corpus pairs by cosine in the `outDim`-dimensional projected
    * space (cheap), keep `candidateK` candidates per query, then re-rank
    * ONLY the candidates by exact cosine in the original space and emit
    * the top `k`.
    *
    * The scale shape: the projection itself is a one-off narrow pass
    * (outDim dot products per corpus row) whose output is `outDim/inDim`
    * the size of the original vectors — at 100 TB you persist the
    * projected index once (IndexStore-style, exactly like [[lshIndex]])
    * and every subsequent batch pays pair-scoring at the REDUCED width,
    * with exact re-ranking touching just `candidateK` full-width rows per
    * query. Composes with the bucketed candidate generators: LSH/IVF over
    * the projected vectors prunes the pair space on top of the width
    * reduction (JL preserves the cosine structure those rely on).
    *
    * Inherits [[topKForQueries]]'s small-query-set bound (the query side
    * broadcasts). Recall is approximate by JL nature; `candidateK >> k`
    * buys distortion headroom (RpSpec pins 100% top-k coverage on the
    * test corpus — the catalog entry's DuckDB-oracle precondition). */
  def rpTopKForQueries(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      outDim: Int,
      candidateK: Int,
      k: Int,
      seed: Long = 42L
  ): DataFrame = {
    require(candidateK >= k, s"candidateK ($candidateK) must be >= k ($k)")
    val inDim = vectorDimOf(corpus, vecCol)
    val m = randomProjectionMatrix(inDim, outDim, seed)
    val c = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<double>").as("cvec"),
      projectColumn(col(vecCol), m).as("cproj"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qvec"),
      projectColumn(col(vecCol), m).as("qproj"))
    val wCand = Window.partitionBy("query_id")
      .orderBy(col("rp_cosine").desc, col("corpus_id").asc)
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .withColumn("rp_cosine", cosine(col("cproj"), col("qproj")))
      .withColumn("__cand_rank", row_number().over(wCand))
      .where(col("__cand_rank") <= candidateK)
      .withColumn("cosine", cosine(col("cvec"), col("qvec")))
      .withColumn("rank", row_number().over(wExact))
      .where(col("rank") <= k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998):
    * diversify a per-query candidate list by greedily selecting
    *
    *   argmax over unselected d of
    *     lambda * rel(d) - (1 - lambda) * max over selected s of sim(d, s)
    *
    * — the standard redundancy-removal step after retrieval (near-twin
    * results collapse to one representative plus genuinely-different
    * follow-ups). `rel` is exact cosine to the query; `sim` is cosine
    * between candidates (computed as a plain dot over pre-NORMALIZED
    * vectors, so the inner loop is one fused multiply-add chain).
    *
    * Scale shape: stage 1 is the existing bounded candidate generator
    * ([[topKForQueries]] here; swap in LSH/IVF for bulk query sets —
    * only the `(query_id, corpus_id, cosine)` shape matters). The greedy
    * recursion then runs entirely IN-PLAN over the per-query candidate
    * array (one collect_list aggregate, candidateK-bounded): the `m`
    * selection steps unroll into `m` projection stages, each an
    * `aggregate` argmax fold over <= candidateK structs — no driver
    * loop, no UDF, no extra shuffle; the corpus is never touched after
    * stage 1. Every double is closed-form (the argmax tie-breaks on
    * score, then on the SMALLEST candidate-array index — the candidate
    * array is sorted by id, so that equals the smallest id under the
    * id type's own ordering), so an unrolled SQL twin replays the
    * selection exactly.
    *
    * Output: `(query_id, corpus_id, mmr_score, step)`, `step` = 1..m
    * selection order (fewer if a query has < m candidates). */
  def mmrRerank(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      candidateK: Int,
      m: Int,
      lambdaRel: Double = 0.7
  ): DataFrame = {
    require(m >= 1 && candidateK >= m, s"need 1 <= m <= candidateK, got m=$m candidateK=$candidateK")
    require(lambdaRel >= 0 && lambdaRel <= 1, s"lambda must be in [0,1], got $lambdaRel")
    val oneMinus = 1.0 - lambdaRel // SQL twins must replay 1.0 - lambda, not a rounded literal
    val cands = topKForQueries(corpus, queries, idCol, vecCol, candidateK)
    val cvecs = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    val withVec = cands.join(cvecs, Seq("corpus_id"))
      .select(col("query_id"), col("corpus_id"), col("cosine").as("rel"),
        transform(col("__cv"), x => x / norm(col("__cv"))).as("vn"))
    // one row per query: candidates sorted by id (a canonical order for
    // the folds; selection order is decided by the argmax, not this)
    val grouped = withVec.groupBy("query_id")
      .agg(array_sort(collect_list(struct(
        col("corpus_id").as("id"), col("rel"), col("vn")))).as("cands"))
    // the m greedy steps run as ONE fold over sequence(1, m) whose
    // state (the selected structs) is a lambda VARIABLE — unrolling them
    // into m projection stages instead re-inlines the accumulated
    // columns and the expression tree grows ~4^m (measured: analysis
    // OOM at m=5), while this form is O(1) plan size and
    // m * candidateK * m evaluation work per row.
    // The state carries the candidate-array INDEX, not the raw id, so
    // the operator stays id-type generic (string/decimal ids work, and
    // there is no -Long.MinValue negation edge): `cands` is sorted by
    // id, so smallest-index tie-break == smallest-id tie-break.
    val zeroState = array().cast("array<struct<idx:int,mmr:double>>")
    val zeroPick = struct(lit(Double.NegativeInfinity).as("key_score"),
      lit(Int.MinValue).as("key_negidx"),
      lit(null).cast("int").as("idx"), lit(null).cast("double").as("mmr"))
    def candAt(i: Column) = element_at(col("cands"), i + 1)
    val selExpr = aggregate(
      sequence(lit(1), lit(m)), zeroState,
      (state, step) => {
        // groupBy guarantees size(cands) >= 1, so sequence(0, size-1)
        // never runs its descending (start > stop) branch
        val pick = aggregate(
          sequence(lit(0), size(col("cands")) - 1), zeroPick,
          (acc, i) => {
            val cand = candAt(i)
            val already = exists(state, s => s.getField("idx") === i)
            val maxSim = when(size(state) === 0, lit(0.0))
              .otherwise(array_max(transform(state,
                s => dot(cand.getField("vn"), candAt(s.getField("idx")).getField("vn")))))
            val score = when(already, lit(Double.NegativeInfinity))
              .otherwise(lit(lambdaRel) * cand.getField("rel") - lit(oneMinus) * maxSim)
            val negidx = -i
            val better = score > acc.getField("key_score") ||
              (score === acc.getField("key_score") && negidx > acc.getField("key_negidx"))
            when(better, struct(score.as("key_score"), negidx.as("key_negidx"),
              i.as("idx"), score.as("mmr")))
              .otherwise(acc)
          })
        when(step <= size(col("cands")),
          array_append(state, struct(pick.getField("idx").as("idx"),
            pick.getField("mmr").as("mmr"))))
          .otherwise(state)
      })
    grouped.select(col("query_id"), col("cands"), selExpr.as("sel"))
      .select(col("query_id"), col("cands"), posexplode(col("sel")).as(Seq("__pos", "s")))
      .select(col("query_id"),
        element_at(col("cands"), col("s.idx") + 1).getField("id").as("corpus_id"),
        col("s.mmr").as("mmr_score"), (col("__pos") + 1).cast("int").as("step"))
  }

  /** Retrieval-quality metrics per query: recall@k (fraction of the
    * truth set retrieved) and MRR (reciprocal rank of the first
    * relevant result; 0 when none) — the evaluation half of the
    * ANN/lexical stack, for measuring what a compressed or approximate
    * index (SQ8, PQ, LSH, RP) gives up against the exact ranking.
    *
    * Inputs are two `(query_id, corpus_id, rank)` lists; metrics are
    * closed-form doubles over exact integers (hit counts and the min
    * matched rank — both from one (query, corpus)-keyed join + a
    * query-keyed aggregate over <= k rows per query), so the values
    * hash-replay in SQL. Queries present in `truth` but retrieving
    * nothing still emit a row (recall 0, mrr 0) via the right join. */
  def retrievalMetrics(
      results: DataFrame,
      truth: DataFrame,
      k: Int
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val res = results.where(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("rank"))
    val tr = truth.select(col("query_id"), col("corpus_id"))
    val truthSizes = tr.groupBy("query_id").agg(count(lit(1)).as("__n_truth"))
    val hits = res.join(tr, Seq("query_id", "corpus_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("__n_hits"), min("rank").as("__first_rank"))
    truthSizes.join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("__n_hits"), lit(0L)).cast("double") / col("__n_truth"))
          .as("recall"),
        when(col("__first_rank").isNotNull,
          lit(1.0) / col("__first_rank")).otherwise(lit(0.0)).as("mrr"))
  }

  // ---- scalar quantization (SQ8) -----------------------------------------

  /** Per-dimension SQ8 range parameters: ONE row
    * `(mins: array<double>, widths: array<double>)` with
    * `widths[d] = max_d - min_d`, a projection of the native
    * [[graft.functions.Sq8Stats]] aggregate: `dim` primitive (min, max)
    * pairs per task, map-side combined (shuffle volume: one buffer per
    * map task) — at 100 TB the parameter table is a few KB riding a
    * broadcast, the FAISS `SQ8` train step. Spark `min`/`max` semantics
    * (NaN largest, null elements skipped); NULL vectors drop out; no
    * vector at all gives empty arrays; a non-null vector whose length is
    * not `dim` fails the job (`dim` is enforced, not advisory — a ragged
    * corpus would otherwise yield silently mismatched params). */
  def sq8Params(df: DataFrame, vecCol: String, dim: Int): DataFrame =
    df.select(sq8Stats(col(vecCol), dim).as("s"))
      .select(col("s.mins").as("mins"), col("s.widths").as("widths"))

  /** SQ8 encode: each dimension rounds to its nearest of 256 uniform
    * levels across the corpus range — `code = floor((x-min)/width*255
    * + 0.5)` clamped to [0, 255], degenerate (width 0) dimensions code
    * to 0. A scan-speed projection over a broadcast parameter row: one
    * native [[graft.functions.Sq8Codes]] loop per vector.
    * Codes are logically uint8: parquet dictionary/bit-pack encoding
    * stores the 0..255 int elements at ~1 byte, so the persisted index
    * is ~4x smaller than fp32 (the point of SQ8 — scan bandwidth at
    * probe time), while the in-plan element type stays int. */
  def sq8Encode(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      params: DataFrame
  ): DataFrame =
    df.crossJoin(broadcast(params))
      .select(col(idCol).as("id"),
        sq8Codes(col(vecCol), col("mins"), col("widths"), shifted = false).as("codes"))

  /** The native [[graft.functions.Sq8Codes]] encode of a vector column:
    * `int` codes 0..255, or with `shifted` the 1-byte `code - 128`
    * elements the quantized kNN ships (8x under `double` in Tungsten
    * rows, the payload cut its verify joins exist to exploit). */
  private def sq8Codes(vec: Column, mins: Column, widths: Column, shifted: Boolean): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.Sq8Codes(
      ColumnBridge.expression(vec.cast("array<double>")), ColumnBridge.expression(mins),
      ColumnBridge.expression(widths), shifted))
  }

  /** Asymmetric SQ8 top-k: full-precision queries score against
    * DEQUANTIZED codes (`x_hat = min + code*width/255`) — the classic
    * asymmetric-distance setup (query exact, corpus compressed). Same
    * broadcast-query brute scorer shape (and the same small-query-set
    * bound) as [[topKForQueries]], but the corpus side reads the 4x
    * smaller code table; compose with the LSH/IVF candidate stages for
    * bulk query sets exactly as the exact scorer does.
    * Output: `(query_id, corpus_id, cosine, rank)` where cosine is the
    * ADC estimate — every double op is closed-form replayable. */
  def sq8TopKForQueries(
      codes: DataFrame,
      params: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qvec"))
    val dequant = codes.crossJoin(broadcast(params))
      .select(col("id").as("corpus_id"),
        transform(col("codes"), (c, i) =>
          element_at(col("mins"), i + 1) +
            c.cast("double") * element_at(col("widths"), i + 1) / lit(255.0)).as("cvec"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("corpus_id").asc)
    dequant.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("cvec"), col("qvec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }

  /** Embedding outlier scores — the embedding-space quality gate: rows
    * whose vector sits far from the corpus centroid are OCR garbage,
    * wrong-modality mixups, or encoder failures, and flagging them is
    * the standard pre-training screen BEFORE any ANN index is built
    * over the column. Score = squared distance to the corpus mean in
    * quantized micro-units; flag = z-score of that distance against the
    * corpus's own distance distribution (the [[graft.operators.Sessionize]]
    * `hourlyCountAnomalies` integer-sums rule, embedding flavor).
    *
    * Exactness: each element quantizes to `floor((x+8)*1e6 + 0.5)` —
    * the corpus contract is elements in (-8, 8), ENFORCED by a loud
    * driver `require` on the same pass that computes the mean (the
    * shift keeps every quantized value positive, so the per-dimension
    * integer mean `sum div n` is floor division in ANY engine — `div`
    * truncates toward zero, `//` floors; they only agree above zero,
    * and the shift cancels in the differences). d2 is an exact long
    * (bounded by dim * (16e6)^2 ~ 1.6e16 at dim 64); its corpus sums
    * are DECIMAL(38,0) (the centered squared sum overflows a long by
    * design headroom, and a genuine 38-digit overflow fails loudly
    * under ANSI instead of wrapping). Variance comes from CENTERED
    * integer sums — Σ(d2−mq)² around the floor-div quantized mean —
    * never the cancellation-prone E[x²]−E[x]² form, so zero spread is
    * an exact integer fact (rows then carry z NULL / is_outlier false
    * rather than vanishing). The z expression is one closed-form
    * double per row over those exact integers — identical IEEE op
    * order in any engine, so the hash gate pins it (rounded to 6dp).
    *
    * Scale shape: two corpus passes, both unavoidable for an exact
    * mean — (1) one posexplode + 64-key map-side-combined aggregate
    * (shuffle volume: tasks x dim rows) whose dim-row result is a
    * BOUNDED driver artifact (the centroid-collect precedent); (2) one
    * scan-speed projection computing d2 against the mean as a plan
    * literal, checkpointed at 2 longs/row so the two 1-row stat
    * aggregates (count+sum, then the centered squared sum) and the
    * final z projection scan the small checkpoint, not the vectors.
    * No corpus-sized shuffle anywhere; ragged vectors raise_error,
    * null vectors are dropped (the sq8Params contract). */
  def outlierScores(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      zThreshold: Double = 2.5
  ): DataFrame = {
    require(dim > 0, s"dim must be > 0, got $dim")
    require(zThreshold > 0, s"zThreshold must be > 0, got $zThreshold")
    val checked = when(col(vecCol).isNull, lit(null).cast("array<double>"))
      .when(size(col(vecCol)) === dim,
        col(vecCol).cast("array<double>"))
      .otherwise(raise_error(concat(
        lit(s"outlierScores: expected dim=$dim vectors, got size="),
        size(col(vecCol)).cast("string"))))
    val rows = df.select(col(idCol), checked.as("__v"))
      .where(col("__v").isNotNull)
    // pass 1: per-dimension quantized sums (+ the range guard) — dim
    // rows to the driver, floor-divided there into the mean vector
    val perDim = rows
      .select(posexplode(col("__v")).as(Seq("__pos", "__x")))
      .select(col("__pos"), col("__x"),
        floor((col("__x") + lit(8.0)) * lit(1e6) + lit(0.5)).cast("long").as("__xq"))
      .groupBy("__pos")
      .agg(count(lit(1)).as("__n"), sum("__xq").as("__s"),
        min("__x").as("__mn"), max("__x").as("__mx"))
      .orderBy("__pos")
      .collect()
    require(perDim.length == dim, s"outlierScores: no rows with dim=$dim vectors")
    val lo = perDim.map(_.getAs[Double]("__mn")).min
    val hi = perDim.map(_.getAs[Double]("__mx")).max
    require(lo > -8.0 && hi < 8.0,
      s"outlierScores: elements must lie in (-8, 8), saw [$lo, $hi]")
    val n = perDim.head.getAs[Long]("__n")
    val meanQ: Seq[Long] =
      perDim.map(r => Math.floorDiv(r.getAs[Long]("__s"), n)).toSeq
    // pass 2: d2 against the literal mean (computed ONCE —
    // localCheckpoint holds the 2-long rows so the three stat/output
    // scans below never re-run the zip_with fold), then variance from
    // CENTERED sums: Σ(d2 − mq)² with mq = s1 div cn the floor-div
    // quantized mean. The earlier E[x²]−E[x]² form cancels
    // catastrophically when the spread is tiny relative to mean d2 and
    // can go non-positive in doubles; the centered sum is an exact
    // non-negative integer that is zero IFF every d2 equals mq — so
    // "no spread" is detected exactly, not by a float sign test.
    val dec = "decimal(38,0)"
    val quantized = rows.select(col(idCol),
      transform(col("__v"),
        x => floor((x + lit(8.0)) * lit(1e6) + lit(0.5)).cast("long")).as("__vq"))
    val scored = quantized.select(col(idCol),
      aggregate(
        zip_with(col("__vq"), typedLit(meanQ), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, e) => acc + e).as("d2"))
      .localCheckpoint(true)
    val stats1 = scored.agg(
      count(lit(1)).as("__cn"), sum(col("d2").cast(dec)).as("__s1"))
    // (d2 − mq) fits a long by construction (both bounded by dim·(16e6)²);
    // the squared sum goes DECIMAL for the same 38-digit headroom as before
    val ctr = col("d2") - expr("__s1 div __cn")
    val stats2 = scored.crossJoin(broadcast(stats1))
      .agg(sum(ctr.cast(dec) * ctr.cast(dec)).as("__vs"))
    val mu = col("__s1").cast("double") / col("__cn")
    val z = (col("d2").cast("double") - mu) /
      sqrt(col("__vs").cast("double") / col("__cn"))
    // degenerate spread (__vs = 0: all-identical vectors, n = 1) emits
    // every row with z NULL / is_outlier false — "no rows" is never a
    // silent synonym for "no outliers"
    val out = scored.crossJoin(broadcast(stats1)).crossJoin(broadcast(stats2))
      .select(col(idCol), col("d2"),
        when(col("__vs") > 0, round(z, 6)).as("z"),
        when(col("__vs") > 0, z >= lit(zThreshold))
          .otherwise(lit(false)).as("is_outlier"))
    out
  }

  /** k-occurrence hubness over a kNN edge list (Radovanovic et al.
    * 2010, "Hubs in Space", public): for every node, how many OTHER
    * nodes list it among their top-k — the standard
    * curse-of-dimensionality diagnostic over an embedding column. A
    * healthy space has k-occurrence concentrated near k; a hubby one
    * grows a long tail of super-hubs (nodes in thousands of kNN
    * lists) plus a mass of anti-hubs (k-occurrence 0) — and hubs
    * distort every downstream consumer (SemDeDup clusters collapse
    * into hubs, LPA communities over-merge, diversity sampling
    * over-picks them). Anti-hubs are kept via the `nodes` spine
    * left-join — a rollup over edges alone silently drops exactly the
    * rows that diagnose the pathology.
    *
    * Scale shape: one map-side-combined count over the edge list
    * (n·k rows) + one broadcast-free equi-join against the node
    * spine; nothing touches vectors. Compose with [[knnGraph]] /
    * [[knnGraphQuantized]] output (`id`/`nbr` columns). */
  def hubness(edges: DataFrame, nodes: DataFrame, idCol: String): DataFrame = {
    val occ = edges.groupBy(col("nbr").as("__n"))
      .agg(count(lit(1)).as("k_occurrence"))
    nodes.select(col(idCol).as("node"))
      .join(occ, col("node") === col("__n"), "left")
      .select(col("node"),
        coalesce(col("k_occurrence"), lit(0L)).as("k_occurrence"))
  }

  /** Hub-capped kNN edges — the remedy for what [[hubness]] diagnoses
    * (Radovanovic et al. 2010: hubs distort every neighborhood-based
    * downstream — here, a hub node glues unrelated semantic
    * communities into one LPA blob): keep at most `maxOcc` INCOMING
    * edges per neighbor, the highest-cosine ones (ties id asc, so the
    * cut is deterministic and hash-replayable). Nodes under the cap
    * are untouched; k_occurrence after capping is <= maxOcc by
    * construction. Input/output schema is the [[knnGraph]] edge list
    * `(id, nbr, cosine, rank)` — rank keeps ITS meaning (position in
    * id's top-k), so a capped list is still "each node's top-k, minus
    * the edges its over-subscribed neighbors rejected".
    *
    * Scale shape: one `nbr`-keyed row_number window — the same
    * exchange the [[hubness]] rollup takes, with the window partition
    * bounded by the worst k-occurrence (itself <= n·k/1). No joins, no
    * vector payloads. */
  def capHubEdges(edges: DataFrame, maxOcc: Int): DataFrame = {
    require(maxOcc >= 1, s"maxOcc must be >= 1, got $maxOcc")
    val w = Window.partitionBy("nbr")
      .orderBy(col("cosine").desc, col("id").asc)
    edges.withColumn("__occ", row_number().over(w))
      .where(col("__occ") <= maxOcc)
      .drop("__occ")
  }

  /** Mutual-kNN edges — the stricter hubness remedy: keep (id, nbr)
    * only when nbr also lists id (a hub is, by definition, listed by
    * far more nodes than its own k can reciprocate, so its spurious
    * edges drop out). Output keeps id's row `(id, nbr, cosine, rank)`
    * for every surviving directed edge; the surviving set is symmetric
    * as a NODE-PAIR set by construction. One self-equi-join on the
    * reversed key pair, ids only (left_semi — no payload doubling). */
  def mutualKnnEdges(edges: DataFrame): DataFrame = {
    val rev = edges.select(col("nbr").as("id"), col("id").as("nbr"))
    edges.join(rev, Seq("id", "nbr"), "left_semi")
  }

  /** Per-dimension embedding drift between two snapshots — the
    * encoder-regression gate: re-embedding a corpus with a changed
    * model (or a broken preprocessing step) shifts per-dimension
    * means long before any downstream metric notices, and comparing
    * means is scan-cheap where comparing neighbor structures is not.
    * One row per dimension: `(pos, mean_old_micro, mean_new_micro,
    * delta_micro)` in the [[outlierScores]] quantization contract —
    * elements must lie in (-8, 8) (ENFORCED per element, raise_error),
    * `floor((x+8)·1e6 + 0.5)` quantization, per-dimension integer
    * mean as floor division (positive by the shift, so `div` and `//`
    * agree), the 8e6 shift subtracted back out so the emitted means
    * are TRUE micro-unit means — every value an exact integer, so the
    * hash oracle replays it and a real drift is never noise. Ragged vectors raise; null
    * vectors drop (the [[sq8Params]] contract).
    *
    * Scale shape: two posexplode scans (one per snapshot), each a
    * dim-key map-side-combined aggregate — shuffle volume tasks×dim
    * rows — joined on the dim-row spine. Nothing corpus-sized ever
    * shuffles. [[embeddingDriftSummary]] rolls the dim rows into the
    * 1-row verdict (centroid cosine + worst shift). */
  def embeddingDrift(
      oldDf: DataFrame,
      newDf: DataFrame,
      vecCol: String,
      dim: Int
  ): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    def meansOf(df: DataFrame, out: String): DataFrame = {
      val checked = when(col(vecCol).isNull, lit(null).cast("array<double>"))
        .when(size(col(vecCol)) === dim, transform(col(vecCol), x => {
          val d = x.cast("double")
          when(abs(d) < lit(8.0), d).otherwise(raise_error(concat(
            lit("embeddingDrift: elements must lie in (-8, 8), got "),
            d.cast("string"))))
        }))
        .otherwise(raise_error(concat(
          lit(s"embeddingDrift: expected dim=$dim vectors, got size="),
          size(col(vecCol)).cast("string"))))
      // the +8 shift keeps every quantized value positive so the
      // integer mean floors identically in any engine — and is
      // subtracted back out, so the emitted means are TRUE means in
      // micro units (a constant shift would otherwise dominate the
      // centroid cosine and blind the summary)
      df.select(posexplode(checked).as(Seq("pos", "__x")))
        .select(col("pos"),
          floor((col("__x") + lit(8.0)) * lit(1e6) + lit(0.5))
            .cast("long").as("__xq"))
        .groupBy("pos")
        .agg(sum("__xq").as("__s"), count(lit(1)).as("__n"))
        .select(col("pos"),
          (expr("__s div __n") - lit(8000000L)).as(out))
    }
    meansOf(oldDf, "mean_old_micro")
      .join(meansOf(newDf, "mean_new_micro"), Seq("pos"))
      .select(col("pos"), col("mean_old_micro"), col("mean_new_micro"),
        (col("mean_new_micro") - col("mean_old_micro")).as("delta_micro"))
      .orderBy("pos")
  }

  /** 1-row rollup of [[embeddingDrift]]: `(n_dims, centroid_cosine,
    * max_abs_delta_micro)` — the cosine between the two quantized mean
    * vectors (DECIMAL-exact moment sums, THREE double ops at the end
    * in the [[cosine]] association) plus the worst per-dimension
    * shift. centroid_cosine ~ 1 and a small max shift = same encoder;
    * either moving is the drift alarm. */
  def embeddingDriftSummary(
      oldDf: DataFrame,
      newDf: DataFrame,
      vecCol: String,
      dim: Int
  ): DataFrame = {
    val dec = "decimal(38,0)"
    embeddingDrift(oldDf, newDf, vecCol, dim)
      .agg(
        count(lit(1)).as("n_dims"),
        sum(col("mean_old_micro").cast(dec) * col("mean_new_micro").cast(dec))
          .as("__dot"),
        sum(col("mean_old_micro").cast(dec) * col("mean_old_micro").cast(dec))
          .as("__no"),
        sum(col("mean_new_micro").cast(dec) * col("mean_new_micro").cast(dec))
          .as("__nn"),
        max(abs(col("delta_micro"))).as("max_abs_delta_micro"))
      .select(col("n_dims"),
        round(col("__dot").cast("double") /
          (sqrt(col("__no").cast("double")) * sqrt(col("__nn").cast("double"))), 6)
          .as("centroid_cosine"),
        col("max_abs_delta_micro"))
  }
}
