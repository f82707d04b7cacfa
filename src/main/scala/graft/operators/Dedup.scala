package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CheckpointBridge, ColumnBridge}

/** Document deduplication for large-scale training-data pipelines.
  *
  * Exact dedup is a hash group-by (one shuffle, map-side combined).
  * Near-dup has three scale paths, all shuffle-bounded by candidate pairs
  * rather than n^2:
  *   - word/shingle-set Jaccard via an inverted-index self-join,
  *   - MinHash + LSH banding (shingle -> minhash signature -> band buckets
  *     -> bucket join -> exact-signature Jaccard confirm),
  *   - SimHash (64-bit, hamming-bucket by band).
  *
  * Everything is `functions._` column algebra or a native Catalyst
  * kernel (codegen'd) — no UDFs. Token hashing uses `xxhash64`, seeded
  * per hash function, so signatures are deterministic across runs and
  * cluster layouts.
  *
  * The pair operators are compositions of a few shared stages, each
  * written once: [[shingleIndex]] (the inverted `(id, set_size,
  * shingle)` rows), `capDf` (the `maxDf` hot-key cap), `sharedCounts`
  * (the shared-shingle self-join count), `probeCounts` (a batch probed
  * against a corpus index), and `minHashes` / `bandCandidates` (the
  * MinHash signature projection and its LSH band join). Each pair operator
  * checkpoints the index or signature table its join sides share
  * (`localCheckpoint`) when the DataFrame is built, so a Spark job runs
  * at construction time; there is no lazy mode.
  */
object Dedup {

  /** Exact duplicates: group rows by the md5 of `textCol`; keep the minimum
    * id as the canonical representative. One hash-aggregate shuffle whose
    * volume is the number of *distinct* texts (map-side combine). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Materialize a deduplicated corpus from a near-duplicate pair list:
    * drop every id that appears on the RIGHT of any pair (pairs are
    * emitted with id_a < id_b by all the pair operators here) — the
    * standard one-pass greedy used by large-scale pipelines, as one
    * broadcast-friendly left-anti join. The drop is unconditional: in an
    * a~b, b~c chain with no a~c pair, BOTH b and c are dropped even though
    * c's only witness b did not survive — the greedy over-deletes relative
    * to transitive clustering, trading a little recall for avoiding the
    * iterative connected-components pass exact clustering would need. */
  def dropDuplicatePairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Witness-exact dedup materialization: keep the lexicographically-first
    * MAXIMAL INDEPENDENT SET of the near-dup pair graph — a doc is dropped
    * only when a KEPT smaller doc witnesses it as a near-dup. Fixes the
    * greedy's over-deletion: in an a~b, b~c chain with no a~c pair, the
    * greedy drops both b and c, but c's only witness b did not survive, so
    * this keeps c (every dropped doc has a kept near-duplicate).
    *
    * Distributed simulation of the sequential scan-in-id-order greedy,
    * GraphFrames-free: each round (1) drops undecided nodes adjacent to a
    * kept node, (2) keeps undecided nodes with no smaller undecided
    * neighbor. Rounds needed = length of the longest dependency chain
    * (graph diameter bound); each round is two shuffles over the PAIR
    * graph only (orders of magnitude smaller than the corpus), with the
    * frontier state checkpointed to keep plans flat. Docs outside the pair
    * graph never enter the loop and are kept unconditionally. */
  def dropDuplicatePairsExact(
      df: DataFrame, idCol: String, pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .localCheckpoint(true)
    var und = edges.select(col("u").as("id")).distinct().localCheckpoint(true)
    // only the PREVIOUS round's newly-kept nodes can witness new drops
    // (older kept nodes' undecided neighbors were dropped the round after
    // those nodes were kept), so the drop join runs against the frontier,
    // not the cumulative kept set
    var keptFrontier = und.limit(0).localCheckpoint(true)
    var dropped = und.limit(0).localCheckpoint(true)
    var remaining = und.count()
    var iter = 0
    while (remaining > 0) {
      if (iter >= maxIter)
        throw new IllegalStateException(
          s"dropDuplicatePairsExact: no convergence after $maxIter rounds ($remaining undecided)")
      val (prevUnd, prevKept, prevDropped) = (und, keptFrontier, dropped)
      // (1) undecided nodes witnessed by a just-kept neighbor are dropped
      val newlyDropped = und
        .join(edges.join(keptFrontier.select(col("id").as("u")), Seq("u"))
          .select(col("v").as("id")), Seq("id"), "left_semi")
      val und1 = und.join(newlyDropped, Seq("id"), "left_anti").localCheckpoint(true)
      // (2) undecided nodes with no smaller undecided neighbor are kept
      val undEdges = edges
        .join(und1.select(col("id").as("u")), Seq("u"))
        .join(und1.select(col("id").as("v")), Seq("v"))
      val minNbr = undEdges.where(col("v") < col("u"))
        .groupBy(col("u").as("id")).agg(min(col("v")).as("__mn"))
      val newlyKept = und1.join(minNbr, Seq("id"), "left_anti")
      keptFrontier = newlyKept.localCheckpoint(true)
      dropped = dropped.unionByName(newlyDropped).localCheckpoint(true)
      und = und1.join(keptFrontier, Seq("id"), "left_anti").localCheckpoint(true)
      remaining = und.count()
      // every checkpoint this round superseded last round's state, whose
      // blocks nothing will read again — release them so a deep run pins
      // O(1) copies of the frontier, not O(rounds)
      Seq(prevUnd, prevKept, prevDropped, und1).foreach(CheckpointBridge.release)
      iter += 1
    }
    // the result reads only the final `dropped` checkpoint
    Seq(edges, und, keptFrontier).foreach(CheckpointBridge.release)
    df.join(dropped.select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** Connected-component labels over the near-dup pair graph: every doc
    * gets `cluster_id` = the minimum doc id reachable from it through
    * pairs (docs outside the pair graph label themselves). Pipelines want
    * this beyond keep/drop — stratified sampling, provenance, picking a
    * per-cluster representative by any policy, cluster-size stats.
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) on the PAIR
    * graph only — each round every node hooks its neighbors onto the
    * minimum of its neighborhood, which at least HALVES every non-star
    * component's height, so the edge set converges to a star forest
    * (child -> component-min root) in O(log n) rounds. This replaces the
    * previous min-label propagation, whose round count was the graph
    * DIAMETER: on the long duplicate chains a 100 TB crawl produces
    * (boilerplate families, near-identical mirror runs) diameter is
    * unbounded while log n is ~40 even at 1e12 docs. Each round is two
    * group-join passes over the edge list (orders of magnitude smaller
    * than the corpus — the [[dropDuplicatePairsExact]] frontier scale
    * argument), checkpointed to keep plans flat; `maxIter` still guards
    * the loop but the log bound means it never binds in practice.
    *
    * The loop stops on an EXACT test, run on the initial edge set and
    * after every round: the canonical `(child > parent)` edge set is a
    * star forest iff no node has two parents and no parent is also a
    * child (one group-by-node aggregate, `isStarForest`). A star forest
    * is the alternation's only fixpoint, and in it every child points at
    * its component minimum, so the labels are read off the edges then.
    * Round counts: pairs that already form stars (disjoint pairs, a star
    * centred on its minimum) run 0 rounds; clique-shaped components
    * (exact-dup groups; this corpus's near-dup components — see the
    * dedup_drop_exact catalog note) run 1, and the result equals the
    * one-join SQL `least(id, min(neighbor id))`, which is what makes a
    * catalog oracle possible. Chains exercise the real contraction and
    * have no single-join SQL twin; chain cases are pinned by DedupSpec
    * and DedupPropertiesSpec instead. */
  def duplicateClusters(
      df: DataFrame, idCol: String, pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // the output column is part of the contract; internal state columns
    // are __dc-prefixed so a corpus that already carries e.g. a `label`
    // column can't make the final join ambiguous
    require(!df.columns.contains("cluster_id"),
      "duplicateClusters: input already has a cluster_id column")
    // canonical child>parent orientation; self-loops and duplicate pairs
    // are normalized away up front so the star test counts parents
    // the INITIAL checkpoint evaluates the caller's whole pair plan (a
    // FastSS join, an inverted-index self-join, ...) and stores its
    // result; serialized storage keeps that unroll from competing with
    // the join's execution memory (the 100x fuzzy_clusters probe OOMed
    // an 8 GB heap with the default deserialized level). The per-round
    // state checkpoints below stay default: they re-read every round
    // and their input plans are the already-materialized edge set.
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("__dc_c"),
        least(col("id_a"), col("id_b")).as("__dc_p"))
      .where(col("__dc_c") =!= col("__dc_p"))
      .distinct()
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    var iter = 0
    while (!isStarForest(edges)) {
      if (iter >= maxIter)
        throw new IllegalStateException(
          s"duplicateClusters: no convergence after $maxIter rounds")
      // ---- large-star: every node attaches its LARGER neighbors to the
      // minimum of its full neighborhood (including itself) ----
      val sym = edges.select(col("__dc_c").as("__dc_u"), col("__dc_p").as("__dc_v"))
        .unionByName(edges.select(col("__dc_p").as("__dc_u"), col("__dc_c").as("__dc_v")))
      val minNbr = sym.groupBy("__dc_u").agg(min("__dc_v").as("__dc_mn"))
        .select(col("__dc_u"), least(col("__dc_u"), col("__dc_mn")).as("__dc_m"))
      val large = sym.where(col("__dc_v") > col("__dc_u"))
        .join(minNbr, Seq("__dc_u"))
        .select(col("__dc_v").as("__dc_c"), col("__dc_m").as("__dc_p"))
        .where(col("__dc_c") =!= col("__dc_p"))
        .distinct()
        .localCheckpoint(true)
      // ---- small-star: every node attaches its SMALLER neighbors (its
      // parents, in this orientation) and itself to their minimum ----
      val minPar = large.groupBy("__dc_c").agg(min("__dc_p").as("__dc_m"))
      val attachParents = large.join(minPar, Seq("__dc_c"))
        .where(col("__dc_p") =!= col("__dc_m"))
        .select(col("__dc_p").as("__dc_c"), col("__dc_m").as("__dc_p"))
      val attachSelf = minPar.select(col("__dc_c"), col("__dc_m").as("__dc_p"))
      val next = attachParents.unionByName(attachSelf)
        .where(col("__dc_c") =!= col("__dc_p"))
        .distinct()
        .localCheckpoint(true)
      // both intermediates are superseded; nothing reads them again
      CheckpointBridge.release(edges)
      CheckpointBridge.release(large)
      edges = next
      iter += 1
    }
    // a star forest: each child has exactly one parent, its component
    // minimum, so the join cannot multiply a corpus row
    val labels = edges.select(col("__dc_c").as(idCol), col("__dc_p").as("__dc_label"))
    df.join(labels, Seq(idCol), "left")
      .select(df.columns.map(col).toIndexedSeq :+
        coalesce(col("__dc_label"), col(idCol)).as("cluster_id"): _*)
  }

  /** Whether a canonical `(__dc_c > __dc_p)` edge set is a star forest:
    * no node has two parents and no parent is also a child. Each edge
    * gives its child a parent count of 1 and its parent a parent flag of
    * 1; a node breaks the star shape iff its count plus its flag exceeds
    * 1. One scan and one group-by-node aggregate, counted on the driver. */
  private def isStarForest(edges: DataFrame): Boolean =
    edges.select(inline(array(
        struct(col("__dc_c").as("__dc_n"), lit(1).as("__dc_up"), lit(0).as("__dc_down")),
        struct(col("__dc_p").as("__dc_n"), lit(0).as("__dc_up"), lit(1).as("__dc_down")))))
      .groupBy("__dc_n").agg((sum("__dc_up") + max("__dc_down")).as("__dc_roles"))
      .where(col("__dc_roles") > 1)
      .agg(count(lit(1))).head().getLong(0) == 0L

  /** Cluster-size distribution of a [[duplicateClusters]] labeling —
    * the release-review audit table: `(cluster_size, n_clusters,
    * n_docs)` per distinct size, ascending. Size-1 rows are the
    * unduplicated mass; a fat tail of large clusters is the signature
    * of boilerplate families and drives the dedup threshold review.
    * Two label-keyed aggregates, each output bounded by distinct sizes
    * — nothing corpus-sized moves after the labeling itself. */
  def clusterSizeHistogram(
      clusters: DataFrame,
      clusterCol: String = "cluster_id"
  ): DataFrame =
    clusters.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .select("cluster_size", "n_clusters", "n_docs")

  /** One representative row per near-dup cluster, chosen by POLICY rather
    * than the keep-minimum-id convention: rank each cluster's members by
    * `better` (e.g. quality score descending) and keep the top row, with
    * the doc id as the deterministic tie-break. This is how curation
    * pipelines actually materialize a deduplicated corpus when a quality
    * signal exists — the min-id greedy keeps whichever duplicate happened
    * to be crawled first.
    *
    * Built on [[duplicateClusters]]; the ranking is a per-cluster window
    * whose partitions are cluster-sized (bounded by the largest near-dup
    * cluster, not the corpus). */
  def clusterRepresentatives(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      better: Seq[Column],
      maxIter: Int = 50
  ): DataFrame = {
    val labeled = duplicateClusters(df, idCol, pairs, maxIter)
    val w = Window.partitionBy("cluster_id")
      .orderBy(better :+ col(idCol).asc: _*)
    labeled
      .withColumn("__rep_rank", row_number().over(w))
      .where(col("__rep_rank") === 1)
      .drop("__rep_rank")
  }

  /** Distinct lowercase whitespace tokens of trimmed `textCol` as an
    * array column.
    *
    * NULL text coalesces to the empty string (one "" token) so every
    * document keeps a signature downstream — without this, exploding a null
    * shingle array emits zero rows and the doc silently vanishes from the
    * minhash/simhash indexes while [[exact]] still groups null texts
    * together (inconsistent null semantics across the dedup operators). */
  def tokenSet(textCol: Column): Column =
    array_distinct(split(lower(trim(coalesce(textCol, lit("")))), "\\s+"))

  /** Word n-gram (shingle) set. n=1 degenerates to the token set.
    * NULL text -> empty string, as in [[tokenSet]].
    *
    * Shape: whitespace-normalize once (codegen'd regexp_replace), then
    * pull every overlapping n-gram with a single zero-width-lookahead
    * regex anchored at token starts — `(?:^|(?<= ))(?=(\S+( \S+){n-1}))`.
    * Replaces the previous `transform(sequence(...), i =>
    * array_join(slice(toks, i+1, n), " "))` formulation: higher-order
    * functions evaluate interpreted per element and dominated the dedup
    * pipelines, while regexp_extract_all stays inside whole-stage
    * codegen. */
  def shingleSet(textCol: Column, n: Int): Column =
    if (n <= 1) tokenSet(textCol)
    else array_distinct(shingleSeq(textCol, n))

  /** Pairwise n-gram Jaccard similarity >= `threshold` via inverted index:
    * explode shingles -> self-join on shingle (only docs sharing a shingle
    * ever meet) -> count common shingles per pair -> |A ∩ B| / |A ∪ B|.
    * Shuffle is keyed by shingle then by pair — no cross join anywhere.
    * At 100 TB, add a document-frequency cap on shingles (stop-shingle
    * removal) to bound the hottest inverted-index keys; `maxDf` does that.
    * The index is checkpointed before the self-join: the shingle
    * computation is the expensive part, and both join sides read it.
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 1,
      threshold: Double = 0.8,
      maxDf: Option[Long] = None
  ): DataFrame =
    sharedCounts(df, idCol, textCol, n, maxDf)
      .withColumn("jaccard", jaccardOf("size_a", "size_b"))
      .where(col("jaccard") >= lit(threshold))
      .select("id_a", "id_b", "jaccard")

  /** `n_common / (|A| + |B| - n_common)` — the one association every
    * Jaccard operator here and its SQL twins use. */
  private def jaccardOf(sizeA: String, sizeB: String): Column =
    col("n_common") / (col(sizeA) + col(sizeB) - col("n_common"))

  /** Per-document shingle sets `(id, sh, set_size)`. */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), shingleSet(col(textCol), n).as("sh"))
      .withColumn("set_size", size(col("sh")))

  /** Drop the rows whose `key` occurs in more than `maxDf` rows — the
    * stop-key cap that bounds the hottest inverted-index keys. */
  private def capDf(rows: DataFrame, key: String, maxDf: Option[Long]): DataFrame =
    maxDf.fold(rows) { cap =>
      val dfreq = rows.groupBy(key).agg(count(lit(1)).as("df")).where(col("df") <= cap)
      rows.join(dfreq.select(key), Seq(key))
    }

  /** Shared-shingle counts of every document pair that shares a shingle:
    * `(id_a, id_b, size_a, size_b, n_common)` with `id_a < id_b`, from one
    * self-join of the checkpointed, `maxDf`-capped [[shingleIndex]]. */
  private def sharedCounts(
      df: DataFrame, idCol: String, textCol: String, n: Int, maxDf: Option[Long]): DataFrame = {
    val inv = capDf(shingleIndex(df, idCol, textCol, n).localCheckpoint(true), "shingle", maxDf)
    val a = inv.select(col("shingle"), col("id").as("id_a"), col("set_size").as("size_a"))
    val b = inv.select(col("shingle"), col("id").as("id_b"), col("set_size").as("size_b"))
    a.join(b, Seq("shingle"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "size_a", "size_b")
      .agg(count(lit(1)).as("n_common"))
  }

  /** [[jaccardPairs]] with PREFIX-FILTERED candidate generation (the
    * all-pairs/PPJoin scheme — Bayardo et al. 2007, Xiao et al. 2008,
    * public): identical output, structurally smaller candidate join.
    *
    * Prefix filtering principle: sort every set by ONE global total
    * order (document frequency ascending, shingle ascending — rarest
    * first) and index only each doc's first `L - floor(t*L) + 1`
    * shingles; any pair with `J >= t` must share an INDEXED shingle
    * (pigeonhole on the `>= ceil(t*L)` required overlap), so the
    * inverted-index self-join runs on ~`(1-t)` of the explode volume
    * and — because hot boilerplate shingles have the HIGHEST df — the
    * hottest keys fall out of the index entirely, the skew `maxDf` cap
    * solves by truncation solved instead by construction, exactly.
    * (`floor` rather than the paper's `ceil` spends <= 1 extra prefix
    * token to stay conservative under IEEE rounding of `t*L`.)
    * A length filter (`min >= t*max - 1`, one-token slack for the same
    * reason) prunes size-incompatible survivors before the distinct.
    *
    * Verification joins the candidate pairs back to the per-doc shingle
    * ARRAYS and intersects in-row — the shuffle carries arrays only for
    * candidate-involved docs, not the corpus. Exactness is spec-pinned
    * differentially against [[jaccardPairs]] and the catalog entry
    * shares the plain entry's DuckDB oracle. */
  def jaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 1,
      threshold: Double = 0.8
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val sets = shingleSets(df, idCol, textCol, n).localCheckpoint(true)
    val inv = invert(sets)
    val dfreq = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
    val prefixLen =
      (col("set_size") - floor(lit(threshold) * col("set_size")) + 1).cast("int")
    val prefix = inv.join(dfreq, Seq("shingle"))
      .withColumn("__rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("df"), col("shingle"))))
      .where(col("__rnk") <= prefixLen)
    val a = prefix.select(col("shingle"), col("id").as("id_a"), col("set_size").as("size_a"))
    val b = prefix.select(col("shingle"), col("id").as("id_b"), col("set_size").as("size_b"))
    val cand = a.join(b, Seq("shingle"))
      .where(col("id_a") < col("id_b"))
      .where(least(col("size_a"), col("size_b")) >=
        lit(threshold) * greatest(col("size_a"), col("size_b")) - lit(1.0))
      .select("id_a", "id_b").distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("__sh_a"),
        col("set_size").as("size_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("__sh_b"),
        col("set_size").as("size_b")), Seq("id_b"))
      .withColumn("n_common", size(array_intersect(col("__sh_a"), col("__sh_b"))))
      .withColumn("jaccard", jaccardOf("size_a", "size_b"))
      .where(col("jaccard") >= lit(threshold))
      .select("id_a", "id_b", "jaccard")
  }

  /** Per-document cross-corpus duplication score — the memorization-risk
    * signal (Lee et al. 2022, Carlini et al. 2022: duplicated training
    * text is what models regurgitate): for each document, the fraction
    * of its DISTINCT n-gram shingles that also occur in at least
    * `minDf - 1` OTHER documents. Unlike the pair operators this never
    * asks "which neighbor" — it is a per-doc scalar for filtering or
    * down-weighting, so the plan needs no self-join at all.
    *
    * Scale shape: explode shingles once (the same codegen'd
    * [[shingleSet]] recipe as [[jaccardPairs]]), ONE map-side-combined
    * aggregate keyed by shingle for the document frequencies, one
    * equi-join of the (doc, shingle) rows against that df table (build
    * side is one row per distinct shingle — a hot shingle is heavy on
    * the PROBE side only, which sort-merge streams), and one aggregate
    * keyed by doc. No candidate pairs, no quadratic term anywhere, so
    * no `maxDf` cap is needed — this is the cheap pre-screen that can
    * run on the full corpus before any pair operator does.
    *
    * Output `(doc_id, n_shingles, n_dup_shingles, dup_frac)`;
    * `dup_frac` = n_dup/n_shingles, one IEEE division then round(6). */
  def duplicationScores(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minDf: Long = 2L
  ): DataFrame = {
    require(minDf >= 2L, s"minDf must be >= 2 (a doc always contains itself), got $minDf")
    // checkpointed: the index feeds both the df table and the probe side
    val inv = shingleIndex(df, idCol, textCol, n).localCheckpoint(true)
    val dfreq = inv.groupBy("shingle").agg(count(lit(1)).as("sh_df"))
    inv.join(dfreq, Seq("shingle"))
      .groupBy(col("id").as("doc_id"), col("set_size").cast("long").as("n_shingles"))
      .agg(sum(when(col("sh_df") >= minDf, 1L).otherwise(0L)).as("n_dup_shingles"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup_shingles"),
        round(col("n_dup_shingles") / col("n_shingles"), 6).as("dup_frac"))
  }

  /** Asymmetric containment near-dup: directed pairs where
    * `containment(sub in super) = |sub ∩ super| / |sub| >= threshold`
    * over n-gram shingle sets. The subset-duplication detector symmetric
    * Jaccard structurally misses: a 40-token excerpt inside a 4000-token
    * document has containment 1.0 but Jaccard ~0.01 — exactly the
    * quoted-reply / excerpt / wrapped-license shape (Lee et al. 2022's
    * motivation for substring dedup, at shingle-set granularity).
    *
    * Same plan as [[jaccardPairs]] — one inverted-index self-join, no
    * cartesian, `maxDf` hot-shingle cap — with both directed
    * containments derived from each UNordered candidate pair (no second
    * join; the union doubles only the bounded candidate table). Output:
    * `(id_sub, id_super, containment)`. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 1,
      threshold: Double = 0.8,
      maxDf: Option[Long] = None
  ): DataFrame = {
    val pairs = sharedCounts(df, idCol, textCol, n, maxDf)
    pairs.select(col("id_a").as("id_sub"), col("id_b").as("id_super"),
        (col("n_common") / col("size_a")).as("containment"))
      .unionByName(pairs.select(col("id_b").as("id_sub"), col("id_a").as("id_super"),
        (col("n_common") / col("size_b")).as("containment")))
      .where(col("containment") >= lit(threshold))
  }

  /** Incremental near-dup check: exact n-gram Jaccard pairs between an
    * INCOMING batch and the EXISTING corpus — the production ingestion
    * shape ([[jaccardPairs]] dedups a corpus against itself; this keeps
    * an already-deduped corpus clean as new data arrives, without ever
    * re-pairing the corpus with itself).
    *
    * Dataflow: both sides shingle into inverted-index rows; with
    * `broadcastBatch` (default) the batch index BROADCASTS onto the
    * corpus index — the 100 TB corpus never shuffles, the whole check
    * is one scan of the corpus shingles against an in-memory hash map
    * (an ingest batch is MBs against a corpus of TBs; the same
    * asymmetry Decontamination exploits for benchmark probes). Set it
    * false when the "batch" is itself corpus-sized and a shuffle join
    * is the right plan. Candidate cardinality is bounded by shared
    * shingles, never |batch| x |corpus|.
    *
    * Output: (id_new, id_corpus, jaccard >= threshold). Pairs WITHIN
    * the new batch are not emitted — run [[jaccardPairs]] on the batch
    * for that (cheap: the batch is small).
    */
  def jaccardPairsAgainst(
      newDf: DataFrame,
      corpusDf: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 1,
      threshold: Double = 0.8,
      broadcastBatch: Boolean = true
  ): DataFrame =
    jaccardPairsAgainstIndex(newDf, shingleIndex(corpusDf, idCol, textCol, n),
      idCol, textCol, n, threshold, broadcastBatch)

  /** Incremental ASYMMETRIC-containment check: directed shingle
    * containment between an INCOMING batch and the EXISTING corpus —
    * the excerpt-detection twin of [[jaccardPairsAgainst]] (which the
    * symmetric measure structurally misses: a 40-token quote of a
    * 4000-token corpus doc has containment ~1.0 but Jaccard ~0.01).
    * Production question, both directions at once: "is this new doc an
    * excerpt of something we already have" (`containment_new` high) and
    * "does this new doc wrap something we already have"
    * (`containment_corpus` high).
    *
    * Same dataflow as [[jaccardPairsAgainst]] — batch index broadcast
    * onto the corpus index, corpus never shuffles, candidates bounded
    * by shared shingles — with BOTH directed containments derived from
    * each candidate (no second join). Output
    * `(id_new, id_corpus, containment_new, containment_corpus)` where
    * `containment_new = |new ∩ corpus| / |new|` etc.; a pair survives
    * when EITHER direction reaches `threshold`. */
  def containmentPairsAgainst(
      newDf: DataFrame,
      corpusDf: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 1,
      threshold: Double = 0.8,
      broadcastBatch: Boolean = true
  ): DataFrame =
    probeCounts(newDf, shingleIndex(corpusDf, idCol, textCol, n),
        idCol, textCol, n, broadcastBatch)
      .withColumn("containment_new", col("n_common") / col("size_new"))
      .withColumn("containment_corpus", col("n_common") / col("size_corpus"))
      .where(greatest(col("containment_new"), col("containment_corpus")) >= lit(threshold))
      .select("id_new", "id_corpus", "containment_new", "containment_corpus")

  /** The standing corpus's inverted shingle index as ROWS — one
    * (shingle, id, set_size) row per (document, distinct n-gram). This is
    * exactly the corpus side [[jaccardPairsAgainst]] derives on every
    * ingest batch; materializing it once (through
    * [[graft.sources.IndexStore.writeBucketed]], bucketed by `shingle`)
    * turns the per-batch full-corpus re-shingling scan into a parquet
    * read whose output partitioning already satisfies the candidate
    * join. At 100 TB the index is written when the corpus is, and every
    * subsequent ingest batch probes storage. */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    invert(shingleSets(df, idCol, textCol, n))

  /** [[shingleIndex]] rows `(id, set_size, shingle)` of a [[shingleSets]]
    * frame — the one explode of a shingle set into the inverted index. */
  private def invert(sets: DataFrame): DataFrame =
    sets.select(col("id"), col("set_size"), explode(col("sh")).as("shingle"))

  /** [[jaccardPairsAgainst]] with the corpus side supplied as a
    * PRE-BUILT inverted index (the [[shingleIndex]] schema, normally an
    * [[graft.sources.IndexStore]] read-back of a bucketed table). Only
    * the incoming batch is shingled; the corpus contributes a columnar
    * scan of (shingle, id, set_size) — no text read, no regex, no
    * explode, and (bucketed by shingle) no exchange even under a
    * shuffle join. Output is identical to [[jaccardPairsAgainst]] on
    * the corpus the index was built from; DedupIndexSpec asserts both
    * the parity and the plan shape. */
  def jaccardPairsAgainstIndex(
      newDf: DataFrame,
      corpusIndex: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 1,
      threshold: Double = 0.8,
      broadcastBatch: Boolean = true
  ): DataFrame = {
    // Scan-pruning non-result (r7, measured in ScalingProbe): pushing
    // the batch's distinct shingles down as a literal IN filter on the
    // index scan — hoping for parquet row-group pruning off the
    // sortBy(shingle) layout — ran 20x SLOWER than the plain full
    // columnar scan (16.5 s vs 0.8 s for a 500-doc batch): a ~26k-value
    // In expression dominates planning and per-row-group evaluation,
    // and a realistic batch's shingle set touches every row group
    // anyway. The full index scan IS the right per-batch cost here;
    // it is columnar, regex-free, and already 1.4x faster than
    // re-shingling at 1x corpus with a flat 1x -> 10x curve.
    probeCounts(newDf, corpusIndex, idCol, textCol, n, broadcastBatch)
      .withColumn("jaccard", jaccardOf("size_new", "size_corpus"))
      .where(col("jaccard") >= lit(threshold))
      .select("id_new", "id_corpus", "jaccard")
  }

  /** Shared-shingle counts of an incoming batch against a corpus index
    * in the [[shingleIndex]] schema: `(id_new, id_corpus, size_new,
    * size_corpus, n_common)` for every pair sharing a shingle. With
    * `broadcastBatch` the batch index broadcasts onto the corpus scan,
    * so the corpus never shuffles. */
  private def probeCounts(
      newDf: DataFrame,
      corpusIndex: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      broadcastBatch: Boolean
  ): DataFrame = {
    val batch0 = shingleIndex(newDf, idCol, textCol, n)
      .select(col("shingle"), col("id").as("id_new"), col("set_size").as("size_new"))
    val batch = if (broadcastBatch) broadcast(batch0) else batch0
    corpusIndex
      .select(col("shingle"), col("id").as("id_corpus"), col("set_size").as("size_corpus"))
      .join(batch, Seq("shingle"))
      .groupBy("id_new", "id_corpus", "size_new", "size_corpus")
      .agg(count(lit(1)).as("n_common"))
  }

  /** Exact-dedup ingest gate via a Bloom filter of corpus fingerprints:
    * returns the ingest-batch rows whose normalized-content fingerprint
    * ([[graft.functions.TextFunctions.fingerprint]]) does NOT appear in
    * the standing corpus — semantics identical to a plain anti-join, but
    * with the corpus-scale work replaced by an in-memory bit probe.
    *
    * The production shape at 100 TB: the filter is built ONCE per corpus
    * epoch with Spark's distributed `stat.bloomFilter` aggregate (bits
    * only on the driver — ~1.2 GB for 1e9 fingerprints at 1% fpp) and
    * broadcast; each batch row pays one hash probe. Definite negatives
    * (the (1 - fpp) majority of genuinely-new docs) never touch the
    * corpus again. Bloom POSITIVES are maybe-present, so an exact
    * confirm pass keeps the result exact: the maybe fingerprints (a
    * `fpp`-bounded sliver of the batch) broadcast onto one corpus
    * fingerprint SCAN — a semi-join probe, the corpus never shuffles —
    * and only confirmed-absent maybes survive. The probe itself is a
    * Scala UDF by necessity (`BloomFilter.mightContain` has no
    * expression form); it is one xxhash-style bit test per row,
    * outside every join.
    *
    * `expectedItems` sizes the filter; it defaults to a corpus
    * `count()` — when absent the fingerprint projection is cached for
    * the count + filter-build pair so the corpus text is fingerprinted
    * once, not twice (pass the known corpus size at scale and skip the
    * cache entirely).
    *
    * The result is evaluated eagerly (localCheckpoint) so the
    * ~`n`-item bloom broadcast is DESTROYED before returning — at the
    * documented scale the filter bits are ~1.2 GB, and per-epoch calls
    * would otherwise accumulate them on the driver and every executor
    * until session death. */
  def newDocsViaBloom(
      newDf: DataFrame,
      corpusDf: DataFrame,
      idCol: String,
      textCol: String,
      fpp: Double = 0.01,
      expectedItems: Option[Long] = None
  ): DataFrame = {
    import graft.functions.TextFunctions
    val corpusFp0 = corpusDf.select(TextFunctions.fingerprint(col(textCol)).as("__fp"))
    // sizing pass + filter-build pass both read the fingerprints: cache
    // the projection between them rather than fingerprinting the corpus
    // text twice (only needed when the caller didn't supply the size)
    val cacheFp = expectedItems.isEmpty
    val corpusFp = if (cacheFp) corpusFp0.persist() else corpusFp0
    val n = math.max(1L, expectedItems.getOrElse(corpusFp.count()))
    val bloom = corpusFp.stat.bloomFilter("__fp", n, fpp)
    val bc = newDf.sparkSession.sparkContext.broadcast(bloom)
    // native codegen probe (r19 verdict #7) — this was the repo's last
    // Scala UDF; see BloomMightContainString's scaladoc for the parity
    // argument (mightContainString == mightContainBinary over UTF-8)
    val mightContain = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.BloomMightContainString(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("__fp")), bc))
    val batch = newDf
      .withColumn("__fp", TextFunctions.fingerprint(col(textCol)))
      .withColumn("__maybe", mightContain)
    val definitelyNew = batch.where(!col("__maybe"))
    // exact confirm for the fpp sliver: broadcast the maybe fingerprints
    // onto ONE corpus scan (semi probe), then keep unconfirmed maybes
    val maybes = batch.where(col("__maybe"))
    val present = corpusFp
      .join(broadcast(maybes.select("__fp").distinct()), Seq("__fp"))
      .distinct()
    val confirmedNew = maybes.join(broadcast(present), Seq("__fp"), "left_anti")
    // evaluate now (probe + confirm scan), then free the bloom bits and
    // the fingerprint cache — the checkpointed result reads neither
    val pinned = definitelyNew.unionByName(confirmedNew).drop("__fp", "__maybe")
      .localCheckpoint(true)
    bc.destroy()
    if (cacheFp) corpusFp.unpersist(blocking = false)
    pinned
  }

  /** POSITIONAL word k-grams of trimmed lowered `textCol` — like
    * [[shingleSet]] but order-preserving and WITH duplicates (winnowing
    * needs the gram sequence, not the set). Short docs (< k tokens)
    * collapse to one whole-text gram; NULL text -> empty string. */
  def shingleSeq(textCol: Column, k: Int): Column = {
    val norm = regexp_replace(lower(trim(coalesce(textCol, lit("")))), "\\s+", " ")
    val toks = split(norm, " ")
    val pat = "(?:^|(?<= ))(?=(" + Seq.fill(k)("\\S+").mkString(" ") + "))"
    when(size(toks) >= k, regexp_extract_all(norm, lit(pat), lit(1)))
      .otherwise(array(array_join(toks, " ")))
  }

  /** Winnowed document fingerprints (the MOSS scheme): hash every
    * positional k-gram, slide a window of `w` hashes, keep each window's
    * minimum, emit the distinct selected hashes per document — one row per
    * (id, fingerprint). Any shared substring of at least w + k - 1 tokens
    * between two documents is GUARANTEED to share a fingerprint
    * (winnowing's coverage property), which is what makes this the robust
    * partial-overlap detector: unlike the whole-document
    * [[graft.functions.TextFunctions.fingerprint]], a plagiarized
    * paragraph inside an otherwise different document still collides.
    *
    * Columnar-engine note on "rolling" hashes: Rabin-Karp's incremental
    * update is a scalar-loop optimization; under codegen each k-gram is
    * hashed directly (same fingerprints, no sequential dependency). The
    * sliding min is a per-document ordered window — partition size is
    * bounded by the document's token count, so the operator scales with
    * corpus size by documents, not by any global dimension. Ties inside a
    * window (equal min at several positions) collapse in the final
    * distinct, so no robust-winnowing tie rule is needed.
    *
    * `tokHash`: xxhash64 default; pass [[md5TokenHash60]] for the
    * SQL-twin flavor (exactly the simhash60 move — every stage then
    * reproduces in DuckDB for oracle checks). */
  def winnowedFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      tokHash: Column => Column = c => xxhash64(c)
  ): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowedFingerprints: k=$k, w=$w must be >= 1")
    val grams = df.select(col(idCol).as("id"),
      posexplode(shingleSeq(col(textCol), k)).as(Seq("pos", "gram")))
      .select(col("id"), col("pos"), tokHash(col("gram")).as("h"))
    val win = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(-(w - 1), Window.currentRow)
    grams
      .withColumn("fp", min(col("h")).over(win))
      // full windows only — except each doc's last window, kept so docs
      // shorter than w tokens still carry at least one fingerprint.
      // "last window" = no successor row: lead() shares the min-window's
      // (id, pos) sort, so BOTH frames evaluate in ONE WindowExec pass,
      // where the previous unbounded count(*) OVER (PARTITION BY id)
      // spec planned a second window operator over the full gram table.
      // (r13 isolation note: both forms time ~1.2-1.4 s on winnow_pairs
      // at sf0.1 — the per-id partitions are tiny here, so the saved
      // pass is noise-level; it matters at real document lengths.)
      .withColumn("__next",
        lead(col("pos"), 1).over(Window.partitionBy("id").orderBy("pos")))
      .where(col("pos") >= w - 1 || col("__next").isNull)
      .select(col("id"), col("fp"))
      .distinct()
  }

  /** Partial-overlap candidate pairs from winnowed fingerprints: an
    * inverted-index self-join on fingerprint (the [[jaccardPairs]] shape —
    * only docs sharing a selected hash ever meet), thresholded on the
    * number of shared fingerprints. `maxDf` caps boilerplate fingerprints
    * that would flood the index (stop-gram removal at scale). */
  def winnowedOverlapPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      minShared: Int = 2,
      maxDf: Option[Long] = None,
      tokHash: Column => Column = c => xxhash64(c)
  ): DataFrame = {
    val fps = capDf(
      winnowedFingerprints(df, idCol, textCol, k, w, tokHash).localCheckpoint(true), "fp", maxDf)
    val a = fps.select(col("fp"), col("id").as("id_a"))
    val b = fps.select(col("fp"), col("id").as("id_b"))
    a.join(b, Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** MinHash signature: `numHashes` independent 64-bit minima over the
    * shingle set. Hash i of shingle s = xxhash64(s, i) (seeded, stateless).
    *
    * Shape: one narrow projection, the native
    * [[graft.functions.MinHashSignature]] kernel per row — each shingle is
    * hashed once and chained once per hash function, with no shuffle
    * (`array_min(transform(...))` per hash would run interpreted, and
    * re-read the set once per hash). At 100 TB, persist this output as
    * the signature index.
    *
    * One row per input row whose shingle set is non-empty (NULL text is
    * the empty string, see [[tokenSet]]; a set with no shingle has no
    * signature). Ids are expected unique: rows sharing an id are not
    * merged, and each keeps its own signature. */
  def minHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      shingleN: Int = 2
  ): DataFrame =
    minHashes(shingleSets(df, idCol, textCol, shingleN), numHashes)

  /** The MinHash signatures of an `(id, sh, set_size)` shingle-set frame:
    * `(id, signature)`, one row per non-empty set. */
  private def minHashes(sets: DataFrame, numHashes: Int): DataFrame =
    sets.where(col("set_size") > 0).select(col("id"),
      ColumnBridge.column(graft.functions.MinHashSignature(
        ColumnBridge.expression(col("sh")), numHashes)).as("signature"))

  /** LSH band-candidate pairs of a MinHash signature frame: each of
    * `bands` bands of `numHashes / bands` positions hashes to one bucket,
    * and two documents sharing any (band, bucket) become one candidate
    * `(id_a, id_b)`, `id_a < id_b`. Only ids travel through the join and
    * the pair dedup; callers rejoin whatever they verify with. */
  private def bandCandidates(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val banded = sigs.select(
      col("id"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(concat_ws(",",
          (0 until rowsPerBand).map(r => col("signature")(b * rowsPerBand + r)): _*), lit(b))
      }: _*)).as(Seq("band", "bucket")))
    val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`
    * and bucket each band by its hash. Docs sharing any band bucket become
    * candidate pairs; candidates are confirmed by estimated Jaccard =
    * fraction of agreeing signature positions. The only shuffles are the
    * bucket group-by and the pair group-by — candidate volume is controlled
    * by (bands, rowsPerBand), the standard LSH S-curve. */
  def minHashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      shingleN: Int = 2,
      bands: Int = 8,
      threshold: Double = 0.7
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // the signature table (one row per doc) feeds both join sides and the
    // verify rejoins; compute it once — at scale the persisted signature
    // index. Candidate stages carry ids only, so the pair-dedup exchange
    // shuffles metadata-sized rows
    val sigs = minHashSignatures(df, idCol, textCol, numHashes, shingleN).localCheckpoint(true)
    val agree = (0 until numHashes)
      .map(i => when(col("sig_a")(i) === col("sig_b")(i), 1).otherwise(0))
      .reduce(_ + _)
    bandCandidates(sigs, numHashes, bands)
      .join(sigs.select(col("id").as("id_a"), col("signature").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("signature").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard", agree.cast("double") / lit(numHashes.toDouble))
      .where(col("est_jaccard") >= lit(threshold))
      .select("id_a", "id_b", "est_jaccard")
  }

  /** MinHash-LSH near-dup pairs with EXACT verification — the standard
    * two-stage production shape: LSH banding proposes candidates
    * (shuffle-bounded, never all pairs), then the exact shingle-set
    * Jaccard confirms each candidate and filters false positives. Output
    * rows therefore carry TRUE Jaccard >= `threshold`, not an estimate:
    * with banding parameters on the high-recall side of the S-curve
    * (e.g. 16 bands of 2 at threshold 0.8: miss probability per true
    * pair <= (1-0.8^2)^16 ~ 4e-12) the result equals the all-pairs
    * exact-Jaccard answer at a fraction of the work — which is what makes
    * this operator oracle-checkable against a brute-force SQL twin.
    *
    * The shingle-set frame is computed ONCE and reused by both the
    * signature stage and the verify stage (at scale: the persisted
    * feature table). */
  def minHashLshJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      shingleN: Int = 3,
      bands: Int = 16,
      threshold: Double = 0.8
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sets = shingleSets(df, idCol, textCol, shingleN).localCheckpoint(true)
    val candidates = bandCandidates(minHashes(sets, numHashes), numHashes, bands)
    val sa = sets.select(col("id").as("id_a"), col("sh").as("sh_a"), col("set_size").as("size_a"))
    val sb = sets.select(col("id").as("id_b"), col("sh").as("sh_b"), col("set_size").as("size_b"))
    candidates.join(sa, "id_a").join(sb, "id_b")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      // same association as the inverted-index formulation and the SQL twin
      .withColumn("jaccard", jaccardOf("size_a", "size_b"))
      .where(col("jaccard") >= lit(threshold))
      .select("id_a", "id_b", "jaccard")
  }

  /** 60-bit token hash with an exact SQL twin: the first 15 hex chars of
    * the md5 digest as a BIGINT (DuckDB: `('0x' || substr(md5(tok), 1,
    * 15))::BIGINT`). Used by [[simHash60]] so the whole simhash value —
    * and therefore a simhash-pairs result — is reproducible by any engine
    * with md5, at the cost of md5 vs xxhash64 throughput. */
  def md5TokenHash60(tok: Column): Column =
    conv(substring(md5(tok.cast("binary")), 1, 15), 16, 10).cast("long")

  /** SimHash over the token set: bit j of the hash is 1 iff the sum over
    * tokens of sign(bit j of tokHash(token)) is positive.
    *
    * Shape lesson (the one [[minHashSignatures]] learned before its
    * native kernel): nBits interpreted
    * `aggregate(transform(...))` higher-order functions re-evaluated the
    * token set per bit; exploding tokens once and summing ±1 per bit as
    * nBits codegen'd map-side-combined aggregates is an order of
    * magnitude faster and shuffles one row per document. */
  private def simHashGeneric(
      df: DataFrame, idCol: String, textCol: String,
      nBits: Int, tokHash: Column => Column): DataFrame = {
    val exploded = df
      .select(col(idCol).as("id"), explode(tokenSet(col(textCol))).as("__tok"))
      .withColumn("__h", tokHash(col("__tok")))
    val bitSums = (0 until nBits).map(j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
        .as(s"__b_$j"))
    val bits = (0 until nBits).map(j =>
      when(col(s"__b_$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
    exploded
      .groupBy("id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), bits.reduce((x, y) => x.bitwiseOR(y)).as("simhash"))
  }

  /** 64-bit SimHash, xxhash64 token hash — the fast default. */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simHashGeneric(df, idCol, textCol, 64, t => xxhash64(t))

  /** 60-bit SimHash over [[md5TokenHash60]] — bit-identical to its SQL
    * twin, for oracle-checked correctness gates. */
  def simHash60(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simHashGeneric(df, idCol, textCol, 60, md5TokenHash60)

  /** SimHash near-dup pairs from a precomputed (id, simhash) frame: band
    * the hash into `maxHamming + 1` equal chunks — by pigeonhole, any
    * pair within `maxHamming` bit flips shares at least one identical
    * chunk, so the banding proposes a candidate superset of the answer
    * (EXACT recall, not probabilistic) — then confirm with the true
    * hamming distance. The hash frame is checkpointed first: it feeds
    * both join sides. */
  private def simHashPairsFrom(
      hashed: DataFrame, nBits: Int, maxHamming: Int): DataFrame = {
    val nChunks = maxHamming + 1
    require(nBits % nChunks == 0,
      s"simHash banding: $nBits bits must divide into ${nChunks} chunks (maxHamming + 1)")
    val chunkBits = nBits / nChunks
    val mask = if (chunkBits >= 64) -1L else (1L << chunkBits) - 1
    val banded = hashed.localCheckpoint(true).select(
      col("id"), col("simhash"),
      posexplode(array((0 until nChunks).map(b =>
        shiftright(col("simhash"), b * chunkBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "chunk")))
    val a = banded.select(col("band"), col("chunk"), col("id").as("id_a"), col("simhash").as("h_a"))
    val b = banded.select(col("band"), col("chunk"), col("id").as("id_b"), col("simhash").as("h_b"))
    val hamming = bit_count(col("h_a").bitwiseXOR(col("h_b")))
    a.join(b, Seq("band", "chunk"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "h_a", "h_b")
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming.cast("long"))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Hamming near-dup pairs over ANY precomputed `nBits`-bit hash column
    * (simhash, image dHash, audio fingerprints): the same pigeonhole
    * banding as [[simHashPairs]] — `maxHamming + 1` equal chunks, any
    * pair within the budget shares one identical chunk (EXACT recall,
    * not probabilistic), then the true `bit_count` confirms. Null hashes
    * (e.g. undecodable media) drop out before banding. Output
    * `(id_a, id_b, hamming)`. */
  def hammingPairs(
      hashed: DataFrame,
      idCol: String,
      hashCol: String,
      nBits: Int,
      maxHamming: Int
  ): DataFrame =
    simHashPairsFrom(
      hashed.select(col(idCol).as("id"), col(hashCol).as("simhash")).where(col("simhash").isNotNull),
      nBits, maxHamming)

  /** SimHash near-dup candidates, 64-bit xxhash64 flavor. */
  def simHashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3
  ): DataFrame =
    simHashPairsFrom(simHash(df, idCol, textCol), 64, maxHamming)

  /** SimHash near-dup pairs, 60-bit md5 flavor — every stage has an exact
    * SQL twin, so the full result is oracle-checkable against a
    * brute-force all-pairs hamming query. */
  def simHashPairs60(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3
  ): DataFrame =
    simHashPairsFrom(simHash60(df, idCol, textCol), 60, maxHamming)

  // ---- substring-level exact dedup (Lee et al. 2022) ----------------------
  //
  // The operator a real LM pipeline runs FIRST: remove repeated >= N-token
  // SPANS across documents ("Deduplicating Training Data Makes Language
  // Models Better", Lee/Ippolito/... 2022 — their ExactSubstr at 50-token
  // granularity). Document-level similarity (everything above) misses a
  // shared license header or boilerplate block inside otherwise-different
  // documents; this catches exactly that.
  //
  // The paper builds a corpus-wide suffix array — a sequential structure
  // with no DataFrame-algebra analogue. The distributed equivalent below
  // finds the SAME shared spans of length >= k via positional k-grams:
  // two documents share an m-token span (m >= k) iff they share m-k+1
  // CONSECUTIVE k-gram matches on one alignment diagonal, so an
  // inverted-index join on gram hash + a per-diagonal gaps-and-islands
  // merge reconstructs every maximal shared span exactly. Shuffles carry
  // (gram, id, pos) and (pair, pos) rows only — candidate volume is
  // bounded by shared grams (maxDf caps boilerplate stop-grams), never
  // |corpus|^2.

  /** Maximal shared token spans of length >= `k` between document pairs.
    *
    * Tokens are the whitespace tokens of the lower-trimmed text (the same
    * normalization as every other dedup operator here). Gram keys are
    * md5-prefix hashes (64 bits — SQL-twin-able like [[simHash60]]'s md5
    * flavor; collisions at 64 bits are negligible and a collision-induced
    * false span is exactly reproduced by the oracle, keeping the gate
    * hash-exact). Documents shorter than `k` tokens cannot contain a
    * k-token span and drop out at the gram stage.
    *
    * Output: one row per maximal shared span, 0-based inclusive token
    * positions — (id_a, id_b, a_start, a_end, b_start, b_end, n_tokens)
    * with id_a < id_b.
    *
    * @param minSpanTokens emit only spans of at least this many tokens
    *        (defaults to k — every emitted span is >= k by construction)
    * @param maxDf drop grams appearing in more than `maxDf` index rows
    *        (stop-gram cap for corpus-scale boilerplate; spans crossing a
    *        capped gram split into shorter islands — the standard
    *        recall-for-boundedness trade, same knob as [[jaccardPairs]])
    */
  def sharedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 50,
      minSpanTokens: Option[Int] = None,
      maxDf: Option[Long] = None
  ): DataFrame = {
    require(k >= 2, s"sharedSpans: k=$k must be >= 2 (k=1 pairs every shared token)")
    val positional = df
      .select(col(idCol).as("id"),
        size(split(trim(coalesce(col(textCol), lit(""))), "\\s+")).as("__n_toks"),
        shingleSeq(col(textCol), k).as("__grams"))
      .where(col("__n_toks") >= k) // short docs: no k-token span possible
      .select(col("id"), posexplode(col("__grams")).as(Seq("pos", "gram")))
      .select(col("id"), col("pos"), substring(md5(col("gram")), 1, 16).as("g"))
    val grams = capDf(positional.localCheckpoint(true), "g", maxDf)
    val a = grams.select(col("g"), col("id").as("id_a"), col("pos").as("pos_a"))
    val b = grams.select(col("g"), col("id").as("id_b"), col("pos").as("pos_b"))
    // consecutive matches on one alignment diagonal merge into maximal
    // runs: island id = pos_a - row_number within (pair, diagonal)
    val w = Window.partitionBy("id_a", "id_b", "__diag").orderBy("pos_a")
    val spans = a.join(b, Seq("g"))
      .where(col("id_a") < col("id_b"))
      .withColumn("__diag", col("pos_a") - col("pos_b"))
      .withColumn("__island", col("pos_a") - row_number().over(w))
      .groupBy("id_a", "id_b", "__diag", "__island")
      .agg(min(col("pos_a")).as("__s"), (max(col("pos_a")) + lit(k - 1)).as("__e"))
      .select(col("id_a"), col("id_b"),
        col("__s").cast("long").as("a_start"),
        col("__e").cast("long").as("a_end"),
        (col("__s") - col("__diag")).cast("long").as("b_start"),
        (col("__e") - col("__diag")).cast("long").as("b_end"),
        (col("__e") - col("__s") + 1).cast("long").as("n_tokens"))
    minSpanTokens.map(m => spans.where(col("n_tokens") >= m)).getOrElse(spans)
  }

  /** Merge a (doc, interval) set into its union of maximal disjoint
    * intervals — gaps-and-islands with a running max over the end column
    * (adjacent intervals merge: token ranges [2,5] and [6,9] are one
    * contiguous removal). Pure window algebra; partition size is bounded
    * by one document's span count. Output: (idOut, span_start, span_end,
    * n_tokens). */
  def mergeSpans(
      spans: DataFrame, idCol: String, startCol: String, endCol: String,
      idOut: String = "doc_id"
  ): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy(startCol, endCol)
    val prevMax = max(col(endCol)).over(w.rowsBetween(Window.unboundedPreceding, -1))
    spans
      .withColumn("__new", when(prevMax.isNull || col(startCol) > prevMax + 1, 1).otherwise(0))
      .withColumn("__island", sum(col("__new")).over(w))
      .groupBy(col(idCol).as(idOut), col("__island"))
      .agg(min(col(startCol)).as("span_start"), max(col(endCol)).as("span_end"))
      .select(col(idOut), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_tokens"))
  }

  /** The removal set substring dedup actually applies: for every shared
    * span, the occurrence in the HIGHER-id document is marked for removal
    * (the lower id keeps its copy — the same first-occurrence-wins greedy
    * as [[dropDuplicatePairs]], at span granularity), then per-document
    * overlapping/adjacent spans merge into maximal disjoint removal
    * intervals. Output: (doc_id, span_start, span_end, n_tokens). */
  def removalSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 50,
      maxDf: Option[Long] = None
  ): DataFrame =
    mergeSpans(
      sharedSpans(df, idCol, textCol, k, None, maxDf)
        .select(col("id_b").as("__doc"), col("b_start"), col("b_end")),
      "__doc", "b_start", "b_end")

  /** APPLY a removal-span set: cut the marked token intervals out of
    * each document and emit the surviving text — the operation Lee et
    * al.'s pipeline actually performs (they cut spans, not documents).
    *
    * Positions refer to the same normalized token space every dedup
    * operator here uses (lower + whitespace-split), so the output text
    * is the normalized token sequence minus the removed intervals —
    * documents without spans pass through with normalization only
    * (byte-exact reconstruction would need the original offsets; token
    * space is what the span index speaks).
    *
    * Shape: the span table (pair-graph bounded — orders of magnitude
    * smaller than the corpus) aggregates to one interval ARRAY per doc
    * and broadcast-joins onto the corpus; token filtering happens in-row
    * with higher-order functions (cost O(tokens x spans-per-doc), no
    * explode, no corpus shuffle). Output: (doc_id, text, n_removed). */
  def applySpanRemoval(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spans: DataFrame,
      spanIdCol: String = "doc_id",
      startCol: String = "span_start",
      endCol: String = "span_end"
  ): DataFrame = {
    val perDoc = spans
      .groupBy(col(spanIdCol).as("__rid"))
      .agg(collect_list(struct(
        col(startCol).cast("long").as("s"), col(endCol).cast("long").as("e"))).as("__iv"))
    val toks = split(lower(trim(coalesce(col(textCol), lit("")))), "\\s+")
    df.join(broadcast(perDoc), col(idCol) === col("__rid"), "left")
      .withColumn("__toks", toks)
      .withColumn("__kept",
        when(col("__iv").isNull, col("__toks")).otherwise(
          filter(col("__toks"), (_, i) =>
            !exists(col("__iv"), iv =>
              i.cast("long") >= iv.getField("s") && i.cast("long") <= iv.getField("e")))))
      .select(col(idCol),
        array_join(col("__kept"), " ").as(textCol),
        (size(col("__toks")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** WITHIN-document repeated-line removal (the RefinedWeb / MassiveText
    * "remove duplicated lines" curation step, Penedo et al. 2023 §4.2 /
    * Rae et al. 2021 A.1.2): keep only the FIRST occurrence of each
    * exact line inside a document, preserving line order. Crawled pages
    * repeat navigation bars, cookie banners, and footers many times
    * within one page; cross-document dedup never sees them because the
    * surrounding page differs.
    *
    * Embarrassingly parallel — one narrow per-row pass, no shuffle, no
    * pair graph: lines split on `sep`, and line i survives iff it is the
    * first occurrence (`array_position(lines, x) == i+1` — the same
    * first-index form the DuckDB oracle twin uses via `list_position`).
    * Per-row cost is O(lines^2) comparisons in the worst case, bounded by
    * lines-per-document, not the corpus. `sep` = "\n\n" gives repeated-
    * PARAGRAPH removal unchanged. NULL text coalesces to "" (the
    * [[tokenSet]] null contract).
    *
    * Output: `df` with `textCol` replaced by the deduped text and an
    * appended `n_lines_removed` count. */
  def dedupLinesWithinDoc(
      df: DataFrame,
      textCol: String,
      sep: String = "\n"
  ): DataFrame = {
    val lines = split(coalesce(col(textCol), lit("")),
      java.util.regex.Pattern.quote(sep))
    val kept = df.columns.map(c =>
      if (c == textCol) array_join(col("__kept"), sep).as(textCol) else col(c)).toIndexedSeq
    df.withColumn("__lines", lines)
      .withColumn("__kept", filter(col("__lines"), (x, i) =>
        array_position(col("__lines"), x) === (i + 1).cast("long")))
      .select(kept :+
        (size(col("__lines")) - size(col("__kept"))).cast("long").as("n_lines_removed"): _*)
  }

  /** CROSS-document boilerplate line removal (CCNet's paragraph-hash
    * dedup, Wenzek et al. 2020 §3.1 / RefinedWeb's line-wise filter,
    * Penedo et al. 2023 §4.2): drop every line whose corpus-wide DOCUMENT
    * frequency reaches `minDf` — navigation bars, cookie banners and
    * footers shared ACROSS pages. [[dedupLinesWithinDoc]] never sees
    * these (each page shows them once), and document-level near-dup
    * never pairs the pages (the surrounding text differs) — this is the
    * third axis of line hygiene a crawl pipeline runs.
    *
    * `keepFirst = true` switches to CCNet's dedup semantics: the single
    * globally-first occurrence (min (id, pos)) of each hot line
    * survives; default `false` removes all occurrences (the
    * boilerplate-filter semantics — a line shared by `minDf` pages is
    * noise everywhere, including its first sighting).
    *
    * Scale shape — every shuffle carries (hash, id, pos) rows, never
    * document text:
    *   1. lines explode to (id, pos, lineHash); per-line document
    *      frequency is a distinct + count aggregate keyed on the hash
    *      (map-side combined, volume = distinct (line, doc) pairs);
    *   2. the hot-line set (df >= minDf, at most corpusLines/minDf rows
    *      and in practice the tiny boilerplate tail) joins back against
    *      the exploded hashes to emit removal POSITIONS — only removed
    *      lines travel;
    *   3. positions group per doc and join back on id; the cut itself is
    *      an in-row array filter (the [[applySpanRemoval]] pattern), so
    *      the corpus text is touched by exactly one narrow pass.
    * `hashLine` defaults to `xxhash64` (the scale path); pass
    * [[md5TokenHash60]] for the exact DuckDB twin.
    *
    * Output: `df` with `textCol` rewritten to the surviving lines plus an
    * appended `n_lines_removed` count. */
  def dedupLinesCrossDoc(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n",
      minDf: Int = 2,
      keepFirst: Boolean = false,
      hashLine: Column => Column = c => xxhash64(c)
  ): DataFrame = {
    require(minDf >= 2, s"minDf < 2 would remove every line; got $minDf")
    val lines = split(coalesce(col(textCol), lit("")),
      java.util.regex.Pattern.quote(sep))
    val exploded = df
      .select(col(idCol).as("__id"), posexplode(lines).as(Seq("__pos", "__line")))
      .select(col("__id"), col("__pos"), hashLine(col("__line")).as("__h"))
    val hot = exploded.select("__h", "__id").distinct()
      .groupBy("__h").agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minDf)
      .select("__h")
    val hotOccurrences = exploded.join(hot, Seq("__h"))
    val removal =
      if (!keepFirst) hotOccurrences.select("__id", "__pos")
      else {
        // the one surviving occurrence per hot line: min (id, pos) —
        // deterministic, and a removal-sized aggregate (never the corpus)
        val first = hotOccurrences.groupBy("__h")
          .agg(min(struct(col("__id"), col("__pos"))).as("__f"))
        hotOccurrences.join(first, Seq("__h"))
          .where(col("__id") =!= col("__f.__id") || col("__pos") =!= col("__f.__pos"))
          .select("__id", "__pos")
      }
    val perDoc = removal.groupBy("__id").agg(collect_list(col("__pos")).as("__drop"))
    val kept = df.columns.map(c =>
      if (c == textCol) array_join(col("__kept"), sep).as(textCol) else col(c)).toIndexedSeq
    df.join(perDoc, col(idCol) === col("__id"), "left")
      .withColumn("__lines", lines)
      .withColumn("__kept",
        when(col("__drop").isNull, col("__lines")).otherwise(
          filter(col("__lines"), (_, i) => !array_contains(col("__drop"), i))))
      .select(kept :+
        (size(col("__lines")) - size(col("__kept"))).cast("long").as("n_lines_removed"): _*)
  }
}
