package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge

/** Community detection by synchronous label propagation (Raghavan et al.
  * 2007, public) — the clustering primitive for grouping entities that
  * interact (co-suppliers, co-cited documents, near-dup neighborhoods)
  * without choosing k up front. In a curation pipeline it slices a link
  * or co-occurrence graph into topical groups for per-community
  * sampling quotas.
  *
  * Determinism contract (the [[PageRank]] rule, vote-counting flavor):
  * every quantity is an exact integer — a node's next label is the most
  * frequent label among its neighbors plus ONE self-vote, ties broken
  * by the SMALLEST label — so the fixed-round result is bit-exact under
  * any partitioning and a DuckDB replica can replay it round for round.
  * The self-vote is load-bearing twice: it makes isolated-after-
  * canonicalization nodes keep a defined label, and it damps the 2-cycle
  * oscillation synchronous LPA exhibits on bipartite subgraphs (a
  * documented failure of the plain synchronous variant; with the
  * self-vote a stable 2-coloring costs a vote to leave).
  *
  * Scale shape, per round: ONE shuffle keyed by `node` (the vote count
  * + argmax, both map-side combined — the argmax is `min(struct(-votes,
  * label))`, never a window) plus the labels-to-adjacency equi-join on
  * the neighbor id. The adjacency (with self-loops appended) is
  * localCheckpoint'ed ONCE; label state is one row per node, and each
  * superseded round's checkpoint blocks are released through
  * [[CheckpointBridge]] (O(1) persisted copies). Hot nodes cost degree
  * rows in the vote aggregate — map-side combine collapses them per
  * (node, label) before the exchange.
  */
object Communities {

  /** Frontier size above which [[labelPropagationLocal]] stops
    * broadcasting the frontier set into its restriction joins (1M ids ≈
    * 8 MB of longs — comfortably under executor broadcast budgets; a
    * blast radius bigger than this is effectively a global refresh and
    * the shuffle path is the right plan for it). Lowered 2^21 -> 2^20 in
    * r19: the since-deleted RefreshHeapProbe measured 3.94 GB post-GC live driver
    * heap at a 2^21-node frontier on an 8 GB heap (the boxed
    * GenericRow LocalRelation copies the driver-resident path holds) —
    * half the heap for one frontier is not headroom, and past the gate
    * the full seeded refresh is correct and usually cheaper anyway. */
  private val BroadcastFrontierMaxRows = 1L << 20

  /** Canonical-pair budget of the DRIVER-RESIDENT delta ([[deriveDelta]])
    * — deliberately tighter than the frontier gate: at the refuse
    * boundary the driver concurrently holds the canonical pairs, a
    * ~3x-batch probe frame, the new-node self-loops, and a ~2x deltaAdj
    * (r19 RefreshHeapProbe, since deleted: 6.96 GB post-GC live at 2^21 pairs
    * on an 8 GB heap — effectively exhausted). 2^19 pairs measures
    * ~1/4 of that, leaving real headroom, and a batch beyond half a
    * million novel pairs is not an incremental batch — the refusal
    * message routes it to the batch-side rebuild operators. */
  private val DriverDeltaMaxPairs = 1L << 19

  /** `(node, label)` after `iterations` synchronous vote rounds over the
    * canonical undirected graph (direction, duplicates, and self-loops
    * in the input are normalized away; the self-VOTE is separate and
    * always present). Labels start as each node's own id, so a returned
    * label is always some member's id and label-equality defines the
    * communities. Fixed rounds, not convergence-tested: LPA's fixpoint
    * is not guaranteed to exist under synchronous update, and a bounded
    * round count is what the exact-replica oracle can replay. */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 4
  ): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      s"iterations must be in [1, 20], got $iterations")
    val und = Triangles.canonicalEdges(edges, srcCol, dstCol)
    val nodes = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .distinct()
    // bidirectional adjacency + one self-loop per node = the self-vote.
    // Stored pre-partitioned AND pre-sorted on the per-round join key:
    // localCheckpoint preserves outputPartitioning/outputOrdering, so
    // every round's sort-merge join reuses the stored layout and only
    // the one-row-per-node label table shuffles — without this the big
    // side re-exchanges and re-sorts every round, which measurably
    // turns the third scaling decade from sub-linear to linear.
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .union(und.select(col("b").as("node"), col("a").as("nbr")))
      .union(nodes.select(col("node"), col("node").as("nbr")))
      .repartition(col("nbr"))
      .sortWithinPartitions("nbr")
      .localCheckpoint(true)
    var labels = nodes.withColumn("lbl", col("node")).localCheckpoint(true)
    for (i <- 1 to iterations) {
      // Round 1 closed form: labels are their owners' ids and adjacency
      // rows are distinct, so every candidate label holds exactly ONE
      // vote and the smallest-label tie-break degenerates the round to
      // min over the closed neighborhood — one map-side-combined
      // aggregate instead of the join + two vote shuffles (round 1 is
      // the most expensive round of the general form: nothing collapses
      // when all labels are still distinct).
      val next = (if (i == 1)
        adj.groupBy("node").agg(min("nbr").as("lbl"))
      else {
        val votes = adj
          .join(labels.select(col("node").as("nbr"), col("lbl")), Seq("nbr"))
          .groupBy(col("node"), col("lbl"))
          .agg(count(lit(1)).as("votes"))
        // most votes, smallest label on ties — min of (-votes, label)
        votes
          .groupBy("node")
          .agg(min(struct((-col("votes")).as("nv"), col("lbl").as("l"))).as("w"))
          .select(col("node"), col("w.l").as("lbl"))
      }).localCheckpoint(true)
      CheckpointBridge.release(labels)
      labels = next
    }
    val out = labels.select(col("node"), col("lbl").as("label"))
    CheckpointBridge.release(adj)
    out
  }

  /** [[labelPropagation]] CONTINUED from a prior labeling — the refresh
    * half of the persisted-community story: `seeds` is a `(node, label)`
    * frame (typically a previous [[labelPropagation]] output persisted
    * next to the graph), nodes of the current graph absent from it
    * (fresh ingest) start at their own id, and the same synchronous
    * vote rounds run from there. With own-id seeds this IS
    * [[labelPropagation]] (spec-gated differential — including against
    * that function's round-1 closed form, which is unavailable here
    * because seed labels need not be distinct).
    *
    * Same determinism contract and per-round scale shape as
    * [[labelPropagation]]; seed rows for nodes outside the current
    * graph are ignored (their members contribute no edges). */
  def labelPropagationFrom(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      iterations: Int = 4
  ): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      s"iterations must be in [1, 20], got $iterations")
    val und = Triangles.canonicalEdges(edges, srcCol, dstCol)
    val nodes = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .distinct()
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .union(und.select(col("b").as("node"), col("a").as("nbr")))
      .union(nodes.select(col("node"), col("node").as("nbr")))
      .repartition(col("nbr"))
      .sortWithinPartitions("nbr")
      .localCheckpoint(true)
    var labels = nodes
      .join(seeds.select(col("node"), col("label").as("__seed")), Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), col("node")).as("lbl"))
      .localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val votes = adj
        .join(labels.select(col("node").as("nbr"), col("lbl")), Seq("nbr"))
        .groupBy(col("node"), col("lbl"))
        .agg(count(lit(1)).as("votes"))
      val next = votes
        .groupBy("node")
        .agg(min(struct((-col("votes")).as("nv"), col("lbl").as("l"))).as("w"))
        .select(col("node"), col("w.l").as("lbl"))
        .localCheckpoint(true)
      CheckpointBridge.release(labels)
      labels = next
    }
    val out = labels.select(col("node"), col("lbl").as("label"))
    CheckpointBridge.release(adj)
    out
  }

  /** LOCALIZED incremental refresh — the flat-per-batch community
    * update: instead of re-running vote rounds over every standing node
    * (the [[labelPropagationFrom]] full refresh, whose cost grows with
    * the standing corpus even when the ingest batch is fixed — the r16
    * 4.2→15.5 s/batch term), only nodes inside the BLAST RADIUS of the
    * change re-vote. The frontier is the `hops`-hop ball around `dirty`
    * (typically the endpoints of the batch's new edges); every node
    * outside it keeps its seed label BY DEFINITION, and the vote rounds
    * run restricted to frontier nodes, with frozen neighbors
    * contributing their (static) seed labels as votes.
    *
    * Exactness, not approximation, in the cases that matter:
    *   - when the frontier covers the whole graph the restriction is
    *     vacuous and the result EQUALS [[labelPropagationFrom]]
    *     (spec-gated);
    *   - when `seeds` is a synchronous fixed point of the vote rule on
    *     the pre-batch graph, `dirty` covers the new edges' endpoints,
    *     and `hops >= iterations`, the result equals the full
    *     [[labelPropagationFrom]] refresh on the union graph EXACTLY:
    *     a change can propagate at most one hop per synchronous round,
    *     so after round i only nodes within i hops of a dirty node can
    *     differ from their seed (induction on rounds; spec-gated on a
    *     converged two-clique graph bridged by an ingest edge). When
    *     seeds are NOT converged, far-from-dirty nodes keep seed labels
    *     a full re-run might have moved — that is the operator's
    *     semantic (refresh the blast radius, leave settled communities
    *     settled), and the oracle replays it exactly.
    *
    * Scale shape, per batch: frontier expansion is `hops` equi-joins of
    * the (one-row-per-reached-node) frontier against the checkpointed
    * adjacency, then `iterations` vote rounds over ONLY frontier-
    * incident adjacency rows — cost proportional to the blast radius's
    * edge volume, not the standing corpus. The remaining corpus-
    * proportional terms are the one-pass canonicalization/adjacency
    * build and the frontier semi-join scans (no shuffle of the big
    * side; a persisted pre-canonicalized adjacency would remove the
    * build term — noted, not shipped). Everything superseded releases
    * through [[CheckpointBridge]] (O(1) persisted copies).
    *
    * @param seeds `(node, label)` prior labeling; absent nodes seed at
    *        their own id
    * @param dirty one column of node ids whose neighborhoods changed;
    *        ids outside the graph are ignored
    * @param hops frontier radius; `hops >= iterations` makes the
    *        restriction exact against converged seeds (see above) */
  def labelPropagationLocal(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      dirty: DataFrame,
      hops: Int = 4,
      iterations: Int = 4
  ): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      s"iterations must be in [1, 20], got $iterations")
    require(hops >= 1 && hops <= 20, s"hops must be in [1, 20], got $hops")
    val und = Triangles.canonicalEdges(edges, srcCol, dstCol)
    val nodes = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .distinct()
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .union(und.select(col("b").as("node"), col("a").as("nbr")))
      .union(nodes.select(col("node"), col("node").as("nbr")))
      .repartition(col("nbr"))
      .sortWithinPartitions("nbr")
      .localCheckpoint(true)
    // frontier = ball(dirty ∩ graph, hops); the self-loop rows make
    // each expansion round superset-of-previous, so the final round IS
    // the ball (no union-accumulate needed)
    var frontier = nodes
      .join(dirty.select(col(dirty.columns.head).as("node")).distinct(),
        Seq("node"), "left_semi")
      .localCheckpoint(true)
    for (_ <- 1 to hops) {
      val next = adj
        .join(frontier.select(col("node").as("nbr")), Seq("nbr"))
        .select("node").distinct()
        .localCheckpoint(true)
      CheckpointBridge.release(frontier)
      frontier = next
    }
    val l0 = nodes
      .join(seeds.select(col("node"), col("label").as("__seed")), Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), col("node")).as("lbl"))
      .localCheckpoint(true)
    // The frontier restriction must not cost corpus-sized shuffles —
    // that would hand back what the restriction saves (measured: a
    // sort-merge semi-join here re-shuffled the whole adjacency twice
    // and made the local refresh SLOWER than the full one). A typical
    // blast radius is batch-proportional, so broadcast it and every
    // restriction join below becomes a scan that preserves the stored
    // (nbr) layout; past the gate (a ball that big means the refresh
    // is effectively global) fall back to shuffle joins.
    val small = frontier.count() <= BroadcastFrontierMaxRows
    val frontierKeyed = if (small) broadcast(frontier) else frontier
    // frozen labels never change; only the slice of them adjacent to
    // the frontier is ever consulted again
    val frozen = l0.join(frontierKeyed, Seq("node"), "left_anti")
      .localCheckpoint(true)
    // broadcast path: the semi-join is a scan that inherits adj's
    // stored (nbr) partitioning AND ordering, so every vote round's
    // sort-merge join reuses the layout with zero big-side exchanges
    val adjF0 = adj.join(frontierKeyed, Seq("node"), "left_semi")
    val adjF = (if (small) adjF0
      else adjF0.repartition(col("nbr")).sortWithinPartitions("nbr"))
      .localCheckpoint(true)
    val nbrSet = adjF.select(col("nbr").as("node")).distinct()
    val frozenNbr = frozen
      .join(if (small) broadcast(nbrSet) else nbrSet, Seq("node"), "left_semi")
      .localCheckpoint(true)
    var cur = l0.join(frontierKeyed, Seq("node"), "left_semi").localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val lab = cur.unionByName(frozenNbr)
      val votes = adjF
        .join(lab.select(col("node").as("nbr"), col("lbl")), Seq("nbr"))
        .groupBy(col("node"), col("lbl"))
        .agg(count(lit(1)).as("votes"))
      val next = votes
        .groupBy("node")
        .agg(min(struct((-col("votes")).as("nv"), col("lbl").as("l"))).as("w"))
        .select(col("node"), col("w.l").as("lbl"))
        .localCheckpoint(true)
      CheckpointBridge.release(cur)
      cur = next
    }
    val out = cur.unionByName(frozen).select(col("node"), col("lbl").as("label"))
      .localCheckpoint(true)
    Seq(cur, frozen, frozenNbr, adjF, l0, frontier, adj)
      .foreach(CheckpointBridge.release)
    out
  }

  /** The persistable LPA adjacency — `(node, nbr)`, bidirectional with
    * one self-loop per node (the self-vote) — so an ingest pipeline can
    * build it ONCE from the standing edges, store it bucketed on `nbr`
    * ([[graft.sources.IndexStore.writeBucketed]]), and hand it to
    * [[labelPropagationLocalOnAdj]] per batch instead of re-paying the
    * canonicalize + checkpoint rebuild that keeps
    * [[labelPropagationLocal]] from being flat (SCALING.md r17: the
    * rebuild is the local refresh's residual growth term). */
  def lpaAdjacency(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = Triangles.canonicalEdges(edges, srcCol, dstCol)
    val nodes = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .distinct()
    und.select(col("a").as("node"), col("b").as("nbr"))
      .union(und.select(col("b").as("node"), col("a").as("nbr")))
      .union(nodes.select(col("node"), col("node").as("nbr")))
  }

  /** [[labelPropagationLocal]] against a PERSISTED standing adjacency —
    * the flat-per-batch form: the standing corpus is touched ONLY
    * through scans (every restriction and expansion join broadcasts the
    * small side), never shuffled, never re-checkpointed. What a batch
    * pays: the delta-adjacency derivation (new pairs + new-node
    * self-loops, broadcast probes against the standing table),
    * `hops` expansion scans, one restriction scan, two seed-table
    * scans, and vote rounds over the blast radius's edges only.
    *
    * Contract differences vs [[labelPropagationLocal]] (both
    * spec-gated):
    *   - `standingAdj` must be [[lpaAdjacency]] output for the standing
    *     edges (bidirectional + self-loops, deduplicated) — a raw edge
    *     list here double-counts votes;
    *   - `seeds` must be EXACTLY the standing labeling (one row per
    *     standing node, e.g. the persisted [[labelPropagation]]
    *     output): non-frontier output rows are taken from `seeds`
    *     verbatim without a graph-membership check (checking would
    *     cost the corpus-sized join this variant exists to avoid);
    *   - `dirty` must cover the batch's genuinely-new node ids (it
    *     naturally does — pass the new edges' endpoints): a new node
    *     outside the frontier has no seed row to fall back on and
    *     would be dropped from the output;
    *   - the frontier must fit the broadcast gate — past it this
    *     REFUSES (use [[labelPropagationLocal]], whose shuffle path is
    *     the right plan for an effectively-global refresh). */
  def labelPropagationLocalOnAdj(
      standingAdj: DataFrame,
      newEdges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      dirty: DataFrame,
      hops: Int = 4,
      iterations: Int = 4
  ): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      s"iterations must be in [1, 20], got $iterations")
    require(hops >= 1 && hops <= 20, s"hops must be in [1, 20], got $hops")
    val d = deriveDelta(standingAdj, newEdges, srcCol, dstCol)
    val (frontier, _, withinGate) =
      expandBall(standingAdj.unionByName(d.deltaAdj), standingAdj, d, dirty, hops)
    require(withinGate,
      s"labelPropagationLocalOnAdj: the frontier outgrew the broadcast " +
        s"gate ($BroadcastFrontierMaxRows rows) — an effectively-global " +
        s"refresh; use labelPropagationLocal's shuffle path")
    val out = localVoteRoundsOnAdj(standingAdj, d, seeds, frontier, iterations)
    Seq(d.deltaAdj, d.newNodes, d.deltaPairs, d.batchPairs)
      .foreach(CheckpointBridge.release)
    out
  }

  /** The batch's delta against a persisted standing adjacency: new
    * canonical pairs (standing table probed with the BROADCAST batch —
    * find existing; the standing side only scans) plus self-loops for
    * genuinely new nodes. DRIVER-RESIDENT (LocalTableScan frames): the
    * batch is broadcast-bounded by the operators' own contract — every
    * consumer ships it via `broadcast()`, which collects it to the
    * driver anyway — so keeping it there costs TWO jobs total (the
    * canonical-pair collect and the two standing probes fused per
    * scan) instead of four eager checkpoints plus their re-broadcasts.
    * Node ids must be atomic comparable types (long/int/string — the
    * same requirement the equi-joins already impose). A batch whose
    * canonical pair set exceeds [[DriverDeltaMaxPairs]] REFUSES:
    * that is not an incremental batch, rebuild with the batch-side
    * operators. `CheckpointBridge.release` on these frames is a
    * documented no-op. */
  private case class Delta(
      batchPairs: DataFrame,
      deltaPairs: DataFrame,
      newNodes: DataFrame,
      deltaAdj: DataFrame,
      newNodeCount: Long)

  private def deriveDelta(
      standingAdj: DataFrame,
      newEdges: DataFrame,
      srcCol: String,
      dstCol: String
  ): Delta = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    val spark = standingAdj.sparkSession
    val nt = standingAdj.schema("node").dataType
    // the driver-side dedup below compares collected values with Scala
    // equality, so node ids must be an ALLOWLISTED atomic type (r18
    // ADVICE): Array[Byte] compares by reference (silent double votes),
    // BigDecimal.equals is scale-sensitive (silently missed standing
    // pairs) — refuse anything but the types the scaladoc promises
    require(Seq(LongType, IntegerType, StringType).contains(nt),
      s"deriveDelta: node ids must be long/int/string (driver-side pair " +
        s"dedup compares by value), got $nt")
    val pairSchema = StructType(Seq(StructField("a", nt), StructField("b", nt)))
    val nodeSchema = StructType(Seq(StructField("node", nt)))
    val adjSchema = StructType(Seq(StructField("node", nt), StructField("nbr", nt)))
    val gate = DriverDeltaMaxPairs.toInt
    // batch ids cast to the STANDING node type BEFORE canonicalization
    // (r18 ADVICE: an int-typed batch against a long-typed standing
    // table used to coerce through the join-based path; the collected
    // probe compares values driver-side, where Int != Long) — int->long
    // is order-preserving, so the canonical a<b orientation is the one
    // the standing table uses. The cast is only safe when it cannot
    // change a value (r19 ADVICE): a long batch against an int standing
    // table wraps under the non-ANSI cast (4294967297 -> 1, merging
    // distinct nodes), and string->numeric yields nulls that flow into
    // canonical pairs — so the batch side must MATCH the standing type
    // exactly, or be the one lossless widening int->long
    Seq(srcCol, dstCol).foreach { c =>
      val bt = newEdges.schema(c).dataType
      require(bt == nt || (bt == IntegerType && nt == LongType),
        s"deriveDelta: batch column '$c' is $bt but the standing node " +
          s"type is $nt — casting would be lossy (long->int wraps, " +
          s"string->numeric nulls). Supply the batch with the standing " +
          s"node type (int->long widening is the only accepted mismatch)")
    }
    val bp = Triangles.canonicalEdges(
        newEdges.select(col(srcCol).cast(nt).as(srcCol),
          col(dstCol).cast(nt).as(dstCol)),
        srcCol, dstCol)
      .limit(gate + 1).collect()
    require(bp.length <= gate,
      s"deriveDelta: the batch's canonical pair set exceeds the driver-" +
        s"resident delta budget ($DriverDeltaMaxPairs pairs) — not an " +
        s"incremental batch; rebuild with the batch-side operators")
    val batchPairs = spark.createDataFrame(bp.toSeq.asJava, pairSchema)
    // one standing scan: which batch pairs already stand AND which
    // batch nodes already stand (self-loop rows), distinguished by a
    // marker — the probe result is batch-bounded either way
    val bn = bp.iterator.flatMap(r => Iterator(r.get(0), r.get(1)))
      .toArray.distinct
    val probes = spark.createDataFrame(
      (bp.map(r => Row(r.get(0), r.get(1))) ++ bn.map(v => Row(v, v))).toSeq.asJava,
      pairSchema)
    val hits = standingAdj
      .join(broadcast(probes),
        standingAdj("node") === probes("a") && standingAdj("nbr") === probes("b"),
        "left_semi")
      .select(col("node"), col("nbr")).collect()
      .map(r => (r.get(0), r.get(1))).toSet
    val dp = bp.filter(r => !hits.contains((r.get(0), r.get(1))))
    val nn = bn.filterNot(v => hits.contains((v, v)))
    val deltaAdj = spark.createDataFrame(
      (dp.flatMap(r => Seq(Row(r.get(0), r.get(1)), Row(r.get(1), r.get(0)))) ++
        nn.map(v => Row(v, v))).toSeq.asJava,
      adjSchema)
    Delta(
      batchPairs,
      spark.createDataFrame(dp.toSeq.asJava, pairSchema),
      spark.createDataFrame(nn.map(Row(_)).toSeq.asJava, nodeSchema),
      deltaAdj,
      nn.length.toLong)
  }

  /** Expand `ball(dirty ∩ graph, hops)` over the union adjacency. The
    * frontier is DRIVER-RESIDENT: it is broadcast-bounded by contract
    * (every consumer ships it to executors via `broadcast()`, which
    * collects it to the driver anyway), so each hop is ONE job — scan +
    * distinct + bounded collect — instead of the checkpoint-then-count
    * pair the distributed form paid (the dispatch premium is what the
    * front door charges on the full branch; halving its job count is
    * what makes the premium ~2 scans). A `LIMIT bail+1` bounds every
    * collect: when a hop returns more than `bail` rows — the broadcast
    * gate, or the dispatcher's fraction threshold via `bailRows` (the
    * ball is monotone, so once crossed the full branch is decided and
    * further scans are waste) — expansion STOPS, `withinGate` is
    * false, and the returned frontier is that hop's TRUNCATED sample
    * (callers must not vote on it; both callers discard it). */
  private def expandBall(
      adjScan: => DataFrame,
      standingAdj: DataFrame,
      d: Delta,
      dirty: DataFrame,
      hops: Int,
      bailRows: Long = Long.MaxValue
  ): (DataFrame, Long, Boolean) = {
    val spark = standingAdj.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "node", standingAdj.schema("node").dataType)))
    def toDf(rows: Array[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val bail = math.min(bailRows, BroadcastFrontierMaxRows).toInt
    var rows = standingAdj.where(col("node") === col("nbr")).select("node")
      .unionByName(d.newNodes)
      .join(broadcast(dirty.select(col(dirty.columns.head).as("node")).distinct()),
        Seq("node"), "left_semi")
      .distinct()
      .limit(bail + 1)
      .collect()
    if (rows.length > bail) return (toDf(rows), rows.length, false)
    for (_ <- 1 to hops) {
      rows = adjScan
        .join(broadcast(toDf(rows).select(col("node").as("nbr"))), Seq("nbr"))
        .select("node").distinct()
        .limit(bail + 1)
        .collect()
      if (rows.length > bail) return (toDf(rows), rows.length, false)
    }
    (toDf(rows), rows.length, true)
  }

  /** The restricted vote rounds over a computed frontier — the shared
    * core of [[labelPropagationLocalOnAdj]] and the local branch of
    * [[communityRefreshAuto]]. Releases everything it checkpoints
    * (including `frontier`) except the returned labeling; the caller
    * owns the delta frames. */
  private def localVoteRoundsOnAdj(
      standingAdj: DataFrame,
      d: Delta,
      seeds: DataFrame,
      frontier: DataFrame,
      iterations: Int
  ): DataFrame = {
    val seedLbl = seeds.select(col("node"), col("label").as("lbl"))
    def adjScan = standingAdj.unionByName(d.deltaAdj)
    val newNodes = d.newNodes
    val bf = broadcast(frontier)
    val adjF = adjScan.join(bf, Seq("node"), "left_semi")
      .repartition(col("nbr"))
      .sortWithinPartitions("nbr")
      .localCheckpoint(true) // blast-radius-sized
    val nbrSet = adjF.select(col("nbr").as("node")).distinct().localCheckpoint(true)
    // labels ever consulted: frontier nodes (voted) + frozen neighbors
    val frozenNbr = seedLbl
      .join(broadcast(nbrSet), Seq("node"), "left_semi")
      .join(bf, Seq("node"), "left_anti")
      .localCheckpoint(true)
    var cur = seedLbl.join(bf, Seq("node"), "left_semi")
      .unionByName(newNodes.join(bf, Seq("node"), "left_semi")
        .select(col("node"), col("node").as("lbl")))
      .localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val lab = cur.unionByName(frozenNbr)
      val votes = adjF
        .join(lab.select(col("node").as("nbr"), col("lbl")), Seq("nbr"))
        .groupBy(col("node"), col("lbl"))
        .agg(count(lit(1)).as("votes"))
      val next = votes
        .groupBy("node")
        .agg(min(struct((-col("votes")).as("nv"), col("lbl").as("l"))).as("w"))
        .select(col("node"), col("w.l").as("lbl"))
        .localCheckpoint(true)
      CheckpointBridge.release(cur)
      cur = next
    }
    // output: refreshed frontier + the seed rows outside it, verbatim
    // (the seeds-are-exactly-the-standing-labeling contract)
    val out = cur
      .unionByName(seedLbl.join(bf, Seq("node"), "left_anti"))
      .select(col("node"), col("lbl").as("label"))
      .localCheckpoint(true)
    Seq(cur, frozenNbr, nbrSet, adjF, frontier)
      .foreach(CheckpointBridge.release)
    out
  }

  /** FULL seeded refresh against a PERSISTED standing adjacency — the
    * other half of the per-batch dispatch: [[labelPropagationFrom]]'s
    * vote rounds run over `standingAdj` plus the batch's delta, with
    * labels seeded from the persisted standing labeling (new nodes
    * seed at their own id), but WITHOUT re-paying the canonicalize +
    * adjacency rebuild [[labelPropagationFrom]] does from raw edges.
    * Same `seeds`/`standingAdj` contracts as
    * [[labelPropagationLocalOnAdj]] (lpaAdjacency output; seeds =
    * exactly the standing labeling).
    *
    * Scale shape, per batch: ONE corpus-sized exchange to lay the
    * union adjacency out on the per-round join key (checkpointed, so
    * the `iterations` sort-merge joins reuse it), then the standard
    * per-round label shuffle — cost proportional to the standing
    * corpus, which is exactly when [[communityRefreshAuto]] picks it:
    * on a ball that already spans the graph, the localized variant
    * pays this AND the frontier bookkeeping on top (SCALING.md r17:
    * 20.8 s local vs 7.1 s full on an expander). */
  def labelPropagationFromOnAdj(
      standingAdj: DataFrame,
      newEdges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      iterations: Int = 4
  ): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      s"iterations must be in [1, 20], got $iterations")
    val d = deriveDelta(standingAdj, newEdges, srcCol, dstCol)
    val out = fullVoteRoundsOnAdj(standingAdj, d, seeds, iterations)
    Seq(d.deltaAdj, d.newNodes, d.deltaPairs, d.batchPairs)
      .foreach(CheckpointBridge.release)
    out
  }

  private def fullVoteRoundsOnAdj(
      standingAdj: DataFrame,
      d: Delta,
      seeds: DataFrame,
      iterations: Int
  ): DataFrame = {
    val adj = standingAdj.unionByName(d.deltaAdj)
      .repartition(col("nbr"))
      .sortWithinPartitions("nbr")
      .localCheckpoint(true)
    var labels = standingAdj.where(col("node") === col("nbr")).select("node")
      .unionByName(d.newNodes)
      .join(seeds.select(col("node"), col("label").as("__seed")), Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), col("node")).as("lbl"))
      .localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val votes = adj
        .join(labels.select(col("node").as("nbr"), col("lbl")), Seq("nbr"))
        .groupBy(col("node"), col("lbl"))
        .agg(count(lit(1)).as("votes"))
      val next = votes
        .groupBy("node")
        .agg(min(struct((-col("votes")).as("nv"), col("lbl").as("l"))).as("w"))
        .select(col("node"), col("w.l").as("lbl"))
        .localCheckpoint(true)
      CheckpointBridge.release(labels)
      labels = next
    }
    val out = labels.select(col("node"), col("lbl").as("label"))
    CheckpointBridge.release(adj)
    out
  }

  /** Refresh-strategy FRONT DOOR: measure the blast radius FIRST, then
    * dispatch — the localized refresh
    * ([[labelPropagationLocalOnAdj]]'s restricted vote rounds) when the
    * `hops`-hop ball around `dirty` covers at most
    * `maxLocalBallFraction` of the graph, the full seeded refresh
    * ([[labelPropagationFromOnAdj]]) when it covers more or outgrows
    * the broadcast gate.
    *
    * Why dispatch at all: the localized refresh's advantage is
    * proportional to what it does NOT touch. On bounded-component
    * graphs (dup-cluster graphs, sessionized event graphs) the ball is
    * batch-sized and the local path is flat per batch; on expander-like
    * graphs (kNN semantic graphs — SCALING.md r17 measured a 4-hop
    * ball reaching 98.8% of a 510k-node kNN graph) the "restriction"
    * re-votes the whole graph plus frontier bookkeeping and the full
    * refresh is strictly cheaper (20.8 s local vs 7.1 s full in the
    * r17 gate). The ball fraction is measurable for exactly the cost
    * of the expansion the local path would pay anyway, so the wrong
    * branch is never taken silently.
    *
    * The diagnostic is replayable: ball = `hops` rounds of frontier
    * expansion (an exact set, the frontierCtes of the SQL twin),
    * graph size = `seeds` rows + genuinely-new batch nodes, and the
    * dispatch is a pure threshold on their ratio — a DuckDB twin
    * replays the branch decision and then the branch.
    *
    * Same contracts as [[labelPropagationLocalOnAdj]]: `standingAdj`
    * is [[lpaAdjacency]] output, `seeds` is exactly the standing
    * labeling (one row per standing node), `dirty` covers the batch's
    * new node ids. */
  def communityRefreshAuto(
      standingAdj: DataFrame,
      newEdges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      dirty: DataFrame,
      hops: Int = 4,
      iterations: Int = 4,
      maxLocalBallFraction: Double = 0.5
  ): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      s"iterations must be in [1, 20], got $iterations")
    require(hops >= 1 && hops <= 20, s"hops must be in [1, 20], got $hops")
    require(maxLocalBallFraction > 0.0 && maxLocalBallFraction <= 1.0,
      s"maxLocalBallFraction must be in (0, 1], got $maxLocalBallFraction")
    val d = deriveDelta(standingAdj, newEdges, srcCol, dstCol)
    // graph size without an adjacency scan: seeds is one row per
    // standing node by contract, the new-node count rides the delta
    // derivation for free; counted FIRST so the expansion can bail the
    // moment the ball crosses the dispatch line (on an expander that
    // is hop 1-2 of 4 — the scans after the decision is forced would
    // be pure overhead)
    val totalNodes = seeds.count() + d.newNodeCount
    val (frontier, ballRows, withinGate) =
      expandBall(standingAdj.unionByName(d.deltaAdj), standingAdj, d, dirty, hops,
        bailRows = math.floor(maxLocalBallFraction * totalNodes).toLong)
    val local = withinGate &&
      totalNodes > 0 && ballRows <= maxLocalBallFraction * totalNodes
    val out =
      if (local) localVoteRoundsOnAdj(standingAdj, d, seeds, frontier, iterations)
      else {
        CheckpointBridge.release(frontier)
        fullVoteRoundsOnAdj(standingAdj, d, seeds, iterations)
      }
    Seq(d.deltaAdj, d.newNodes, d.deltaPairs, d.batchPairs)
      .foreach(CheckpointBridge.release)
    out
  }

  /** Weakly connected components: `(node, component)` where `component`
    * is the COMPONENT-MINIMUM node id — the general-graph face of the
    * dedup pipeline's cluster machinery ([[Dedup.duplicateClusters]]'s
    * large-star/small-star contraction, O(log n) rounds over the edge
    * list, stopped by an exact star-forest test — see that scaladoc for
    * the round counts). Isolated nodes never appear in an edge list, so
    * every input node is emitted and labels are exact component minima
    * — which is what makes a fixed-unroll
    * min-propagation SQL replica exact once unrolled past the graph's
    * propagation depth.
    *
    * Scale shape: inherited from the contraction — per round two
    * group-join passes over the EDGE list (never the node payloads),
    * checkpointed at O(1) persisted copies; rounds logarithmic in the
    * largest component's size, not its diameter (the reason this beats
    * min-label propagation, whose round count is the graph diameter —
    * a 100 TB web graph's chain-shaped tails would pay hundreds of
    * propagation rounds where contraction pays ~log). */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String
  ): DataFrame = {
    val und = Triangles.canonicalEdges(edges, srcCol, dstCol)
    val nodes = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .distinct()
    Dedup.duplicateClusters(nodes, "node",
        und.select(col("a").as("id_a"), col("b").as("id_b")))
      .select(col("node"), col("cluster_id").as("component"))
  }

  /** Community rollup: `(label, n_members, min_member, max_member)` —
    * the per-community summary a sampling-quota stage consumes. One
    * extra map-side-combined aggregate over the label table. */
  def communitySizes(labels: DataFrame): DataFrame =
    labels.groupBy("label").agg(
      count(lit(1)).as("n_members"),
      min("node").as("min_member"),
      max("node").as("max_member"))

  /** Newman modularity of a labeling (Newman & Girvan 2004, public) —
    * the standard did-the-communities-mean-anything score, Q in
    * [-0.5, 1]: fraction of edges inside communities minus the expected
    * fraction under the degree-preserving null model.
    *
    * Exactness: Q = sum_c [e_c/m - (d_c/2m)^2] has the integer closed
    * form `q_num / q_den` with q_num = 4m*sum_c(e_c) - sum_c(d_c^2) and
    * q_den = 4m^2 — so everything distributed is exact longs, and the
    * single `q_num/q_den` IEEE division (then round 6) is identical in
    * any engine. No floored micro-units here because Q can be negative
    * and Spark's `div` truncates toward zero while SQL `//` floors.
    *
    * One row out: `(n_edges, intra_edges, q_num, q_den, modularity)`.
    * Plan: two label equi-joins onto the canonical edge set + two
    * map-side-combined aggregates; nothing is ever keyed by pair. */
  def modularity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      labels: DataFrame
  ): DataFrame = {
    val und = Triangles.canonicalEdges(edges, srcCol, dstCol)
    val lab = labels.select(col("node"), col("label"))
    val tagged = und
      .join(lab.select(col("node").as("a"), col("label").as("__la")), Seq("a"))
      .join(lab.select(col("node").as("b"), col("label").as("__lb")), Seq("b"))
    val counts = tagged.agg(
      count(lit(1)).as("n_edges"),
      coalesce(sum(when(col("__la") === col("__lb"), 1L).otherwise(0L)), lit(0L))
        .as("intra_edges"))
    // per-community degree sums over the labeled adjacency, then their
    // squares summed — self-loops are gone, so sum(d_c) = 2m exactly
    val degSq = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .join(lab, Seq("node"))
      .groupBy("label").agg(count(lit(1)).as("d_c"))
      .agg(coalesce(sum(col("d_c") * col("d_c")), lit(0L)).as("sum_d_sq"))
    counts.crossJoin(broadcast(degSq)) // two one-row frames -> BNLJ, no cartesian
      .select(col("n_edges"), col("intra_edges"),
        (lit(4L) * col("n_edges") * col("intra_edges") - col("sum_d_sq")).as("q_num"),
        (lit(4L) * col("n_edges") * col("n_edges")).as("q_den"))
      .withColumn("modularity", round(col("q_num") / col("q_den"), 6))
  }
}
