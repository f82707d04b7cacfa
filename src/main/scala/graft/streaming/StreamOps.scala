package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}

/** Structured Streaming counterparts of the batch pipeline operators.
  *
  * The reference has no stream processing (its `streaming` flag is the
  * Polars out-of-core engine, SURVEY.md §0) — these are the
  * beyond-parity streaming surfaces a large-scale ingest pipeline needs,
  * expressed with stock Structured Streaming primitives so state stores,
  * watermark semantics, and exactly-once sinks come for free:
  *
  *  - [[sessionize]]: event-time session windows per user via the native
  *    `session_window` (gap-based), state bounded by the watermark;
  *  - [[dedupByFingerprint]]: streaming near-exact dedup on the
  *    normalized-content fingerprint via `dropDuplicates` within the
  *    watermark horizon (the standard bounded-state trade: duplicates
  *    farther apart than the horizon require the batch pass);
  *  - [[textStats]]: stateless per-document enrichment (same codegen'd
  *    expressions as batch — usable verbatim on a stream).
  *
  * All three take/return plain DataFrames, so they compose with
  * `spark.readStream` sources and `writeStream` sinks unchanged.
  */
object StreamOps {

  /** Per-user gap-based sessions over an event-time stream.
    *
    * @param events     streaming DataFrame with `userCol`, `tsCol`
    *                   (TimestampType event time) and `valueCol`
    * @param gapSeconds session gap; also used as the watermark delay so a
    *                   session closes once the watermark passes its end
    */
  def sessionize(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value",
      gapSeconds: Long = 1800,
      watermarkDelay: String = "30 minutes"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(col(userCol), session_window(col(tsCol), s"$gapSeconds seconds"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col(valueCol)), 6).as("sum_value"))
      .select(col(userCol), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Open-session state for [[sessionizeStateful]]: millis since epoch
    * plus running aggregates. Top-level so the product Encoder derives. */
  case class OpenSession(startMs: Long, lastMs: Long, n: Long, sum: Double)

  /** Running-EWMA state for [[ewmaState]]: event count + current value. */
  case class EwmaState(n: Long, y: Double)

  /** One reservoir entry: the A-ES race key, the row id, its weight. */
  case class ReservoirItem(k: Double, id: Long, w: Double)

  /** Reservoir state for [[weightedReservoir]]: the n smallest keys seen. */
  case class ReservoirState(items: Seq[ReservoirItem])

  /** Streaming twin of [[graft.operators.Shuffling.weightedSampleN]]:
    * a weighted sample WITHOUT replacement maintained incrementally.
    * The Efraimidis–Spirakis key makes this trivially correct online:
    * the sample of a stream prefix is exactly the n smallest
    * `-ln(u)/w` keys seen so far, and that set is mergeable — so state
    * is n rows, each batch folds its rows in, and every emitted
    * snapshot (update mode) is IDENTICAL to running the batch sampler
    * on the stream-so-far (same key arithmetic, same (key, id)
    * order). Key computation is a stateless scan-speed projection; the
    * merge itself runs in a single state group (n is small — tens to
    * thousands; a per-partition pre-cut stage would bound the group's
    * input for very hot streams, at the cost of a second shuffle).
    * Output per batch: the current reservoir `(id, weight,
    * sample_key)`. */
  def weightedReservoir(
      rows: DataFrame,
      idCol: String,
      weightCol: String,
      n: Int,
      seed: Long
  ): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    require(n >= 1, s"n must be >= 1, got $n")
    val session = rows.sparkSession
    import session.implicits._
    val w = col(weightCol).cast("double")
    val keyed = rows
      .where(w.isNotNull && !isnan(w) && w > 0 && col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"), w.as("__w"),
        (-log(graft.operators.Shuffling.hashUniformOpen(col(idCol), seed)) / w).as("__k"))
      .as[(Long, Double, Double)]
    keyed.groupByKey(_ => 0)
      .mapGroupsWithState[ReservoirState, Seq[ReservoirItem]](GroupStateTimeout.NoTimeout) {
        case (_, batch, state) =>
          val merged =
            (state.getOption.map(_.items).getOrElse(Seq.empty) ++
              batch.map { case (id, w0, k) => ReservoirItem(k, id, w0) })
              .sortBy(i => (i.k, i.id)).take(n)
          state.update(ReservoirState(merged))
          merged
      }
      .flatMap(identity)
      .select(col("id"), col("w").as("weight"), col("k").as("sample_key"))
  }

  /** Streaming twin of [[graft.operators.Sessionize.ewma]]: a per-key
    * running EWMA maintained in `mapGroupsWithState` (Update output mode
    * — each micro-batch emits the refreshed `(key, n_events, ewma)` row
    * for keys it touched). State is two numbers per key — O(keys),
    * watermark-free by design (an EWMA never "closes").
    *
    * Within a micro-batch, rows fold in (ts, tie) order — the same total
    * order as the batch operator (full-precision Timestamp comparison,
    * not millis) — so on an in-event-time-order stream (each batch's
    * events no older than the previous batch's) every emitted row is
    * BIT-IDENTICAL to running the batch operator on the stream-so-far:
    * same fold sequence `y_1 = x_1; y = a*x + (1-a)*y`, same IEEE
    * constants. Out-of-order arrivals fold at arrival position instead
    * of event position (the standard recurrence-vs-late-data trade;
    * session-style buffering would need a watermark and an EWMA horizon
    * cut — compose [[sessionizeStateful]]'s shape if that is needed). */
  def ewmaState(
      events: DataFrame,
      keyCol: String = "user_id",
      tsCol: String = "ts",
      tieCol: String = "event_id",
      valueCol: String = "value",
      alpha: Double = 0.3
  ): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val beta = 1.0 - alpha // ONE subtraction here, matching the batch operator's lit(beta)
    val session = events.sparkSession
    import session.implicits._
    val typed = events
      .where(col(valueCol).isNotNull && col(keyCol).isNotNull)
      .select(col(keyCol).cast("long").as("__k"),
        col(tsCol).cast("timestamp").as("__t"),
        col(tieCol).cast("long").as("__tie"),
        col(valueCol).cast("double").as("__v"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[EwmaState, (Long, Long, Double)](GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          val sorted = rows.toIndexedSeq.sortBy(r => (r._2, r._3))(
            Ordering.Tuple2(Ordering.ordered[java.sql.Timestamp], Ordering.Long))
          var (n, y) = state.getOption.map(s => (s.n, s.y)).getOrElse((0L, 0.0))
          sorted.foreach { case (_, _, _, v) =>
            y = if (n == 0) v else alpha * v + beta * y
            n += 1
          }
          state.update(EwmaState(n, y))
          (key, n, y)
      }
      .toDF(keyCol, "n_events", "ewma")
  }

  /** Gap-based sessionization with CUSTOM state via
    * `flatMapGroupsWithState` — the same semantics as [[sessionize]]
    * (`session_window`), re-expressed on the arbitrary-state API for the
    * session logic the built-in can't grow into (per-session derived
    * metrics, conditional session splits, enrichment at close). State is
    * one [[OpenSession]] per active user, closed either by an in-batch
    * gap or by an `EventTimeTimeout` once the watermark passes
    * `last event + gap` — so state size is bounded by ACTIVE users, and
    * a dead key leaves the store at timeout exactly like the built-in's
    * window state. Late rows under the watermark within a batch are
    * handled by sorting the batch's rows per key before merging;
    * StreamOpsSpec pins output identity against [[sessionize]] on the
    * same stream. */
  def sessionizeStateful(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value",
      gapSeconds: Long = 1800,
      watermarkDelay: String = "30 minutes"
  ): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val session = events.sparkSession
    import session.implicits._
    val gapMs = gapSeconds * 1000L
    // cast BEFORE the watermark: a projection over a watermarked column
    // re-binds the attribute and silently drops the watermark tag, and
    // EventTimeTimeout refuses to plan without it
    val typed = events
      .select(col(userCol).cast("long").as("__u"),
        col(tsCol).cast("timestamp").as("__t"),
        col(valueCol).cast("double").as("__v"))
      .withWatermark("__t", watermarkDelay)
      .as[(Long, java.sql.Timestamp, Double)]
    val out = typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession,
        (Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state) =>
          def close(s: OpenSession) =
            (user, new java.sql.Timestamp(s.startMs),
              new java.sql.Timestamp(s.lastMs + gapMs), s.n, s.sum)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(close(s))
          } else {
            val sorted = rows.toIndexedSeq.sortBy(_._2.getTime)
            var closed = List.empty[OpenSession]
            var cur = state.getOption
            sorted.foreach { case (_, t, v) =>
              val ms = t.getTime
              cur match {
                case Some(s) if ms - s.lastMs <= gapMs =>
                  cur = Some(OpenSession(s.startMs, math.max(s.lastMs, ms),
                    s.n + 1, s.sum + v))
                case Some(s) =>
                  closed ::= s
                  cur = Some(OpenSession(ms, ms, 1L, v))
                case None =>
                  cur = Some(OpenSession(ms, ms, 1L, v))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.reverseIterator.map(close)
          }
      }
    out.toDF(userCol, "session_start", "session_end", "n_events", "sum_value")
      .withColumn("sum_value", round(col("sum_value"), 6))
  }

  /** Tumbling event-time rollup — the streaming twin of the batch
    * `event_hourly_rollup` catalog entry: counts and value sums per
    * (window, type) bucket via the native `window()` aggregate, state
    * bounded by the watermark (a bucket finalizes and leaves the state
    * store once the watermark passes its end). Same epoch-aligned
    * buckets as the batch entry, so a backfill job and the live stream
    * roll up into interchangeable rows. */
  def windowedRollup(
      events: DataFrame,
      tsCol: String = "ts",
      typeCol: String = "event_type",
      valueCol: String = "value",
      windowLength: String = "1 hour",
      watermarkDelay: String = "1 hour"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLength), col(typeCol))
      .agg(
        count(lit(1)).cast("long").as("n_events"),
        round(sum(col(valueCol)), 6).as("sum_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col(typeCol), col("n_events"), col("sum_value"))

  /** HOPPING (sliding) streaming rollup — the twin of the batch
    * `event_hopping_rollup` entry: overlapping `windowLength` windows
    * every `slide`, each event contributing to length/slide buckets.
    * Same native `window(len, slide)` aggregate as [[windowedRollup]];
    * state per open window is one partial aggregate and the watermark
    * finalizes a window `watermarkDelay` after its END, so at any time
    * ~(length/slide + delay/slide) windows per type are live — the
    * smoothing-vs-state trade is the slide knob. Batch rows and stream
    * rows are interchangeable (same epoch-aligned starts). */
  def hoppingRollup(
      events: DataFrame,
      tsCol: String = "ts",
      typeCol: String = "event_type",
      valueCol: String = "value",
      windowLength: String = "1 hour",
      slide: String = "15 minutes",
      watermarkDelay: String = "1 hour"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLength, slide), col(typeCol))
      .agg(
        count(lit(1)).cast("long").as("n_events"),
        round(sum(col(valueCol)), 6).as("sum_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col(typeCol), col("n_events"), col("sum_value"))

  /** Streaming dedup: first occurrence of each normalized-content
    * fingerprint within the watermark horizon survives.
    * `dropDuplicatesWithinWatermark` (not plain `dropDuplicates`) is what
    * bounds the state store: fingerprints older than the watermark delay
    * are evicted, so duplicates farther apart than the horizon need the
    * batch pass — the documented trade. Plain `dropDuplicates` on a
    * non-event-time key would keep one state row per distinct fingerprint
    * forever. */
  def dedupByFingerprint(
      docs: DataFrame,
      textCol: String = "text",
      tsCol: String = "ts",
      watermarkDelay: String = "1 hour"
  ): DataFrame =
    docs
      .withColumn("fingerprint", TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Streaming ANN probe: a stream of query vectors equi-joins the STATIC
    * LSH bucket index ([[Similarity.lshIndex]] output, persisted and
    * bucketed by `bucket` at scale) — the stream-static join pattern, so
    * only the probed buckets of the index are read per micro-batch and no
    * state store is involved in the join. Exact cosine reranks the
    * candidates; the per-query best match is a plain streaming aggregation
    * (max over a (cosine, -id) struct: ties go to the smaller corpus id).
    * Use update/complete output mode, or add a watermark upstream for
    * append. Same probe-ball semantics as [[Similarity.annTopKForQueries]]
    * (`probeRadius = nBits` degenerates to an exhaustive bucketed scan). */
  def annProbe(
      queries: DataFrame,
      index: DataFrame,
      queryIdCol: String = "query_id",
      vecCol: String = "embedding",
      nBits: Int = 12,
      probeRadius: Int = 1,
      dim: Int
  ): DataFrame = {
    // the tie-break negates the corpus id inside a max(), which needs a
    // numeric id — fail at plan-build time, not per-row under ANSI
    require(index.schema("id").dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"annProbe: index id column must be numeric for the deterministic tie-break, " +
        s"got ${index.schema("id").dataType}")
    val probed = Similarity.probeBuckets(queries, queryIdCol, vecCol, nBits, probeRadius, dim)
    val scored = probed.join(index, Seq("bucket"))
      .withColumn("cosine",
        Similarity.cosine(col("qvec"), col("vec").cast("array<double>")))
    scored
      .groupBy("query_id")
      .agg(max(struct(col("cosine"), (-col("id").cast("long")).as("nid"))).as("best"))
      .select(col("query_id"), (-col("best.nid")).as("corpus_id"), col("best.cosine").as("cosine"))
  }

  /** Streaming BM25 scorer: a stream of text queries scores a FROZEN
    * corpus index ([[graft.operators.Tfidf.bm25Index]], persisted at
    * scale with the tf table bucketed by `term` — the probe key) — the
    * lexical-search serving shape. Emits the per-(query, doc) BM25
    * partial result `(query_id, doc_id, n_terms, score)` in update
    * mode; the top-k rank is the CONSUMER's cut (a rank window is a
    * second aggregation, which a single incremental query cannot run —
    * the foreachBatch-the-batch-operator pattern applies if end-to-end
    * ranking must live in one stream).
    *
    * Query terms dedup IN-ROW (`array_distinct`, stateless) rather than
    * via `distinct()` — matching the batch operator's distinct-term
    * semantics without spending the one allowed aggregation. Stream-
    * static joins keyed on term/doc; only the one-row stats broadcast.
    * Identical IEEE score arithmetic and the same term-sorted in-row
    * fold as [[graft.operators.Tfidf.bm25TopK]], so stream rows are
    * BIT-IDENTICAL to the batch scorer's pre-rank table
    * (StreamOpsSpec). */
  def bm25Probe(
      queries: DataFrame,
      index: graft.operators.Tfidf.Bm25Index,
      queryIdCol: String = "query_id",
      queryTextCol: String = "qtext",
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    val qterms = queries.select(col(queryIdCol).as("query_id"),
        explode(array_distinct(split(lower(trim(col(queryTextCol))), "\\s+"))).as("term"))
      .where(length(col("term")) > 0)
    val scored = qterms
      .join(index.tf, Seq("term"))
      .join(index.df, Seq("term"))
      .join(index.dl, Seq("doc_id"))
      .crossJoin(broadcast(index.stats))
      .withColumn("__idf",
        log(lit(1.0) + (col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("__s",
        col("__idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))))
    scored.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"),
        aggregate(
          array_sort(collect_list(struct(col("term"), col("__s")))),
          lit(0.0), (acc, x) => acc + x.getField("__s")).as("score"))
  }

  /** IVF-pruned streaming PQ probe: a stream of query vectors scores a
    * STATIC compressed code table ([[Similarity.pqEncode]] output,
    * cell-bucketed and persisted at scale) by ADC and keeps each
    * query's best match — the memory-compressed twin of [[annProbe]],
    * with the batch side's coarse-quantizer pruning composed in. Per
    * micro-batch the query stream touches only its `nprobe` nearest
    * cells' codes, never the whole code table (an unpruned
    * stream-static scoring join re-scans every code per batch — the
    * r7-flagged scale wart whose deprecated `pqProbe` carrier was
    * removed in r17; this reads nprobe/nlist of a cell-bucketed table).
    * Because a stream cannot collect, the per-query lookup table is not
    * driver-built: the whole codebook ships as ONE plan literal
    * (m x k x subDim doubles — ~8 KB at 8x16x8) and each candidate
    * (query, code-row) pair computes its ADC in-plan with exactly
    * [[Similarity.pqTopK]]'s arithmetic (r9-rounded subdistances,
    * ordered subspace fold, 6-dp result), so stream == batch is an
    * identity, not an approximation (StreamOpsSpec).
    *
    * Cell ranking happens IN-PLAN (a stream cannot collect): the
    * centroid TABLE — the [[Similarity.centroidTable]] persisted-sidecar
    * shape, no plan-literal centroid explosion at large nlist — folds
    * once into a one-row cell-sorted array (DATA on the static side;
    * pass a cached/persisted table so the fold isn't recomputed per
    * batch), each query ranks cells with exactly the batch probe's
    * arithmetic (full squared distance, element-order fold, lower-cell
    * ties), and the top-nprobe cells explode into a stream-static
    * EQUI-join against the cell-bucketed code table. ADC scoring and the
    * per-query best-match aggregate use the batch arithmetic verbatim,
    * so stream == batch [[Similarity.ivfPqTopKOnCelledCodes]] top-1 is
    * an identity (StreamOpsSpec), not an approximation.
    *
    * @param celledCodes static (id, codes, cell) table — the
    *        [[Similarity.ivfPqTopKOnCelledCodes]] layout, bucketed by
    *        `cell` through IndexStore at scale
    * @param centroidTbl static (cell, centroid) table
    */
  def ivfPqProbe(
      queries: DataFrame,
      celledCodes: DataFrame,
      centroidTbl: DataFrame,
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      nprobe: Int = 2,
      queryIdCol: String = "query_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val m = codebooks.length
    val subDim = codebooks.head.head.length
    val dim = m * subDim
    // one-row static side: the centroid table as a cell-sorted array —
    // data, not a plan literal, so nlist 10^4-10^5 stays codegen-safe
    val centsRow = centroidTbl
      .select(struct(col("cell"),
        col("centroid").cast("array<double>").as("cvec")).as("c"))
      .agg(array_sort(collect_list(col("c"))).as("__cents"))
    // project qv FIRST (bare attribute references are free inside the
    // per-centroid lambda; an unprojected cast expression would
    // re-evaluate per centroid)
    val q0 = queries
      .select(col(queryIdCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .where(col("qv").isNotNull)
      .crossJoin(centsRow) // 1-row static side: broadcast, no state
    // rank cells with the batch probe's exact arithmetic: full squared
    // distance folded in element order, (d, cell) sort = lower-cell ties
    val ranked = q0.select(col("query_id"), col("qv"),
      slice(array_sort(transform(col("__cents"), c => struct(
        aggregate(sequence(lit(1), lit(dim)), lit(0.0d), (a, j) => {
          val t = element_at(c.getField("cvec"), j) - element_at(col("qv"), j)
          a + t * t
        }).as("d"),
        c.getField("cell").as("cell")))), 1, math.max(1, nprobe)).as("__probes"))
    val probed = ranked
      .select(col("query_id"), col("qv"), explode(col("__probes")).as("__p"))
      .select(col("query_id"), col("qv"), col("__p.cell").as("cell"))
    // stream-static EQUI-join on cell (bucket-prunable), then the batch
    // probe's ADC arithmetic and the single best-match aggregation
    val cbLit = typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    def r9(c: Column): Column = floor(c * lit(1e9) + lit(0.5)) / lit(1e9)
    val adc = aggregate(sequence(lit(0), lit(m - 1)), lit(0.0d), (acc, s) => {
      val cen = element_at(element_at(cbLit, s + 1), element_at(col("codes"), s + 1) + 1)
      acc + r9(aggregate(sequence(lit(1), lit(subDim)), lit(0.0d), (a, j) => {
        val t = element_at(col("qv"), s * lit(subDim) + j) - element_at(cen, j)
        a + t * t
      }))
    })
    probed
      .join(celledCodes.select(col("cell"), col("id"), col("codes")), Seq("cell"))
      .select(col("query_id"), col("id"), round(adc, 6).as("adc"))
      .groupBy("query_id")
      .agg(min(struct(col("adc"), col("id"))).as("best"))
      .select(col("query_id"), col("best.id").as("corpus_id"), col("best.adc").as("adc"))
  }

  /** Stateless text enrichment — identical expressions to the batch path. */
  def textStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t: Column = col(textCol)
    docs
      .withColumn("n_ws_tokens", TextFunctions.wsTokenCount(t))
      .withColumn("quality", TextFunctions.qualityScore(t))
      .withColumn("lang", TextFunctions.langId(t))
      .withColumn("fingerprint", TextFunctions.fingerprint(t))
  }

  /** Streaming benchmark decontamination — the STATELESS reshape of
    * [[graft.operators.Decontamination.flagContaminated]]: instead of
    * explode + per-doc aggregate (which would need a state store on a
    * stream), each document's distinct shingle ARRAY intersects the
    * benchmark's whole shingle set in-row (`array_intersect` against the
    * 1-row static side of a stream-static cross join — broadcast, no
    * state, append-mode friendly). Identical output to the batch
    * operator on the same data (DecontaminationSpec pins this).
    *
    * `benchmark` is a STATIC DataFrame; its 1-row shingle-set aggregate
    * re-executes per micro-batch unless the caller caches it — pass
    * `benchmark.cache()` (eval sets are tiny) or a pre-persisted table.
    * The 1-row static side joins with an EXPLICIT `broadcast()` (the
    * batch twin's marker at `Decontamination.flagContaminated`) — one
    * row, but the row carries the WHOLE benchmark shingle set, so it
    * must ship driver→executor once as a broadcast, never shuffle.
    * `maxBenchShingles` bounds that set at plan time (`require`): in-row
    * intersect cost is O(|doc| x log |bench|) per document and the set
    * must fit comfortably in executor memory; for benchmark sets beyond
    * the bound, fall back to the batch operator's exploded
    * broadcast-join shape over micro-batch sinks. */
  def decontaminate(
      docs: DataFrame,
      benchmark: DataFrame,
      textCol: String = "text",
      n: Int = 3,
      minOverlap: Long = 1L,
      maxBenchShingles: Long = 10000000L
  ): DataFrame = {
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    require(maxBenchShingles >= 1,
      s"maxBenchShingles must be >= 1, got $maxBenchShingles")
    val benchSh = benchmark
      .select(explode(Dedup.shingleSet(col(textCol), n)).as("__sh"))
      .agg(collect_set(col("__sh")).as("__bench_sh"))
      .select(when(size(col("__bench_sh")) > maxBenchShingles,
          raise_error(concat(lit("StreamOps.decontaminate: benchmark shingle set "),
            size(col("__bench_sh")).cast("string"),
            lit(s" exceeds maxBenchShingles=$maxBenchShingles — use the batch " +
              "Decontamination.flagContaminated exploded-join shape"))))
        .otherwise(col("__bench_sh")).as("__bench_sh"))
    docs
      .withColumn("__sh", Dedup.shingleSet(col(textCol), n))
      .crossJoin(broadcast(benchSh))
      .withColumn("n_shingles", size(col("__sh")).cast("long"))
      .withColumn("n_contaminated",
        size(array_intersect(col("__sh"), col("__bench_sh"))).cast("long"))
      .where(col("n_contaminated") >= lit(minOverlap))
      .withColumn("contamination_ratio",
        col("n_contaminated").cast("double") / col("n_shingles"))
      .drop("__sh", "__bench_sh")
  }

  /** Streaming DSIR scoring: every incoming document gets its importance
    * log-weight against a PRE-TRAINED DSIR model
    * ([[graft.operators.Scoring.dsirRatioTable]] — the bounded batch
    * artifact, exactly `nBuckets` rows). The ratio table folds into ONE
    * plan-literal map (the [[ivfPqProbe]] codebook-literal move: a stream
    * cannot collect, and nBuckets=10^4 doubles is LUT-sized), so scoring
    * is a pure stateless in-row projection — tokenize, hash grams to
    * buckets, fold the per-gram log-ratios — no join, no state store,
    * append mode.
    *
    * The in-row fold adds `__logr` once per gram OCCURRENCE (bucket-
    * sorted, so it is partitioning/batching-independent), where the
    * batch [[graft.operators.Scoring.dsirLogWeights]] multiplies each
    * bucket's ratio by its count — algebraically identical, FP-equal to
    * ~1e-12 relative (c·x vs x summed c times); StreamOpsSpec gates the
    * identity at 1e-9. `hashGram` and `nBuckets` must match the values
    * the ratio table was trained with. */
  def dsirScore(
      docs: DataFrame,
      ratio: DataFrame,
      textCol: String = "text",
      nBuckets: Int = 10000,
      hashGram: Column => Column = c => xxhash64(c)
  ): DataFrame = {
    val entries = ratio.select(col("__bucket"), col("__logr"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1)
    require(entries.nonEmpty, "dsirScore: empty ratio table")
    val lut = map_from_arrays(
      typedLit(entries.map(_._1).toSeq), typedLit(entries.map(_._2).toSeq))
    val toks = split(regexp_replace(lower(trim(col(textCol))), "\\s+", " "), " ")
    val ta = col("__toks")
    val n = size(ta)
    val bigrams = when(n >= lit(2),
      transform(sequence(lit(1), n - lit(1)),
        i => concat_ws(" ", element_at(ta, i), element_at(ta, i + lit(1)))))
      .otherwise(array().cast("array<string>"))
    val buckets = array_sort(transform(concat(ta, bigrams),
      g => pmod(hashGram(g), lit(nBuckets.toLong))))
    docs
      .withColumn("__toks", toks)
      .withColumn("__buckets", buckets)
      .withColumn("n_grams", size(col("__buckets")).cast("long"))
      .withColumn("log_weight",
        aggregate(col("__buckets"), lit(0.0d), (acc, b) => acc + element_at(lut, b)))
      .drop("__toks", "__buckets")
  }

  /** Streaming SEMANTIC decontamination: flag stream documents whose
    * embedding is near-duplicate (cosine >= `threshold`) of any benchmark
    * embedding — [[graft.operators.Decontamination.semanticPairs]] AT
    * INGEST. The benchmark's banded LSH table (band, bucket, bench_id,
    * vector) collapses to ONE broadcast row ([[decontaminate]]'s
    * bounded-bench rule, guarded by `maxBenchRows`); each stream row
    * computes its own band buckets, probes the in-row bench array for
    * band-bucket collisions, verifies exact cosine, and dedups multi-band
    * hits with `array_distinct` — completely STATELESS (no state store,
    * no aggregation), so any micro-batch slicing gives the batch
    * operator's exact pair rows.
    *
    * `rowsPerBand` is REQUIRED explicit (no auto default): a stream
    * cannot count its corpus, and the probe must band at the width the
    * batch pass resolved — the
    * [[graft.operators.Similarity.knnGraphAgainstIndex]] frozen-width
    * rule. Emits `(idCol, bench_id, cosine)` per contaminated pair;
    * clean documents emit nothing. */
  def semanticDecontaminate(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      rowsPerBand: Int,
      bands: Int = 2,
      maxBenchRows: Long = 100000L
  ): DataFrame = {
    require(maxBenchRows >= 1, s"maxBenchRows must be >= 1, got $maxBenchRows")
    // bench_id keeps the benchmark id's ORIGINAL type (the batch
    // Decontamination.semanticPairs contract) — a cast("long") here
    // silently nulled every non-numeric id; zero-norm vectors are
    // dropped on both sides (cosine is 0/0 = NaN, and NaN compares
    // ABOVE every double, so an unguarded NaN >= threshold is TRUE)
    val benchBanded = benchmark
      .where(Similarity.dot(col(vecCol).cast("array<double>"),
        col(vecCol).cast("array<double>")) > 0)
      .select(col(idCol).as("bench_id"),
        col(vecCol).cast("array<double>").as("v"),
        Similarity.bandBuckets(col(vecCol), bands, rowsPerBand, dim).as("__bk"))
      .select(col("bench_id"), col("v"),
        posexplode(col("__bk")).as(Seq("band", "bucket")))
      .agg(collect_list(struct(col("band"), col("bucket"),
        col("bench_id"), col("v"))).as("__bench"))
      .select(when(size(col("__bench")) > maxBenchRows,
          raise_error(concat(
            lit("StreamOps.semanticDecontaminate: benchmark banded table "),
            size(col("__bench")).cast("string"),
            lit(s" rows exceeds maxBenchRows=$maxBenchRows — use the batch " +
              "Decontamination.semanticPairs broadcast-join shape"))))
        .otherwise(col("__bench")).as("__bench"))
    docs
      .withColumn("__vd", col(vecCol).cast("array<double>"))
      .where(Similarity.dot(col("__vd"), col("__vd")) > 0)
      .withColumn("__bk", Similarity.bandBuckets(col(vecCol), bands, rowsPerBand, dim))
      .crossJoin(broadcast(benchBanded))
      .withColumn("__hits", array_distinct(transform(
        filter(col("__bench"), e =>
          element_at(col("__bk"), e.getField("band") + 1) === e.getField("bucket")),
        e => struct(e.getField("bench_id").as("bench_id"),
          Similarity.cosine(col("__vd"), e.getField("v")).as("cosine")))))
      .select(col(idCol),
        explode(filter(col("__hits"), h =>
          h.getField("cosine") >= lit(threshold))).as("__m"))
      .select(col(idCol), col("__m.bench_id").as("bench_id"),
        col("__m.cosine").as("cosine"))
  }

  /** Streaming Naive Bayes scoring: classify a document stream against a
    * fitted [[graft.operators.NaiveBayes.train]] model — the
    * quality/language routing gate applied AT INGEST instead of in a
    * nightly batch. The model (dense `labels x vocab` grid, <= 10k
    * tokens by the train contract) is collapsed to plan-literal lookup
    * tables ([[dsirScore]]'s LUT rule): one `token -> per-label logp_q
    * array` map and one prior array, so scoring is a pure per-row
    * codegen'd fold — stateless, no state store, no stream-static join,
    * identical on any micro-batch slicing.
    *
    * Exact identity with the batch twin: scores are the same integer
    * nano-nat sums ([[graft.operators.NaiveBayes.classify]]'s quantized
    * contract), so stream == batch holds bit for bit, including the
    * (score desc, label asc) argmax tie-break — the in-row argmax takes
    * the FIRST maximal index of the label-ascending array — and the
    * prior-argmax fallback for docs with no in-vocabulary token.
    * `bigramBuckets` must match the value the model was trained with
    * ([[graft.operators.NaiveBayes.train]]'s hashed-bigram features —
    * the shared feature builder keeps the streams' feature sequence
    * identical to the batch pass's, so the bigram flavor inherits the
    * same bit-exact identity). Appends `(predicted, score_q, n_known)`
    * to each row. */
  def nbClassify(
      docs: DataFrame,
      model: DataFrame,
      textCol: String = "text",
      bigramBuckets: Int = 0
  ): DataFrame = {
    val rows = model.select(col("label"), col("token"),
      col("logp_q").cast("long"), col("prior_q").cast("long")).collect()
    require(rows.nonEmpty, "nbClassify: empty model")
    // label order must be Spark's UTF8String BINARY order (unsigned
    // UTF-8 bytes), not Scala's UTF-16 code-unit order — the batch
    // twin's min(struct) tie-break compares labels as UTF-8 bytes, and
    // the two orders diverge on supplementary-plane characters
    val utf8 = Ordering.comparatorToOrdering(new java.util.Comparator[String] {
      def compare(a: String, b: String): Int = {
        val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        while (i < x.length && i < y.length) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        x.length - y.length
      }
    })
    val labels = rows.map(_.getString(0)).distinct.sorted(utf8).toSeq
    val priorByLabel = rows.map(r => r.getString(0) -> r.getLong(3)).toMap
    val priors: Seq[Long] = labels.map(priorByLabel)
    val byToken = rows.groupBy(_.getString(1))
    val tokens = byToken.keys.toSeq.sorted
    val mat: Seq[Seq[Long]] = tokens.map { t =>
      val m = byToken(t).map(r => r.getString(0) -> r.getLong(2)).toMap
      require(m.size == labels.size,
        s"nbClassify: model is not a dense labels x vocab grid at token '$t'")
      labels.map(m)
    }
    val lut = map_from_arrays(typedLit(tokens), typedLit(mat))
    val labelArr = typedLit(labels)
    // the batch twin's feature builder: filtered unigrams, plus hashed
    // bg#<bucket> bigram features when the model was trained with them
    val feats = graft.operators.NaiveBayes.features(col(textCol), bigramBuckets)
    val acc0 = struct(typedLit(priors).as("s"), lit(0L).as("k"))
    val folded = aggregate(
      feats,
      acc0,
      (acc, t) => {
        val hit = element_at(lut, t)
        when(hit.isNotNull,
          struct(
            zip_with(acc.getField("s"), hit, (a, b) => a + b).as("s"),
            (acc.getField("k") + lit(1L)).as("k")))
          .otherwise(acc)
      })
    docs
      .withColumn("__nb", folded)
      .withColumn("score_q", array_max(col("__nb.s")))
      .withColumn("predicted",
        element_at(labelArr, array_position(col("__nb.s"), col("score_q")).cast("int")))
      .withColumn("n_known", col("__nb.k"))
      .drop("__nb")
  }

  /** Streaming curation: the batch curation pipeline's STATELESS stages —
    * quality / token-count / repetition / symbol filters, then PII
    * scrubbing — verbatim on a stream (pure codegen'd projections and
    * filters, no state store). Survivors carry their signal columns for
    * downstream routing. Near-dup handling on the stream is
    * [[dedupByFingerprint]] (bounded state); the pair-graph dedup
    * (jaccard / MinHash / clusters) stays a batch pass over the
    * accumulated corpus — candidate generation needs a self-join, which
    * unbounded streams can't do with bounded state. */
  def curate(
      docs: DataFrame,
      textCol: String = "text",
      minQuality: Double = 0.5,
      minTokens: Long = 10,
      maxDupTokenFrac: Double = 0.5,
      maxSymbolRatio: Double = 0.2
  ): DataFrame = {
    val t: Column = col(textCol)
    docs
      .withColumn("lang", TextFunctions.langId(t))
      .withColumn("quality", TextFunctions.qualityScore(t))
      .withColumn("n_tokens", TextFunctions.wsTokenCount(t).cast("long"))
      .withColumn("dup_token_frac", TextFunctions.dupTokenFraction(t))
      .withColumn("symbol_ratio", TextFunctions.symbolRatio(t))
      .where(col("quality") >= minQuality && col("n_tokens") >= minTokens &&
        col("dup_token_frac") <= maxDupTokenFrac && col("symbol_ratio") <= maxSymbolRatio)
      .withColumn(textCol, TextFunctions.scrubPii(t))
  }

  /** Streaming incremental near-dup detection against a PERSISTED corpus
    * shingle index — the ingestion-time shape of
    * [[Dedup.jaccardPairsAgainstIndex]].
    *
    * The pair check is a multi-aggregation dataflow (pair-keyed groupBy
    * after a join), which append-mode streaming can't run incrementally,
    * so the production wiring is `foreachBatch`: each micro-batch is a
    * bounded DataFrame probed with the batch operator VERBATIM. The
    * corpus side is the [[graft.sources.IndexStore]]-bucketed inverted
    * shingle index read back from storage — per micro-batch the corpus
    * contributes a columnar (bucket-pruned-joinable) scan, never a
    * re-shingle and never a shuffle; only the micro-batch's own shingles
    * are computed fresh. `corpusIndex` is by-name so each batch re-reads
    * the table (picking up compactions/appends between batches).
    *
    * Identity (StreamOpsSpec): the union of per-batch pair sets over any
    * micro-batching of an input equals the batch operator's pairs on the
    * concatenation — batch-vs-corpus pairs are per-row independent.
    *
    * @param sink called once per micro-batch with (pairs, batchId);
    *             pairs has columns (id_new, id_corpus, jaccard)
    * @return a configured writer — call `.start()` (and manage the
    *         query) at the call site
    */
  def incrementalDedup(
      docs: DataFrame,
      corpusIndex: => DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      threshold: Double = 0.8
  )(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(Dedup.jaccardPairsAgainstIndex(
          batch, corpusIndex, idCol, textCol, n, threshold), batchId)
        ()
      }

  /** Streaming kNN ingest against a persisted [[graft.operators
    * .Similarity.knnGraphIndex]] — the micro-batch twin of
    * [[graft.operators.Similarity.knnGraphAgainstIndex]]: every
    * arriving vector gets its exact-cosine top-k standing-corpus
    * neighbors by banding at the index's BUILD width,
    * equi-joining the bkey-bucketed banding table, ADC-scoring 1-byte
    * codes, and exact-re-ranking only the survivors — the standing side
    * is never re-scanned beyond its banded candidates, so per-batch
    * cost is batch-proportional (the flat-probe shape ScalingProbe
    * `incremental_knn` measures).
    *
    * Same [[incrementalDedup]] contract: `foreachBatch`, because the
    * probe needs the checkpoint/join machinery a pure stream-static
    * plan can't express; per-id independence makes the union of
    * micro-batch outputs IDENTICAL to one batch run on the
    * concatenation (stream == batch, spec-gated). Pass the index
    * frames by name so each micro-batch re-reads the (cheap, bucketed)
    * table handles rather than capturing a stale plan.
    *
    * @param rowsPerBand the index's BUILD width — no auto here; a
    *        mismatched probe bands into the wrong buckets */
  def knnIngest(
      vectors: DataFrame,
      banding: => DataFrame,
      payload: => DataFrame,
      params: => DataFrame,
      dim: Int,
      rowsPerBand: Int,
      bands: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 3,
      rerankFactor: Int = 4
  )(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.Similarity.knnGraphAgainstIndex(
          banding, payload, params, batch, idCol, vecCol, k, dim,
          rowsPerBand, bands, rerankFactor), batchId)
        ()
      }

  /** Streaming COMMUNITY-REFRESH front door — the per-micro-batch twin
    * of the `dedup_clusters_incremental_auto` composition (the r18
    * verdict's missing streaming delivery mode for
    * [[graft.operators.Communities.communityRefreshAuto]]): each
    * arriving document batch probes the PERSISTED standing shingle
    * index ([[Dedup.jaccardPairsAgainstIndex]] — the corpus never
    * re-shingles, never shuffles), pairs within itself, and feeds the
    * union through the refresh front door, which measures the
    * `hops`-hop blast radius and dispatches local restricted rounds vs
    * the full seeded refresh per batch.
    *
    * `foreachBatch` for the usual reason (multi-aggregation dataflow +
    * the front door's bounded driver-resident collects). All standing
    * artifacts are BY-NAME: a pipeline that writes back the refreshed
    * labeling (and appends the batch's pairs to the standing
    * adjacency/index) between batches composes sequentially — the
    * spec-gated identity: N micro-batches with write-back equal N
    * sequential batch-side refreshes (StreamOpsSpec).
    *
    * @param sink called once per micro-batch with (labels, batchId);
    *             labels has columns (node, label), is eagerly
    *             checkpointed (valid after the callback returns), and
    *             is OWNED by the sink — release via CheckpointBridge
    *             when done with it
    */
  def communityRefresh(
      docs: DataFrame,
      shingleIndex: => DataFrame,
      standingAdj: => DataFrame,
      seeds: => DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      threshold: Double = 0.8,
      hops: Int = 2,
      iterations: Int = 2,
      maxLocalBallFraction: Double = 0.5
  )(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val vsStanding = Dedup.jaccardPairsAgainstIndex(
            batch, shingleIndex, idCol, textCol, n, threshold)
          .select(col("id_new").as("id_a"), col("id_corpus").as("id_b"))
        val within = Dedup.jaccardPairs(batch, idCol, textCol, n, threshold)
          .select(col("id_a"), col("id_b"))
        // materialized once: the delta derivation and the dirty set
        // would otherwise re-run both shingle probes
        val batchEdges = vsStanding.unionByName(within).localCheckpoint(true)
        val dirty = batchEdges.select(col("id_a").as("node"))
          .union(batchEdges.select(col("id_b").as("node"))).distinct()
        val labels = graft.operators.Communities.communityRefreshAuto(
          standingAdj, batchEdges, "id_a", "id_b", seeds, dirty,
          hops, iterations, maxLocalBallFraction)
        // the refresh consumed batchEdges eagerly (driver-resident
        // delta); its checkpoint blocks must not accumulate per batch
        org.apache.spark.sql.graft.CheckpointBridge.release(batchEdges)
        sink(labels, batchId)
        ()
      }

  /** Streaming count-min sketch: the running depth x width counter table
    * over an unbounded item stream, as ONE stateful streaming aggregation
    * (state bounded at depth*width rows — the sketch's whole point, and
    * why this aggregation is safe where an exact per-key count's state
    * would grow with the key space). Use Update/Complete output; the
    * materialized table at any point equals
    * [[graft.operators.CountMin.sketch]] over the rows seen so far
    * (StreamOpsSpec identity), so batch-side
    * [[graft.operators.CountMin.estimates]] reads it unchanged. */
  def cmsSketch(
      items: DataFrame,
      itemCol: String,
      depth: Int = 4,
      width: Int = 4096
  ): DataFrame =
    items
      .where(col(itemCol).isNotNull)
      .select(posexplode(
          graft.operators.CountMin.cellArray(col(itemCol), depth, width))
        .as(Seq("row", "bucket")))
      .groupBy("row", "bucket")
      .agg(count(lit(1)).as("cnt"))

  /** Streaming fuzzy match (entity resolution on a stream): each
    * micro-batch of arriving strings is matched against a STATIC
    * reference table within `maxDist` edits via the batch
    * [[graft.operators.FuzzyJoin.pairs]] VERBATIM — the candidate
    * dedup after the variant join is a multi-aggregation dataflow, which
    * append-mode streaming can't run incrementally, so the wiring is
    * `foreachBatch` (the [[incrementalDedup]] pattern). Per batch the
    * reference side contributes its deletion-variant index derivation;
    * persist the reference (or its variant index through
    * [[graft.sources.IndexStore]] bucketed by variant hash) to amortize
    * it at scale. `reference` is by-name so each batch re-reads it.
    *
    * Identity (StreamOpsSpec): per-row independent, so the union of
    * per-batch pair sets over any micro-batching equals the batch
    * operator on the concatenation. */
  def fuzzyMatch(
      docs: DataFrame,
      reference: => DataFrame,
      idCol: String,
      strCol: String,
      maxDist: Int = 1
  )(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.FuzzyJoin.pairs(
          batch, reference, idCol, strCol, maxDist), batchId)
        ()
      }

  /** Stream-side stratified quality filtering against STATIC thresholds:
    * the per-stratum quantile table comes from a batch pass over a
    * reference corpus ([[graft.operators.Scoring.qualityFilterStratified]]
    * computes the same thresholds), and the stream hash-joins against its
    * broadcast — stateless, append-mode, no state store. Quantiles over
    * an unbounded stream are ill-defined without windows; pinning the
    * bar to a reference corpus is the standard serving shape (recompute
    * the thresholds batch-side as the corpus drifts). Strata absent from
    * the threshold table drop (inner join): an unknown language has no
    * defined bar.
    *
    * @param thresholds static DataFrame of (strataCol, `__thr`) rows
    */
  def qualityFilter(
      docs: DataFrame,
      thresholds: DataFrame,
      textCol: String = "text",
      strataCol: String = "lang"
  ): DataFrame =
    docs
      .withColumn("quality", TextFunctions.qualityScore(col(textCol)))
      .join(broadcast(thresholds), Seq(strataCol))
      .where(col("quality") > col("__thr"))
      .drop("__thr")

  /** Streaming calibration monitor: the batch
    * [[graft.operators.Eval.calibrationBins]] VERBATIM on a stream of
    * (score, label) rows — the whole aggregate keys on <= `bins` values
    * with three exact integer counters each, so complete-mode state is
    * bounded at `bins` rows BY CONSTRUCTION (the [[cmsSketch]]
    * argument), and at every micro-batch point the table equals the
    * batch operator on the concatenation (identity-tested). This is
    * the live "is the quality scorer drifting" dashboard feed; the AUC
    * twin deliberately does NOT exist — [[graft.operators.Eval.aucScore]]
    * takes a driver action for its score-range buckets and its
    * distinct-score state is corpus-sized, so run it batch, on a
    * snapshot. */
  def calibrationBins(
      scored: DataFrame,
      scoreCol: String,
      labelCol: String,
      bins: Int = 10
  ): DataFrame =
    graft.operators.Eval.calibrationBins(scored, scoreCol, labelCol, bins)

  /** Streaming drift evidence against a STATIC reference snapshot: per
    * event-time tumbling window, the exact bin counts of `valueCol`
    * over the OLD snapshot's [min, max] equal-width frame — the live
    * feed of [[graft.operators.Profile.psi]]'s new-side aggregate,
    * windowed. Output: `(window_start, window_end, bin, n_new)`,
    * append mode on window close.
    *
    * The reference frame derives from the static snapshot ONCE at
    * plan-build time from its FINITE values only (the Profile.psi
    * rule — one NaN reaching max() would blind the monitor; a
    * bounded 1-row driver artifact), and the binning expression is
    * Profile.psi's own — `least(greatest(floor((v-lo)/span), 0),
    * bins-1)`, NULL/NaN stream values excluded, every other
    * out-of-range excursion INCLUDING ±Infinity clamped into the edge
    * bins where it should register (exactly Profile.psi's new-side
    * rule — an Inf-emitting scorer is drift evidence, not a skip).
    * Identity: a window's rows equal `Profile.psi(old,
    * windowRows).n_new` bin for bin (spec-gated).
    *
    * The PSI scalar is deliberately NOT computed in-stream: the term
    * needs per-window totals OVER the bin counts — a second
    * aggregation Structured Streaming forbids in one query (the
    * calibrationBins/ECE evidence-vs-rollup split, drift flavor).
    * Roll closed windows up in batch: join the sink to the old bin
    * counts and apply the psi term, or re-run `Profile.psiTotal` on
    * the window's raw rows.
    *
    * Scale shape: ONE (window, bin)-keyed map-side-combined count —
    * state is bins rows per open window, constant in stream volume. */
  def driftBins(
      stream: DataFrame,
      oldDf: DataFrame,
      tsCol: String,
      valueCol: String,
      bins: Int = 10,
      windowDuration: String = "1 hour",
      watermark: String = "2 hours"
  ): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val vd = col(valueCol).cast("double")
    val finite = vd.isNotNull && !isnan(vd) &&
      abs(vd) < lit(Double.PositiveInfinity)
    val mm = oldDf.where(finite).agg(min(vd), max(vd)).head()
    require(!mm.isNullAt(0),
      s"StreamOps.driftBins: reference snapshot has no finite $valueCol rows")
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    val span = math.max((hi - lo) / bins, java.lang.Double.MIN_NORMAL)
    stream
      .withWatermark(tsCol, watermark)
      .where(col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")))
      .groupBy(window(col(tsCol), windowDuration),
        least(greatest(
            floor((col(valueCol).cast("double") - lit(lo)) / lit(span)), lit(0L)),
          lit(bins - 1L)).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_new"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("bin"), col("n_new"))
  }
}
