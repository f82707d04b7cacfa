package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.tree._
import graft.operators.{AsOfJoin, Chunking, Communities, CountMin, Decontamination, Dedup,
  Eval, FuzzyJoin, HeavyHitters, Hits, Keyphrases, KMeans, LinkPrediction, Multimodal, NaiveBayes,
  Packing, PageRank, Paths, Profile, RangeJoin, Scoring, Sessionize, Shuffling, Similarity,
  SkewJoin, SnapshotDiff, Tfidf, Triangles}
import graft.functions.TextFunctions
import graft.sources.{IndexStore, ZOrder}

/** The driver contract's query catalog: every implemented operator from
  * SURVEY.md §2 plus the LLM-pipeline extensions, each as a
  * `(SparkSession, sfDir) => DataFrame` paired (where SQL-expressible)
  * with DuckDB oracle SQL over the same parquet tables.
  *
  * Determinism rules (the driver hash-compares values):
  *   - every query ends in an ORDER BY over its full output column list
  *     (no natural unique key exists in the synthetic lineitem — duplicate
  *     (l_orderkey, l_linenumber) pairs are present);
  *   - every floating-point output column is `round(_, 6)` on BOTH sides,
  *     and both sides compute the float with the same association order;
  *   - aggregate integer outputs are cast to 64-bit on both sides (DuckDB
  *     `sum(BIGINT)` is HUGEINT otherwise).
  */
object QueryCatalog {

  // ---- table loaders ------------------------------------------------------

  private def lineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
  private def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
  private def nation(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/nation.parquet")
  private def orders(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/orders.parquet")
  private def customer(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet")
  private def supplier(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/supplier.parquet")

  /** events.parquet's `ts` encoding has varied across driver-generated
    * testdata (TIMESTAMP(NANOS) -> LongType nanos under nanosAsLong;
    * timestamp[us] -> TIMESTAMP_NTZ in Spark 4). Normalize to canonical
    * TimestampType at load via [[graft.operators.Sessionize.normalizeTs]]
    * so no catalog entry ever touches the physical encoding. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Sessionize.normalizeTs(s.read.parquet(s"$dir/events.parquet"))
  }

  // ---- shared tree-query fixtures ----------------------------------------

  /** Low-cardinality features only (50/11/9 distinct values at sf0.01):
    * keeps candidate gain gaps far above cross-engine float noise so the
    * per-feature argmax is stable between Spark and DuckDB. */
  private val TreeFeatures = Seq("l_quantity", "l_discount", "l_tax")
  private val Target = "l_returnflag"
  private val Targets = Seq[Any]("A", "N", "R")

  /** Fixed 2-level demo tree for the predict-query oracles (EP2 shape). */
  private val demoModel = DecisionTreeModel(
    SplitNode("l_discount", 0.05, 0.1, 0.5, Seq(1L, 1L, 1L),
      SplitNode("l_quantity", 25.0, 0.1, 0.5, Seq(1L, 1L, 1L),
        LeafNode("lo"), LeafNode("mid")),
      LeafNode("hi")),
    Map.empty, StringType)

  private val demoCaseSql =
    "CASE WHEN l_discount <= 0.05 THEN (CASE WHEN l_quantity <= 25.0 THEN 'lo' ELSE 'mid' END) ELSE 'hi' END"

  private val LineitemCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate")

  private def orderedByAll(df: DataFrame): DataFrame =
    df.orderBy(df.columns.map(col).toIndexedSeq: _*)

  // ---- oracle SQL fragments (tree pipeline) ------------------------------

  private val meltCte =
    """m AS (
      |  SELECT 'l_quantity' AS feature, CAST(l_quantity AS DOUBLE) AS feature_value, l_returnflag AS t FROM
      |    lineitem WHERE l_quantity IS NOT NULL
      |  UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE), l_returnflag FROM lineitem WHERE l_discount
      |    IS NOT NULL
      |  UNION ALL SELECT 'l_tax', CAST(l_tax AS DOUBLE), l_returnflag FROM lineitem WHERE l_tax IS NOT
      |    NULL)""".stripMargin

  private val histCte =
    """h AS (
      |  SELECT feature, feature_value,
      |    count(*) FILTER (WHERE t = 'A') AS class_0_count,
      |    count(*) FILTER (WHERE t = 'N') AS class_1_count,
      |    count(*) FILTER (WHERE t = 'R') AS class_2_count,
      |    count(*) AS count_examples
      |  FROM m GROUP BY feature, feature_value)""".stripMargin

  private val cumCte = {
    val cols = (0 to 2).map { i =>
      s"""    CAST(sum(class_${i}_count) OVER w AS BIGINT) AS cum_sum_class_${i}_count,
         |    CAST(sum(class_${i}_count) OVER wa AS BIGINT) AS sum_class_${i}_count,""".stripMargin
    }.mkString("\n")
    s"""c AS (
       |  SELECT feature, feature_value,
       |$cols
       |    CAST(sum(count_examples) OVER w AS BIGINT) AS cum_sum_count_examples,
       |    CAST(sum(count_examples) OVER wa AS BIGINT) AS sum_count_examples
       |  FROM h
       |  WINDOW w AS (PARTITION BY feature ORDER BY feature_value ROWS UNBOUNDED PRECEDING),
       |         wa AS (PARTITION BY feature))""".stripMargin
  }

  /** `p * (ln(p)/ln(2))` with the 0*log2(0):=0 convention, association
    * matching Spark's `p * log(2.0, p)` exactly. */
  private def plogSql(p: String): String =
    s"CASE WHEN $p > 0 THEN $p * (ln($p) / ln(2.0)) ELSE 0.0 END"

  private def critSql(criterion: Criterion, ps: Seq[String]): String = criterion match {
    case Criterion.Entropy => "-1.0 * (" + ps.map(plogSql).mkString(" + ") + ")"
    case Criterion.Gini    => "1.0 - (" + ps.map(p => s"$p * $p").mkString(" + ") + ")"
  }

  private def bestSplitSql(criterion: Criterion): String = {
    val props = (0 to 2).map { i =>
      s"""    cum_sum_class_${i}_count / cum_sum_count_examples AS l$i,
         |    (sum_class_${i}_count - cum_sum_class_${i}_count) / (sum_count_examples - cum_sum_count_examples) AS r$i,
         |    sum_class_${i}_count / sum_count_examples AS p$i,""".stripMargin
    }.mkString("\n")
    val lc = critSql(criterion, Seq("l0", "l1", "l2"))
    val rc = critSql(criterion, Seq("r0", "r1", "r2"))
    val pc = critSql(criterion, Seq("p0", "p1", "p2"))
    s"""WITH $meltCte,
       |$histCte,
       |$cumCte,
       |f AS (SELECT * FROM c WHERE sum_count_examples > cum_sum_count_examples),
       |p AS (
       |  SELECT feature, feature_value, cum_sum_count_examples, sum_count_examples,
       |$props
       |  FROM f),
       |crit AS (
       |  SELECT feature, feature_value, cum_sum_count_examples, sum_count_examples,
       |    $lc AS left_criterion, $rc AS right_criterion, $pc AS parent_criterion
       |  FROM p),
       |g AS (
       |  SELECT feature, feature_value,
       |    parent_criterion - (cum_sum_count_examples / sum_count_examples * left_criterion
       |      + (sum_count_examples - cum_sum_count_examples) / sum_count_examples * right_criterion) AS
       |    information_gain,
       |    parent_criterion
       |  FROM crit),
       |g2 AS (SELECT * FROM g WHERE NOT isnan(information_gain) AND information_gain IS NOT NULL),
       |r AS (
       |  SELECT feature, feature_value, information_gain, parent_criterion,
       |    row_number() OVER (PARTITION BY feature ORDER BY information_gain DESC, feature_value ASC) AS rn
       |  FROM g2)
       |SELECT feature, feature_value, round(information_gain, 6) AS information_gain,
       |       round(parent_criterion, 6) AS parent_criterion
       |FROM r WHERE rn = 1 ORDER BY feature""".stripMargin
  }

  private def bestSplitQuery(criterion: Criterion)(s: SparkSession, dir: String): DataFrame =
    SplitSearch.bestSplitsPerFeature(lineitem(s, dir), TreeFeatures, Target, Targets, criterion)
      .select(col("feature"), col("feature_value"),
        round(col("information_gain"), 6).as("information_gain"),
        round(col("parent_criterion"), 6).as("parent_criterion"))
      .orderBy("feature")

  // ---- similarity SQL fragments ------------------------------------------

  /** Exact-shape cosine: dot/(sqrt(dot_aa)*sqrt(dot_bb)), matching
    * [[Similarity.cosine]]'s association. */
  private def cosSql(a: String, b: String): String =
    s"list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b)))"

  // ---- text SQL fragments -------------------------------------------------

  private val stopListSql = "['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it']"

  /** Trigram-shingle jaccard candidate CTEs over `src` (needs doc_id,
    * text): toks/sets/sized/cand, where cand carries (id_a, id_b, size_a,
    * size_b, n_common). ONE copy shared by every jaccard-derived oracle
    * (pairs, drop, clusters, curation) so a re-parameterization cannot
    * silently desynchronize one twin from the others. */
  /** `maxDf`: when set, mirrors the Spark side's hot-shingle cap
    * EXACTLY — shingles appearing in more than `maxDf` docs leave the
    * inverted index (both candidate generation and `n_common`) while
    * `set_size` still counts them, the same asymmetry `jaccardPairs`
    * implements. Pass it for every oracle whose Spark twin passes
    * `maxDf`, so the twins agree on ANY corpus, not only ones where no
    * shingle reaches the cap. */
  private def jaccardCtes(src: String, maxDf: Option[Long] = None): String = {
    val sizedSelect = "SELECT id, len(sh) AS set_size, unnest(sh) AS shingle FROM sets"
    val sized = maxDf match {
      case Some(cap) =>
        s"""sized0 AS ($sizedSelect),
           |keptsh AS (SELECT shingle FROM sized0 GROUP BY shingle HAVING count(*) <= $cap),
           |sized AS (SELECT sized0.* FROM sized0 JOIN keptsh USING (shingle))""".stripMargin
      case None => s"sized AS ($sizedSelect)"
    }
    s"""toks AS (
       |  SELECT doc_id AS id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk FROM $src),
       |sets AS (
       |  SELECT id,
       |    CASE WHEN len(tk) >= 3
       |      THEN list_distinct([array_to_string(tk[i + 1 : i + 3], ' ') FOR i IN range(0, len(tk) - 2)])
       |      ELSE list_distinct([array_to_string(tk, ' ')]) END AS sh
       |  FROM toks),
       |$sized,
       |cand AS (
       |  SELECT a.id AS id_a, b.id AS id_b, a.set_size AS size_a, b.set_size AS size_b, count(*) AS n_common
       |  FROM sized a JOIN sized b ON a.shingle = b.shingle AND a.id < b.id
       |  GROUP BY 1, 2, 3, 4)""".stripMargin
  }

  private val jaccardExprSql = "n_common / (size_a + size_b - n_common)"

  /** The text_stats quality score over a relation exposing `text` — the
    * single copy every quality-referencing oracle embeds. */
  private lazy val qualityExprSql = {
    val tk = """regexp_split_to_array(lower(trim(text)), '\s+')"""
    val punct = "CASE WHEN length(text) = 0 THEN 0.0 ELSE " +
      """CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text) END"""
    val stop = s"CASE WHEN len($tk) = 0 THEN 0.0 ELSE " +
      s"""CAST(len(list_filter($tk, x -> list_contains($stopListSql, x))) AS DOUBLE) / len($tk) END"""
    val lenScore = "least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)"
    val punctScore = s"1.0 - least(($punct) * 5.0, 1.0)"
    val stopScore = s"least(($stop) * 4.0, 1.0)"
    s"round((($lenScore) + ($punctScore) + ($stopScore)) / 3.0, 6)"
  }

  // ---- the catalog --------------------------------------------------------

  /** name -> ((spark, sfDir) => result). Keys with no [[oracleSql]] entry get
    * the driver's weaker rows-only check (non-SQL-expressible: xxhash64-based
    * signatures have no DuckDB twin). */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- SURVEY §2 tree-pipeline oracles ------------------------------------
    "split_histogram" -> ((s, dir) =>
      SplitSearch.meltedHistogram(lineitem(s, dir), TreeFeatures, Target, Targets)
        .orderBy("feature", "feature_value")),
    "cum_counts" -> ((s, dir) =>
      SplitSearch.cumulativeCounts(
        SplitSearch.meltedHistogram(lineitem(s, dir), TreeFeatures, Target, Targets), Targets.size)
        .orderBy("feature", "feature_value")),
    // same math through the scale-safe two-pass partitioned prefix sum;
    // shares cum_counts' oracle SQL — DuckDB proves row-identical output
    "cum_counts_partitioned" -> ((s, dir) =>
      SplitSearch.cumulativeCountsPartitioned(
        SplitSearch.meltedHistogram(lineitem(s, dir), TreeFeatures, Target, Targets),
        Targets.size, numBuckets = 8)
        .orderBy("feature", "feature_value")),
    "best_split_gain_entropy" -> bestSplitQuery(Criterion.Entropy) _,
    "best_split_gain_gini" -> bestSplitQuery(Criterion.Gini) _,
    "target_encoding" -> ((s, dir) => {
      val m = TargetEncoder.fitMappings(lineitem(s, dir), Seq("l_linestatus"), "l_quantity")("l_linestatus")
      import s.implicits._
      m.toSeq.map { case (k, v) => (k, v.toLong) }.toDF("category", "code").orderBy("code")
    }),
    "majority_class" -> ((s, dir) =>
      lineitem(s, dir).groupBy(col(Target).as("target")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("target").asc).limit(1)),
    "distinct_targets" -> ((s, dir) =>
      lineitem(s, dir).select(col(Target).as("target")).distinct().orderBy("target")),
    "class_distribution" -> ((s, dir) =>
      lineitem(s, dir).groupBy(col(Target).as("target")).agg(count(lit(1)).as("n"))
        .orderBy("target")),
    // Exact grouped percentiles (linear interpolation — the same order
    // statistic DuckDB's quantile_cont computes). The scale path is
    // approx_percentile/KLL, whose sketches are engine-specific and
    // therefore uncheckable; the exact form IS oracle-checkable and is
    // also what the binned trainer uses for candidate thresholds.
    "group_percentiles" -> ((s, dir) =>
      lineitem(s, dir).groupBy(col(Target).as("target"))
        // array probabilities: ONE per-group sort serves both quantiles
        .agg(percentile(col("l_extendedprice"), array(lit(0.5), lit(0.95))).as("p"))
        .select(col("target"),
          round(col("p")(0), 6).as("p50"), round(col("p")(1), 6).as("p95"))
        .orderBy("target")),
    // Sketch-based distinct counting — the other bounded-memory sketch a
    // 100 TB rollup needs (vocabulary sizes, unique users): HLL++ via
    // approx_count_distinct. Same oracle pattern as
    // group_percentiles_approx: the raw sketch value is engine-specific,
    // so the entry emits the CONTRACT — per group, is the estimate
    // within the exact count's relative-error envelope at 6x the
    // configured rsd (0.02 -> +/-12%)? rsd is a standard DEVIATION, not
    // a bound, so the envelope needs slack: 3x leaves ~0.3% of groups
    // outside on a fresh dataset (r7 advice), 6x makes a breach mean a
    // broken sketch rather than an unlucky hash draw. Both sides
    // computed in ONE aggregate; the DuckDB oracle pins the boolean
    // constant-true.
    "group_distinct_approx" -> ((s, dir) => {
      val rsd = 0.02
      documents(s, dir)
        .select(col("lang"), explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .where(length(col("tok")) > 0)
        .groupBy("lang")
        .agg(count_distinct(col("tok")).as("exact"),
          approx_count_distinct(col("tok"), rsd).as("approx"))
        .select(col("lang"), col("exact"),
          (col("approx") >= col("exact") * (1 - 6 * rsd) &&
            col("approx") <= col("exact") * (1 + 6 * rsd)).as("within_rsd"))
        .orderBy("lang")
    }),
    // Sketch-based grouped percentiles — the actual scale path (bounded
    // memory per group vs the exact form's full-group value buffer; at
    // 100 TB a group's values do not fit anywhere). The raw sketch value
    // is engine-specific, so the entry emits the CONTRACT instead of the
    // value: per group, is the approx inside the exact percentile
    // bracket [q-eps, q+eps] at eps = 100x the sketch's guaranteed rank
    // error (1/accuracy)? Both the approx and the exact brackets are
    // computed in-plan, making the booleans deterministic — the DuckDB
    // oracle asserts constant true per group, so a broken sketch (or a
    // silently swapped column) now fails the HASH gate, not just
    // ApproxPercentileSpec (which keeps pinning the same contract in CI).
    "group_percentiles_approx" -> ((s, dir) => {
      val acc = 10000
      val eps = 100.0 / acc
      // ONE exact percentile aggregate (array probabilities — a single
      // per-group sort serves all four bracket edges) + one array-form
      // sketch aggregate; four separate percentile() calls ran the
      // per-group sort four times (6.2 s vs ~3 s)
      lineitem(s, dir).groupBy(col(Target).as("target"))
        .agg(
          approx_percentile(col("l_extendedprice"),
            array(lit(0.5), lit(0.95)), lit(acc)).as("ap"),
          percentile(col("l_extendedprice"),
            array(lit(0.5 - eps), lit(0.5 + eps), lit(0.95 - eps), lit(0.95 + eps)))
            .as("ex"))
        .select(col("target"),
          (col("ap")(0) >= col("ex")(0) && col("ap")(0) <= col("ex")(1)).as("p50_in_bracket"),
          (col("ap")(1) >= col("ex")(2) && col("ap")(1) <= col("ex")(3)).as("p95_in_bracket"))
        .orderBy("target")
    }),
    "split_partition_left" -> ((s, dir) =>
      orderedByAll(lineitem(s, dir).where(col("l_discount") <= lit(0.05))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount"))),
    "split_partition_right" -> ((s, dir) =>
      orderedByAll(lineitem(s, dir).where(!(col("l_discount") <= lit(0.05)))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount"))),
    "predict_union" -> ((s, dir) =>
      orderedByAll(Predict.planScore(demoModel, lineitem(s, dir), Seq("l_orderkey", "l_linenumber")))),
    "predict_expr" -> ((s, dir) =>
      orderedByAll(lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), Predict.scoreExpr(demoModel).as("prediction")))),
    "predict_union_rowindex" -> ((s, dir) => {
      val sorted = lineitem(s, dir).orderBy(LineitemCols.map(col).toIndexedSeq: _*)
      val indexed = Predict.withRowIndex(sorted, "temp_prediction_index")
      Predict.planScore(demoModel, indexed, Seq("temp_prediction_index"))
        .orderBy("temp_prediction_index")
    }),
    "fill_null" -> ((s, dir) =>
      orderedByAll(Prep.fillNull(
        lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_discount") < 0.03, lit(null)).otherwise(col("l_discount")).as("d")),
        0.0, Seq("d")))),
    "csv_scan" -> ((s, dir) => orderedByAll(nationViaCsv(s, dir))),
    // Second columnar format beside parquet: write the documents table
    // to ORC, read it back, aggregate — schema and values must survive
    // the round trip bit-exactly (hash oracle vs the parquet-derived
    // twin). ORC ships with stock Spark; no extra deps.
    "orc_roundtrip" -> ((s, dir) => {
      val key = dir.replaceAll("[^A-Za-z0-9]", "_")
      val orcDir = s"${System.getProperty("java.io.tmpdir")}/graft_docs_orc_$key"
      documents(s, dir).write.mode("overwrite").orc(orcDir)
      s.read.orc(orcDir)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("lang", "source")
    }),
    // Z-order (Morton) clustered write + multi-dimension predicate read
    // back: rows co-located in BOTH l_quantity and l_tax, so the pushed
    // 2-D box predicate prunes parquet row groups on either dimension
    // (ZOrderSpec counts overlapping row-group stats mechanically; a
    // single-column sort prunes only its leading column). Timing
    // honestly includes the clustered write.
    "zorder_scan" -> ((s, dir) => {
      val key = dir.replaceAll("[^A-Za-z0-9]", "_")
      val zDir = s"${System.getProperty("java.io.tmpdir")}/graft_lineitem_z_$key"
      ZOrder.writeZOrdered(
        lineitem(s, dir).select("l_orderkey", "l_quantity", "l_tax",
          "l_extendedprice"),
        zDir, dims = Seq("l_quantity", "l_tax"), bits = 8, numFiles = 8)
      s.read.parquet(zDir)
        .where(col("l_quantity").between(10, 20) && col("l_tax").between(0.02, 0.05))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double")
            .as("total_price"),
          min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"))
        .select(col("n_rows"), round(col("total_price"), 4).as("total_price"),
          col("min_key"), col("max_key"))
    }),
    // Row format for ingest pipelines: JSONL round trip with an EXPLICIT
    // read schema (inference on a line-oriented source is
    // order-sensitive; production readers pin the schema). The text
    // column rides through JSON string escaping, so the length sum
    // catches any escaping corruption.
    "jsonl_roundtrip" -> ((s, dir) => {
      val key = dir.replaceAll("[^A-Za-z0-9]", "_")
      val jsonDir = s"${System.getProperty("java.io.tmpdir")}/graft_docs_jsonl_$key"
      val src = documents(s, dir).select("doc_id", "text", "lang", "n_chars")
      src.write.mode("overwrite").json(jsonDir)
      s.read.schema(src.schema).json(jsonDir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("total_text_chars"),
          sum("n_chars").as("total_chars"))
        .orderBy("lang")
    }),
    "csv_target_encoding" -> ((s, dir) => {
      val m = TargetEncoder.fitMappings(nationViaCsv(s, dir), Seq("n_name"), "n_regionkey")("n_name")
      import s.implicits._
      m.toSeq.map { case (k, v) => (k, v.toLong) }.toDF("category", "code").orderBy("code")
    }),
    // Classic OLAP enrichment chain: fact (lineitem) joined through
    // orders to the customer and nation dimensions, revenue per nation —
    // the multi-join shape every analytics engine must plan well. The
    // dimension sides broadcast (nation always; customer under AQE's
    // size estimate at gate scale), the l_quantity filter pushes to the
    // fact scan, and the aggregate is map-side combined. Revenue runs in
    // DECIMAL: a distributed double sum's accumulation ORDER is
    // partition-dependent, so a double revenue could drift from the
    // oracle's sequential sum beyond the rounding guard — decimal
    // arithmetic is exact and association-free on both engines.
    "nation_revenue" -> ((s, dir) => {
      val l = lineitem(s, dir).where(col("l_quantity") >= 25)
        .select(col("l_orderkey"),
          (col("l_extendedprice").cast("decimal(18,6)") *
            (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)")))
            .as("rev"))
      val o = orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val c = customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      val n = broadcast(nation(s, dir).select(col("n_nationkey"), col("n_name")))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(round(sum(col("rev")).cast("double"), 4).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("nation")
    }),
    // Salted skew join (SkewJoin): same revenue rollup as the plain
    // lineitem->orders join, but the fact side takes a deterministic
    // content-hash salt and orders explodes into 8 copies, so a hot
    // orderkey spreads over 8 reducer tasks instead of pinning one
    // straggler (the remedy when the dim can't broadcast and AQE skew
    // handling can't reach the stage). Oracle is the UNSALTED join:
    // salting must be invisible in the result.
    "salted_join" -> ((s, dir) => {
      val f = lineitem(s, dir).select(col("l_orderkey").as("okey"),
        (col("l_extendedprice").cast("decimal(18,6)") *
          (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)")))
          .as("rev"))
      val d = orders(s, dir).select(col("o_orderkey").as("okey"),
        col("o_orderpriority"))
      SkewJoin.saltedInnerJoin(f, d, Seq("okey"), numSalts = 8)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(round(sum(col("rev")).cast("double"), 4).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("priority")
    }),
    // Deterministic PageRank over the customer->supplier purchase graph
    // (suppliers offset by 10000 to keep the graph bipartite): 3 damped
    // rounds of integer micro-unit arithmetic, so the DuckDB oracle is an
    // exact iteration-for-iteration replica (no float drift) — the
    // KMeans.lloyd determinism contract applied to graph propagation.
    "pagerank" -> ((s, dir) => {
      val e = lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(10000)).as("dst"))
      PageRank.ranks(e, "src", "dst", iterations = 3).orderBy("node")
    }),
    // Dangling-mass redistribution variant on the same purchase graph —
    // a STRONG exercise of the term, because the graph is bipartite and
    // every supplier node is dangling (no out-edges): each round their
    // entire rank mass redistributes uniformly (floor(dsum/n) per node,
    // exact integers). The oracle replays the redistribution with the
    // same `//` floors, scalar-subquery per round.
    "pagerank_dangling" -> ((s, dir) => {
      val e = lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(10000)).as("dst"))
      PageRank.ranks(e, "src", "dst", iterations = 3,
        redistributeDangling = true).orderBy("node")
    }),
    // Weight-proportional PageRank on the same purchase graph with
    // multiplicity as the weight (lineitem count per customer-supplier
    // pair): rank splits (r*w) div W — the co-occurrence-strength
    // variant, same integer determinism contract.
    "pagerank_weighted" -> ((s, dir) => {
      val e = lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(10000)).as("dst"), lit(1L).as("w"))
      PageRank.weightedRanks(e, "src", "dst", "w", iterations = 3).orderBy("node")
    }),
    // Personalized PageRank from the first 50 customers as seeds: ranks
    // measure proximity to the seed cohort, not global authority — the
    // teleport term is seed-only, everything else identical.
    "pagerank_personalized" -> ((s, dir) => {
      val e = lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(10000)).as("dst"))
      val seeds = customer(s, dir).where(col("c_custkey") < 50)
        .select(col("c_custkey").as("node"))
      PageRank.personalizedRanks(e, "src", "dst", seeds, "node", iterations = 3)
        .orderBy("node")
    }),
    // HITS hubs/authorities on the same purchase graph (r14): 2 rounds
    // of the exact-integer L-infinity-normalized power iteration —
    // authorities from current hubs, hubs from the NEW authorities,
    // each round `raw * 1e6 div max(raw)`. The bipartite graph is a
    // strong exercise: customers are pure hubs (auth 0), suppliers pure
    // authorities (hub 0), and round 2 reinforces suppliers through
    // their customers' round-1 hub scores. Oracle unrolls both rounds
    // with scalar-subquery maxes and the same `//` floors.
    "hits_scores" -> ((s, dir) => {
      val e = lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(10000)).as("dst"))
      Hits.scores(e, "src", "dst", iterations = 2).orderBy("node")
    }),
    // Triangle counting over the HIGH-QUANTITY supplier co-supply graph
    // (suppliers sharing an order on l_quantity >= 48 items — the filter
    // keeps the graph sparse; the unfiltered co-supply graph over the
    // small supplier key space is near-complete, and triangle counting
    // on a clique is O(n^3) OUTPUT, not an algorithmic artifact:
    // measured 40 s vs 0.6 s at sf0.1). Degree-ordered forward
    // counting: the wedge apex is always the minimum-rank corner, so
    // wedge fan-out is bounded by O(sqrt|E|) even at hubs; all stages
    // are equi-joins on vertex ids. Pure integer output -> exact hash
    // oracle (which counts triangles the naive x<y<z way — the
    // algorithms must agree, not just the shapes).
    "triangle_count" -> ((s, dir) => {
      val li = lineitem(s, dir).where(col("l_quantity") >= 48)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      Triangles.perNodeCounts(pairs, "src", "dst").orderBy("node")
    }),
    // 3-core of the sparse co-supply graph: iterative peeling with
    // edge volume only shrinking, O(1) persisted copies, early stop at
    // the fixpoint. Peeling is idempotent after convergence, so the
    // fixed-depth SQL unroll is an exact oracle.
    "kcore" -> ((s, dir) => {
      val li = lineitem(s, dir).where(col("l_quantity") >= 48)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      Triangles.kCore(pairs, "src", "dst", k = 3).orderBy("node")
    }),
    // Local clustering coefficient on the same sparse co-supply graph:
    // 2T/(d(d-1)) per vertex of degree >= 2, triangle-free vertices 0.0
    // via left join — one closed-form double over exact integers.
    "clustering_coeff" -> ((s, dir) => {
      val li = lineitem(s, dir).where(col("l_quantity") >= 48)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      Triangles.clusteringCoefficient(pairs, "src", "dst")
        .select(col("node"), col("deg"), col("n_triangles"),
          round(col("coeff"), 6).as("coeff"))
        .orderBy("node")
    }),
    // Synchronous label-propagation communities on the sparse co-supply
    // graph: 4 exact-integer vote rounds (self-vote, smallest-label
    // tie-break), so the DuckDB oracle replays the rounds one CTE pair
    // per round — the PageRank determinism contract, vote-count flavor.
    "label_propagation" -> ((s, dir) => {
      val li = lineitem(s, dir).where(col("l_quantity") >= 48)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      Communities.labelPropagation(pairs, "src", "dst", iterations = 4)
        .orderBy("node")
    }),
    // Modularity of the LPA labeling — the did-the-communities-mean-
    // anything score in its exact-integer closed form (q_num/q_den,
    // one rounded division); two label equi-joins + two aggregates.
    "lpa_modularity" -> ((s, dir) => {
      val li = lineitem(s, dir).where(col("l_quantity") >= 48)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      val labels = Communities.labelPropagation(pairs, "src", "dst", iterations = 4)
        .select(col("node"), col("label"))
      Communities.modularity(pairs, "src", "dst", labels)
    }),
    // Link prediction on the same graph: top-100 unconnected supplier
    // pairs by resource-allocation index (integer micro-units) with
    // common-neighbor and Jaccard scores — wedge enumeration + one
    // pair-keyed aggregate + an anti-join, everything exact until the
    // single rounded Jaccard division, so the hash oracle is exact.
    "link_prediction" -> ((s, dir) => {
      val li = lineitem(s, dir).where(col("l_quantity") >= 48)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      LinkPrediction.scores(pairs, "src", "dst", minCommon = 2L)
        .orderBy(col("resource_alloc_micro").desc, col("node_a"), col("node_b"))
        .limit(100)
    }),
    // Hop-bounded multi-source BFS on the SPARSER (quantity = 50)
    // co-supply graph (the >= 48 graph is one dense component and
    // saturates in 2 hops — no frontier structure left to verify):
    // seeds are every 10th supplier, 4 synchronous frontier rounds,
    // exact integer dists; isolated seeds stay at dist 0. The oracle
    // unrolls the same 4 rounds — rounds past frontier exhaustion are
    // no-ops, so the early-stopping loop equals the fixed unroll.
    "bfs_hops" -> ((s, dir) => {
      val li = lineitem(s, dir).where(col("l_quantity") >= 50)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      val seeds = supplier(s, dir).where(col("s_suppkey") % 10 === 0)
        .select(col("s_suppkey").as("node"))
      Paths.bfsDistances(pairs, "src", "dst", seeds, "node", maxHops = 4)
        .orderBy("node")
    }),
    // Weakly connected components on the same sparse graph (11
    // components at sf0.01 vs the >= 48 graph's single blob):
    // large-star/small-star contraction to the component-min label.
    // The oracle replays min-label propagation over the closed
    // neighborhood, unrolled 20 rounds — 2x+ the measured propagation
    // depth (9 at sf0.01); propagation is idempotent at the fixpoint,
    // so any unroll at or past the depth is exact (the kcore rule).
    "connected_components" -> ((s, dir) => {
      val li = lineitem(s, dir).where(col("l_quantity") >= 50)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      Communities.connectedComponents(pairs, "src", "dst").orderBy("node")
    }),
    // Deterministic DeepWalk-style walk corpus on the sparse co-supply
    // graph: 2 walks x 3 steps per node, each transition following
    // md5(start|walk|step|cur) mod deg over the rank-ordered
    // adjacency — retry-stable, partitioning-independent, and the
    // oracle replays every transition through the same md5 arithmetic.
    "random_walks" -> ((s, dir) => {
      val li = lineitem(s, dir).where(col("l_quantity") >= 50)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      Paths.randomWalks(pairs, "src", "dst", walksPerNode = 2, steps = 3)
        .orderBy("start", "walk_no", "step")
    }),
    // Per-step partitioned-SINK delivery of the same walk corpus: each
    // step writes parquet partition step=t the moment it exists and the
    // prior walker state releases, so the live set is bounded
    // independent of steps (the escape from union-mode's en-bloc
    // checkpoint hold at max params — SCALING.md walk_stress). Rows are
    // identical to random_walks; the oracle is the same md5-transition
    // replay, so the gate pins write -> partition -> read-back fidelity.
    "random_walks_sink" -> ((s, dir) => {
      val li = lineitem(s, dir).where(col("l_quantity") >= 50)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      val sink = s.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:") + "/graft_walk_sink_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      Paths.randomWalksToSink(pairs, "src", "dst", walksPerNode = 2,
          steps = 3, path = sink)
        .orderBy("start", "walk_no", "step")
    }),
    // The walk sink's CONSUMER (r16 verdict #2 — the reader the
    // per-step partitioning exists for): skip-gram training pairs from
    // walk windows, reading only `step BETWEEN lo-w AND hi+w` (the scan
    // carries PartitionFilters — machine-gated in PlanAuditSpec). Full
    // center range here, so the oracle replays every same-walk pair.
    "walk_skipgram_pairs" -> ((s, dir) => {
      val li = lineitem(s, dir).where(col("l_quantity") >= 50)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      val sink = s.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:") + "/graft_walk_sg_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      Paths.randomWalksToSink(pairs, "src", "dst", walksPerNode = 2,
        steps = 3, path = sink)
      Paths.walkSkipgramPairs(s, sink, window = 2, centerLo = 0, centerHi = 3)
        .orderBy("center", "context")
    }),
    // Node embeddings from the walk corpus (r17): walks -> skip-gram
    // counts -> PPMI -> deterministic md5 JL projection. The closed-form
    // DeepWalk stand-in (Levy & Goldberg 2014 PPMI factorization): no
    // SGD, no seed state, every component an exact integer micro-unit
    // sum — the oracle replays walks, pairing, PPMI, and projection.
    "walk_node_embeddings" -> ((s, dir) => {
      val li = lineitem(s, dir).where(col("l_quantity") >= 50)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      val sink = s.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:") + "/graft_walk_emb_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      Paths.randomWalksToSink(pairs, "src", "dst", walksPerNode = 2,
        steps = 3, path = sink)
      val sg = Paths.walkSkipgramPairs(s, sink, window = 2,
        centerLo = 0, centerHi = 3)
      Paths.skipgramNodeEmbeddings(sg, dim = 16)
        .select(col("node"), col("j"), round(col("weight"), 6).as("weight"))
        .orderBy("node", "j")
    }),
    // The walk pipeline's CLOSER (r17 verdict missing #3): a graph with
    // NO embeddings gets them FROM ITS OWN STRUCTURE and the whole
    // semantic machinery runs on top — walks -> skip-gram pairs ->
    // PPMI + md5 JL projection (closed form, no SGD) -> assembled
    // arrays -> width-dispatched kNN graph -> LPA -> community sizes.
    // The Paths.skipgramNodeEmbeddings scaladoc promise made
    // executable end to end; the oracle replays every stage — walk
    // draw for draw, PPMI cell for cell, plane for plane, vote for
    // vote.
    "graph_semantic_communities" -> ((s, dir) => {
      val li = lineitem(s, dir).where(col("l_quantity") >= 50)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      val sink = s.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:") + "/graft_walk_gsc_" + sfx(dir)
      Paths.randomWalksToSink(pairs, "src", "dst", walksPerNode = 2,
        steps = 3, path = sink)
      val sg = Paths.walkSkipgramPairs(s, sink, window = 2,
        centerLo = 0, centerHi = 3)
      val emb = Paths.skipgramNodeEmbeddings(sg, dim = 16)
      // long form -> per-node arrays ordered by j, MATERIALIZED before
      // the graph (the hashed_doc_knn rule: banded consumers expand
      // their input expression per plane projection), zero-norm guard
      // before any cosine
      val vecs = emb.groupBy(col("node"))
        .agg(array_sort(collect_list(struct(col("j"), col("weight")))).as("__jw"))
        .select(col("node"),
          transform(col("__jw"), e => e.getField("weight")).as("vec"))
        .localCheckpoint(true)
        .where(Similarity.dot(col("vec"), col("vec")) > 0)
      val edges = Similarity.knnGraphQuantized(vecs, "node", "vec", k = 3,
        dim = 16, bands = 2, rerankFactor = 4)
      val labels = Communities.labelPropagation(edges, "id", "nbr", iterations = 4)
      Communities.communitySizes(labels).orderBy("label")
    }),
    // Biased (node2vec, Grover & Leskovec 2016) walks with integer
    // return/common/out weights 4/2/1 (p=0.5, q=2 scaled by 4): the
    // 2nd-order interval pick over cumulative weights, md5-deterministic
    // like the uniform walks, replayed draw for draw by the oracle.
    "random_walks_biased" -> ((s, dir) => {
      val li = lineitem(s, dir).where(col("l_quantity") >= 50)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      Paths.randomWalksBiased(pairs, "src", "dst", walksPerNode = 2,
          steps = 3, wReturn = 4, wCommon = 2, wOut = 1)
        .orderBy("start", "walk_no", "step")
    }),
    // Sink delivery of the same biased corpus (rows identical —
    // spec-gated — so the shared oracle also pins the write/read-back).
    "random_walks_biased_sink" -> ((s, dir) => {
      val li = lineitem(s, dir).where(col("l_quantity") >= 50)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      val sink = s.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:") + "/graft_walk_biased_sink_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      Paths.randomWalksBiasedToSink(pairs, "src", "dst", walksPerNode = 2,
          steps = 3, wReturn = 4, wCommon = 2, wOut = 1, path = sink)
        .orderBy("start", "walk_no", "step")
    }),
    // -- LLM-pipeline operators --------------------------------------------
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(documents(s, dir), "doc_id", "text").orderBy("text_hash")),
    "jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(documents(s, dir), "doc_id", "text", n = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")),
    // Exact ANALYZE-style profile of four gate-worthy orders columns:
    // one aggregation pass (Catalyst Expand multi-distinct), bounds
    // string-cast on cast-stable types (bigint/varchar).
    "profile_columns" -> ((s, dir) =>
      Profile.columns(orders(s, dir),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))),
    // Column-profile drift between the corpus and the corpus_diff
    // mutated re-delivery: two single-pass profiles joined on column
    // name, exact integer deltas + a null-safe bounds_changed flag —
    // the delivery-acceptance gate at column granularity.
    "profile_drift" -> ((s, dir) => {
      val docs = documents(s, dir)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val b = col("doc_id") % 20
      val newSnap = docs.where(b >= 5)
        .unionByName(docs.where(b === 3 || b === 4)
          .select(col("doc_id"), concat(col("text"), lit(" rev2")).as("text")))
        .unionByName(docs.where(b === 2)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(docs.where(b === 5)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(lit("fresh "), col("doc_id").cast("string")).as("text")))
      Profile.drift(docs, newSnap, Seq("doc_id", "text"))
    }),
    // Embedding-space outlier gate: squared distance to the corpus
    // centroid in quantized micro-units (exact longs), z-scored against
    // the corpus's own distance distribution from DECIMAL-exact sums —
    // one closed-form double per row, so the hash oracle replays it.
    "embedding_outliers" -> ((s, dir) =>
      Similarity.outlierScores(embeddings(s, dir), "vec_id", "embedding",
          dim = 64, zThreshold = 2.0)
        .orderBy("vec_id")),
    // Prefix-filtered twin of jaccard_pairs (all-pairs/PPJoin candidate
    // generation): rarest-first global order, only each doc's
    // (1-t)-fraction prefix enters the inverted index — hot boilerplate
    // shingles fall OUT of the index by construction. Same output, same
    // oracle as jaccard_pairs.
    "jaccard_pairs_prefix" -> ((s, dir) =>
      Dedup.jaccardPairsPrefix(documents(s, dir), "doc_id", "text", n = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")),
    // RAKE keyphrases: stopword-delimited candidate runs, degree/freq
    // word scores in integer micro-units, top-3 per doc by (score desc,
    // phrase) — fully doc-keyed, bit-exact, replayed by the oracle.
    "rake_keyphrases" -> ((s, dir) =>
      Keyphrases.rake(documents(s, dir), "doc_id", "text", topK = 3)
        .orderBy("doc_id", "rank")),
    // Per-document memorization-risk scores: fraction of each doc's
    // distinct 3-gram shingles occurring in >= 2 docs. No pair join —
    // one shingle-keyed df aggregate + one doc-keyed rollup, the cheap
    // full-corpus pre-screen the pair operators run after.
    "duplication_scores" -> ((s, dir) =>
      Dedup.duplicationScores(documents(s, dir), "doc_id", "text", n = 3)
        .orderBy("doc_id")),
    // Snapshot diff between the corpus and a mutated re-delivery
    // (deterministic doc_id % 20 buckets: 0-1 dropped, 2 re-keyed
    // [+1e6, same content -> `moved_from` resolves], 3-4 edited, 5 also
    // spawns a brand-new +3e6 doc): content-hash full-outer join +
    // added x removed move resolution, statuses + witness all exact.
    "corpus_diff" -> ((s, dir) => {
      val docs = documents(s, dir)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val b = col("doc_id") % 20
      val newSnap = docs.where(b >= 5)
        .unionByName(docs.where(b === 3 || b === 4)
          .select(col("doc_id"), concat(col("text"), lit(" rev2")).as("text")))
        .unionByName(docs.where(b === 2)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(docs.where(b === 5)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(lit("fresh "), col("doc_id").cast("string")).as("text")))
      SnapshotDiff.diff(docs, newSnap, "doc_id", "text").orderBy("id")
    }),
    // Asymmetric containment dedup over documents + planted 40-token
    // excerpts (id + 2e6): an excerpt's shingles are a subset of its
    // source, so containment ~1.0 where Jaccard sits near
    // 40/len(doc) — the subset-duplication class the symmetric measure
    // misses by construction. Same inverted-index plan as
    // jaccard_pairs; both directions derive from each unordered
    // candidate, no second join.
    "containment_pairs" -> ((s, dir) => {
      val docs = documents(s, dir)
      val excerpts = docs.where(col("doc_id") < 10).select(
        (col("doc_id") + lit(2000000L)).as("doc_id"),
        concat_ws(" ", slice(split(lower(trim(col("text"))), "\\s+"), 1, 40)).as("text"))
      Dedup.containmentPairs(
          docs.select(col("doc_id"), col("text")).unionByName(excerpts),
          "doc_id", "text", n = 3, threshold = 0.9)
        .select(col("id_sub"), col("id_super"),
          round(col("containment"), 6).as("containment"))
        .orderBy("id_sub", "id_super")
    }),
    // Hot-gram discovery via the bounded-memory Misra-Gries aggregate:
    // top-20 trigrams by document frequency WITHOUT shuffling the gram
    // dictionary (one narrow aggregate; the only exchange is the final
    // single-partition merge of 32k-entry summaries). Capacity exceeds
    // sf0.01's distinct-trigram count, so the sketch is EXACT there and
    // the DuckDB exact top-20 is a hash-match oracle; the approximate
    // regime's MG bounds are property-tested in HeavyHittersSpec.
    "hot_grams" -> ((s, dir) =>
      HeavyHitters.hotGrams(documents(s, dir), "text", n = 3,
        capacity = 32768, k = 20)),
    // Per-language top-5 terms via one Misra-Gries summary PER GROUP —
    // the shuffle carries capacity-entry summaries, never the term
    // dictionary. Capacity exceeds sf0.01's per-language vocabulary, so
    // the sketch is exact there (max_err = 0 is part of the hashed
    // output — the oracle pins the exactness contract, not just rows).
    "hot_terms_per_lang" -> ((s, dir) =>
      HeavyHitters.topKPerGroup(
          documents(s, dir).select(col("lang"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
            .where(length(col("term")) > 0),
          "lang", "term", capacity = 32768, k = 5)
        .select(col("lang"), col("item").as("term"), col("n"), col("max_err"),
          col("rank"))
        .orderBy("lang", "rank")),
    // Edit-distance entity resolution (FastSS deletion neighborhoods):
    // every customer-name pair within 1 edit, with NO cartesian product —
    // candidates come from an equi-join on hashed deletion variants (text
    // never shuffles; the corpus's constant "Customer#0000..." prefix
    // would collapse q-gram or pigeonhole blocking into one hot bucket,
    // but deletion variants stay near-complete strings so buckets track
    // true edit neighborhoods), then one levenshtein verify per distinct
    // candidate pair. Oracle is DuckDB's O(n^2) brute force — blocked ==
    // exhaustive is exactly the claim under test.
    "fuzzy_join" -> ((s, dir) =>
      FuzzyJoin.selfPairs(customer(s, dir), "c_custkey", "c_name", maxDist = 1)
        .orderBy("a_c_custkey", "b_c_custkey")),
    // End-to-end entity resolution: FastSS fuzzy pairs feed the
    // large-star/small-star contraction — every customer labeled with
    // its edit-distance-connected component. The oracle recomputes
    // components independently (brute-force pairs + recursive min-label
    // to fixpoint), so BOTH the blocked candidate generation and the
    // O(log n) contraction are checked against first principles.
    "fuzzy_clusters" -> ((s, dir) => {
      val cust = customer(s, dir)
      val pairs = FuzzyJoin.selfPairs(cust, "c_custkey", "c_name", maxDist = 1)
        .select(col("a_c_custkey").as("id_a"), col("b_c_custkey").as("id_b"))
      Dedup.duplicateClusters(cust.select("c_custkey"), "c_custkey", pairs)
        .orderBy("c_custkey")
    }),
    // Interpolated Kneser-Ney bigram LM scoring (the CCNet-style LM
    // filter's smoothing): every model table is an aggregate over the
    // once-materialized bigram-count table, the probability joins back
    // on the bigram key, and the per-doc double sum folds in
    // bigram-sorted order so DuckDB's `sum(... ORDER BY bg)` replays it
    // exactly.
    "kneser_ney_score" -> ((s, dir) =>
      Scoring.kneserNeyScore(documents(s, dir), "doc_id", "text", discount = 0.75)
        .orderBy("doc_id")),
    // Count-min sketch frequency estimation under the sketch-contract
    // oracle pattern: estimate the top-20 tokens' counts from a bounded
    // depth*width table and emit in-plan containment booleans — never
    // undercounts, and the overcount stays within the classic 2eN/width
    // envelope. The exact side and the total derive from ONE token
    // aggregate; the corpus is read twice only because the CONTRACT
    // check needs both the sketch and the exact counts.
    "cms_token_counts" -> ((s, dir) => {
      val depth = 4
      val width = 4096
      val toks = documents(s, dir)
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      val cms = CountMin.sketch(toks, "token", depth, width)
      val counts = toks.groupBy("token").agg(count(lit(1)).as("n_exact"))
      val top = counts.orderBy(col("n_exact").desc, col("token").asc).limit(20)
      val totals = counts.agg(sum("n_exact").as("n_total"))
      CountMin.estimates(cms, top, "token", depth, width)
        .crossJoin(broadcast(totals))
        .select(col("token"), col("n_exact"),
          (col("est") >= col("n_exact")).as("lower_ok"),
          (col("est") <= col("n_exact") +
            ceil(lit(2.0 * math.E) * col("n_total") / lit(width)).cast("long"))
            .as("upper_ok"))
        .orderBy(col("n_exact").desc, col("token").asc)
    }),
    // Incremental ingestion dedup: the last fifth of the corpus arrives
    // as a new batch and is checked against the first four fifths — the
    // batch's inverted index broadcasts, the "corpus" side never
    // shuffles for the join.
    "dedup_incremental" -> ((s, dir) => {
      val docs = documents(s, dir)
      Dedup.jaccardPairsAgainst(
          docs.where(col("doc_id") >= 400), docs.where(col("doc_id") < 400),
          "doc_id", "text", n = 3, threshold = 0.8)
        .select(col("id_new"), col("id_corpus"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_new", "id_corpus")
    }),
    // The PERSISTED-index flavor of incremental dedup: the standing
    // corpus's inverted shingle index is written ONCE as a table
    // bucketed by shingle (IndexStore) and the ingest batch probes the
    // read-back — so each batch costs a batch-side shingle pass plus a
    // columnar index scan, never a full-corpus re-shingle
    // (DedupIndexSpec asserts no corpus-side regex/explode/exchange).
    // Timing honestly includes the index build + write. Same oracle as
    // dedup_incremental — identical output by construction.
    "dedup_incremental_indexed" -> ((s, dir) => {
      val docs = documents(s, dir)
      val tbl = "graft_shingle_index_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      IndexStore.writeBucketed(
        Dedup.shingleIndex(docs.where(col("doc_id") < 400), "doc_id", "text", n = 3),
        tbl, "shingle", 8)
      Dedup.jaccardPairsAgainstIndex(
          docs.where(col("doc_id") >= 400), IndexStore.read(s, tbl),
          "doc_id", "text", n = 3, threshold = 0.8)
        .select(col("id_new"), col("id_corpus"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_new", "id_corpus")
    }),
    // The BLOOM-gated flavor of incremental ingest, exact-dedup axis:
    // a Bloom filter of corpus fingerprints (distributed aggregate,
    // broadcast bits) gates the batch; only the fpp sliver of bloom
    // positives pays an exact confirm against one corpus scan. Output
    // is EXACT (the filter only prunes), so the NOT EXISTS SQL is a
    // true oracle.
    "dedup_incremental_bloom" -> ((s, dir) => {
      val docs = documents(s, dir)
      val corpus = docs.where(col("doc_id") < 400)
      // the raw last-fifth batch shares no exact text with the corpus, so
      // PLANT re-ingested copies (every 13th corpus doc, shifted ids) —
      // the gate must drop exactly those
      val batch = docs.where(col("doc_id") >= 400).unionByName(
        corpus.where(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 10000))
      Dedup.newDocsViaBloom(batch, corpus, "doc_id", "text", fpp = 0.01)
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // Candidate+verify: LSH banding proposes, exact shingle Jaccard
    // confirms — so the output is the TRUE near-dup pair set and the
    // brute-force SQL twin is an exact oracle (16 bands of 2: per-pair
    // miss probability <= (1-0.8^2)^16 ~ 4e-12 at the 0.8 threshold).
    "minhash_lsh_pairs" -> ((s, dir) =>
      Dedup.minHashLshJaccardPairs(documents(s, dir), "doc_id", "text",
          numHashes = 32, shingleN = 3, bands = 16, threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")),
    // 60-bit md5-token simhash: the signature itself has an exact SQL
    // twin, and (maxHamming+1)-chunk banding is a pigeonhole-complete
    // candidate generator — the all-pairs hamming SQL is an exact oracle.
    "simhash_pairs" -> ((s, dir) =>
      Dedup.simHashPairs60(documents(s, dir), "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")),
    // Winnowed-fingerprint partial-overlap pairs (MOSS scheme), md5-60
    // hash flavor so every stage — gram sequence, hash, sliding-window
    // min, selection, pair counts — reproduces in DuckDB.
    "winnow_pairs" -> ((s, dir) =>
      Dedup.winnowedOverlapPairs(documents(s, dir), "doc_id", "text",
          k = 3, w = 4, minShared = 2, tokHash = Dedup.md5TokenHash60)
        .orderBy("id_a", "id_b")),
    // Substring-level exact dedup (Lee et al. 2022 ExactSubstr shape): a
    // 60-token license header planted across otherwise-different docs
    // (doc_id % 101 == 0) is invisible to every document-level operator
    // above — the surrounding documents differ — but must surface here as
    // maximal shared spans with exact token boundaries. The oracle
    // replays gram hashing, the inverted-index join, and the
    // diagonal-islands merge, so boundaries are hash-checked to the
    // token. k=20 grams (the sf-sized analogue of the paper's 50).
    "substring_dedup_spans" -> ((s, dir) =>
      Dedup.sharedSpans(plantedHeaderDocs(s, dir), "doc_id", "text", k = 20)
        .orderBy("id_a", "id_b", "a_start", "b_start")),
    // The applied removal set: higher-id occurrences only, merged per doc
    // into maximal disjoint token intervals (gaps-and-islands window).
    "substring_dedup_removal" -> ((s, dir) =>
      Dedup.removalSpans(plantedHeaderDocs(s, dir), "doc_id", "text", k = 20)
        .orderBy("doc_id", "span_start")),
    // The CUT itself (what Lee et al.'s pipeline actually does to the
    // corpus): removal intervals broadcast onto the docs, tokens filtered
    // in-row, surviving normalized text per document — the full
    // detect->merge->apply chain hash-checked end to end.
    "substring_dedup_apply" -> ((s, dir) => {
      val docs = plantedHeaderDocs(s, dir)
      val removal = Dedup.removalSpans(docs, "doc_id", "text", k = 20)
      Dedup.applySpanRemoval(docs, "doc_id", "text", removal)
        .orderBy("doc_id")
    }),
    // WITHIN-document repeated-line removal (RefinedWeb/MassiveText): the
    // planted corpus repeats each 7th doc's first 10-token line at its
    // end — in-page boilerplate no cross-document operator sees. One
    // narrow per-row pass, no shuffle; first occurrence survives.
    "dedup_lines_within_doc" -> ((s, dir) =>
      Dedup.dedupLinesWithinDoc(plantedLineDocs(s, dir), "text")
        .select(col("doc_id"), col("n_lines_removed"), col("text"))
        .orderBy("doc_id")),
    // CROSS-document boilerplate line removal (CCNet/RefinedWeb): the
    // planted corpus prepends one shared "cookie banner" line to every
    // 11th doc — per-line document frequency >= 2 kills it everywhere.
    // Shuffles carry (hash, id, pos) only, never text; xxhash64 (the
    // scale-default line key) stays internal, so the oracle twin groups
    // on raw line equality.
    "dedup_lines_cross_doc" -> ((s, dir) =>
      Dedup.dedupLinesCrossDoc(plantedBoilerplateDocs(s, dir), "doc_id", "text",
          minDf = 2)
        .select(col("doc_id"), col("n_lines_removed"), col("text"))
        .orderBy("doc_id")),
    // DSIR importance weights (Xie et al. 2023): tilt the raw corpus
    // toward the German-language target slice. Hashed unigram+bigram
    // features (md5-bucket flavor for the exact SQL twin; xxhash64 is
    // the scale default); log_weight is a bucket-sorted in-row fold, so
    // the double is partitioning-independent and hashable at round 6.
    "dsir_scores" -> ((s, dir) => {
      val docs = documents(s, dir)
      Scoring.dsirLogWeights(docs, docs.where(col("lang") === "de"),
          "doc_id", "text", nBuckets = 1024,
          hashGram = g => Dedup.md5TokenHash60(g))
        .select(col("doc_id"), col("n_grams"),
          round(col("log_weight"), 6).as("log_weight"))
        .orderBy("doc_id")
    }),
    "text_stats" -> ((s, dir) => {
      val t = col("text")
      documents(s, dir).select(
        col("doc_id"),
        TextFunctions.wsTokenCount(t).cast("long").as("n_ws_tokens"),
        TextFunctions.bpeishTokenCount(t).cast("long").as("n_bpe_tokens"),
        round(TextFunctions.punctRatio(t), 6).as("punct_ratio"),
        round(TextFunctions.stopwordRatio(t), 6).as("stopword_ratio"),
        round(TextFunctions.meanWordLength(t), 6).as("mean_word_len"),
        TextFunctions.qualityScore(t).as("quality"),
        TextFunctions.fingerprint(t).as("fingerprint")
      ).orderBy("doc_id")
    }),
    "lang_id" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"), TextFunctions.langId(col("text")).as("lang"))
        .orderBy("doc_id")),
    // Repetition/symbol quality signals (published web-corpus filter
    // heuristics): duplicate-token fraction, duplicate-line fraction,
    // symbol-character ratio — all codegen'd per-row expressions.
    "quality_signals" -> ((s, dir) =>
      documents(s, dir).select(
        col("doc_id"),
        round(TextFunctions.dupTokenFraction(col("text")), 6).as("dup_token_frac"),
        round(TextFunctions.dupLineFraction(col("text")), 6).as("dup_line_frac"),
        round(TextFunctions.symbolRatio(col("text")), 6).as("symbol_ratio"))
        .orderBy("doc_id")),
    // Gopher/MassiveText char-weighted repetition filters over the
    // planted-line corpus (each 7th doc repeats its first line, so
    // dup_line_char_frac is provably nonzero there): one array_sort +
    // linear fold per signal, per row — scan speed, no shuffle.
    "repetition_signals" -> ((s, dir) =>
      Scoring.repetitionSignals(plantedLineDocs(s, dir), "doc_id", "text")
        .select(col("doc_id"),
          round(col("dup_line_char_frac"), 6).as("dup_line_char_frac"),
          col("top_2gram"),
          round(col("top_2gram_char_frac"), 6).as("top_2gram_char_frac"),
          round(col("dup_3gram_char_frac"), 6).as("dup_3gram_char_frac"))
        .orderBy("doc_id")),
    // Per-domain URL rollup (r14): the domain-level curation primitive —
    // extract every URL, key by lowercased host, one domain-keyed
    // aggregate (n_urls + distinct docs). URLs are PLANTED
    // deterministically (every 3rd doc gains two: a %13 site host and a
    // %5 mirror host) since the synthetic corpus carries none; the
    // oracle replays the plant.
    "domain_rollup" -> ((s, dir) => {
      val planted = documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"),
            lit(" see http://site"), (col("doc_id") % 13).cast("string"),
            lit(".example.com/p/"), col("doc_id").cast("string"),
            lit(" and https://mirror"), (col("doc_id") % 5).cast("string"),
            lit(".example.org/x")))
          .otherwise(col("text")).as("text"))
      planted
        .select(col("doc_id"),
          explode(TextFunctions.extractUrls(col("text"))).as("url"))
        .select(col("doc_id"), TextFunctions.urlDomain(col("url")).as("domain"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("domain")
    }),
    // Token-distribution Shannon entropy (r14): the lexical-diversity
    // quality signal — ln(n) - Σ c·ln(c) / n folded over the SORTED
    // distinct tokens, so the oracle replays the identical
    // left-to-right sum; round(6) absorbs last-ulp ln differences.
    "token_entropy" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"),
        TextFunctions.tokenEntropy(col("text")).as("token_entropy"))
        .orderBy("doc_id")),
    // PII scrubbing: email/URL/long-digit-run placeholders via a
    // lookaround-free regexp_replace chain that runs verbatim in RE2
    // engines — the DuckDB twin uses the SAME patterns.
    "scrub_pii" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"),
        TextFunctions.scrubPii(col("text")).as("scrubbed"))
        .orderBy("doc_id")),
    // Content-preserving normalization (r14) over a corpus PLANTED with
    // the dirt real crawls carry (every 7th doc gains C0 controls, DEL,
    // and tab runs — deterministic, replayed by the oracle): control
    // chars stripped, whitespace runs collapsed, ends trimmed; case and
    // punctuation kept (a rewrite stage, not a dedup key). Both char
    // counts emitted so the gate hashes the size delta too.
    "normalize_text" -> ((s, dir) => {
      val planted = documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(lit("\u0001\t "), col("text"), lit(" \u0007tail\t\t end ")))
          .otherwise(col("text")).as("text"))
      planted.select(col("doc_id"),
          length(col("text")).as("n_chars_raw"),
          TextFunctions.normalizeText(col("text")).as("text_norm"))
        .withColumn("n_chars_norm", length(col("text_norm")))
        .orderBy("doc_id")
    }),
    // TF-IDF top terms per document: inverted-index-shaped aggregation
    // (shuffle volume = distinct (doc, term) pairs), smoothed idf,
    // deterministic tie-break on term.
    "tfidf_topk" -> ((s, dir) =>
      Tfidf.topTerms(documents(s, dir), "doc_id", "text", k = 3, minDf = 2)
        .select(col("id"), col("term"), col("tf"), col("df"),
          round(col("tfidf"), 6).as("tfidf"), col("rank"))
        .orderBy("id", "rank")),
    // BM25 ranked retrieval: three probe queries (the first 8 tokens of
    // docs 0..2, so matches are guaranteed without fixture text
    // assumptions) scored against the whole corpus. Query terms
    // broadcast onto the TF table (corpus never shuffles for the match);
    // the per-(query, doc) double folds term-sorted in-row (DSIR rule),
    // so the oracle replays it with sum(s ORDER BY term).
    "bm25_topk" -> ((s, dir) => {
      val docs = documents(s, dir)
      val probes = docs.where(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(lower(trim(col("text"))), "\\s+"), 1, 8)).as("qtext"))
      Tfidf.bm25TopK(docs, "doc_id", "text", probes, "query_id", "qtext", k = 5)
        .select(col("query_id"), col("doc_id"), col("n_terms"),
          round(col("score"), 6).as("score"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // Incremental-ingest flavor: the standing even-id half's index
    // persists once per session (ensureBm25HalfIndex — the between-epoch
    // artifact the incremental story implies) and the odd-id half MERGES
    // in (tf/dl append, df term-keyed add, stats refold) — structurally
    // identical to a full rebuild, so it shares the bm25 oracle. The
    // standing corpus is never re-tokenized; the entry times the
    // per-batch merge + probe.
    "bm25_topk_merged" -> ((s, dir) => {
      val docs = documents(s, dir)
      val standing = bm25HalfIndex(s, ensureBm25HalfIndex(s, dir))
      val merged = Tfidf.bm25IndexMerge(standing,
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
      val probes = docs.where(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(lower(trim(col("text"))), "\\s+"), 1, 8)).as("qtext"))
      Tfidf.bm25TopKOnIndex(merged, probes, "query_id", "qtext", k = 5)
        .select(col("query_id"), col("doc_id"), col("n_terms"),
          round(col("score"), 6).as("score"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // HYBRID retrieval: BM25 lexical top-10 fused with exact-cosine
    // semantic top-10 by reciprocal rank (no score calibration across
    // the two signal types — only ranks enter). The classic two-tower
    // search stack composed from in-repo parts; the aligned
    // documents/embeddings ids make the fused ranking meaningful.
    "hybrid_search" -> ((s, dir) => {
      val docs = documents(s, dir)
      val emb = embeddings(s, dir)
      val probes = docs.where(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(lower(trim(col("text"))), "\\s+"), 1, 8)).as("qtext"))
      val lexical = Tfidf.bm25TopK(docs, "doc_id", "text", probes,
          "query_id", "qtext", k = 10)
        .select(col("query_id"), col("doc_id").as("corpus_id"), col("rank"))
      val semantic = Similarity.topKForQueries(emb, emb.where(col("vec_id") < 3),
          "vec_id", "embedding", k = 10)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"), col("rank"))
      Similarity.reciprocalRankFusion(Seq(lexical, semantic), k0 = 60, topK = 5)
        .select(col("query_id"), col("corpus_id"),
          round(col("rrf_score"), 6).as("rrf_score"), col("n_lists"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // Search-serving snippets: top-3 BM25 hits highlighted with a
    // 3-token keyword-in-context window around the first query-term
    // occurrence — in-plan index-lambda scan per hit, no explode, two
    // hit-keyed equi-joins.
    "bm25_snippets" -> ((s, dir) => {
      val docs = documents(s, dir)
      val probes = docs.where(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(lower(trim(col("text"))), "\\s+"), 1, 8)).as("qtext"))
      val hits = Tfidf.bm25TopK(docs, "doc_id", "text", probes, "query_id", "qtext", k = 3)
      Tfidf.snippets(hits, docs, "doc_id", "text", probes, "query_id", "qtext",
          windowTokens = 3)
        .select(col("query_id"), col("doc_id"),
          col("first_pos").cast("int").as("first_pos"), col("snippet"))
        .orderBy("query_id", "doc_id")
    }),
    // The PERSISTED-index flavor of BM25: the tf table is written once
    // bucketed by term (the probe key) and the query probes the
    // read-back — timing honestly includes the index build + write.
    // Identical arithmetic to bm25_topk, so it shares that oracle.
    "bm25_topk_indexed" -> ((s, dir) => {
      val docs = documents(s, dir)
      val built = Tfidf.bm25Index(docs, "doc_id", "text")
      val tbl = "graft_bm25_tf_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      IndexStore.writeBucketed(built.tf, tbl, "term", 8)
      val index = Tfidf.Bm25Index(IndexStore.read(s, tbl),
        built.df, built.dl, built.stats)
      val probes = docs.where(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(lower(trim(col("text"))), "\\s+"), 1, 8)).as("qtext"))
      Tfidf.bm25TopKOnIndex(index, probes, "query_id", "qtext", k = 5)
        .select(col("query_id"), col("doc_id"), col("n_terms"),
          round(col("score"), 6).as("score"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // Document chunking: 64-token windows with 16-token overlap (stride
    // 48) — the embedding/RAG prep shape. Pure per-row algebra: no
    // shuffle, row multiplier = ceil(n_tokens / stride).
    "chunk_documents" -> ((s, dir) =>
      Chunking.chunk(documents(s, dir), "doc_id", "text",
          chunkTokens = 64, overlapTokens = 16)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk_text"), col("chunk_tokens").cast("long").as("chunk_tokens"))
        .orderBy("doc_id", "chunk_idx")),
    // Top-40 collocations by PMI (minCount=5 floors the hapax-pair
    // explosion): gram tables map-side combined, probability joins are
    // word-keyed equi-joins, totals ride a one-row broadcast, the cut is
    // TakeOrderedAndProject. PMI is one closed-form double over exact
    // integer counts -> replayable.
    "pmi_collocations" -> ((s, dir) =>
      Scoring.pmiCollocations(documents(s, dir), "doc_id", "text",
          k = 40, minCount = 5)
        .select(col("w1"), col("w2"), col("n_pair"),
          round(col("pmi"), 6).as("pmi"))),
    // Weighted corpus mixture via deterministic content-hash sampling:
    // survival (and repetition) is a pure function of (doc_id, lang), so
    // the mixture is reproducible across engines/layouts/retries — which
    // is also what makes it oracle-checkable (DataFrame.sample is not).
    // The rate matrix exercises both directions: English downsampled to
    // 0.5, the rare 'und' stratum UPWEIGHTED to 2.25 (2 guaranteed
    // copies + a hash-thresholded 25% third — how real mixtures boost
    // rare languages/domains), everything else dropped.
    // Temperature-scaled mixture weights (r14): per-source sampling
    // weight ∝ count^0.5, the alpha-smoothed multinomial recipe that
    // feeds mixture_sample's rate map. sqrt is IEEE-correctly-rounded
    // in both engines and the ratio is integer micro-units, so the
    // oracle is exact-hash despite the fractional exponent.
    "mixture_weights" -> ((s, dir) =>
      Chunking.temperatureWeights(documents(s, dir), "source")
        .orderBy("source")),
    "mixture_sample" -> ((s, dir) => {
      val docs = documents(s, dir)
        .withColumn("lang", TextFunctions.langId(col("text")))
      Chunking.mixtureSample(docs, "doc_id", "lang",
          rates = Map("en" -> 0.5, "und" -> 2.25))
        .select(col("doc_id"), col("lang"), col("sample_copy").cast("long").as("sample_copy"))
        .orderBy("doc_id", "sample_copy")
    }),
    // Sequence packing (concat-then-chunk context windows): global token
    // offsets via the DISTRIBUTED exclusive prefix sum — no
    // whole-corpus-in-one-task Window.orderBy anywhere in the plan.
    "pack_sequences" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"),
        TextFunctions.wsTokenCount(col("text")).cast("long").as("n_tokens"))
      Packing.packByBudget(docs, "doc_id", "n_tokens", budget = 2048L, numBuckets = 8)
        .select("doc_id", "n_tokens", "offset", "pack_id", "pack_offset")
        .orderBy("doc_id")
    }),
    // Per-pack manifest: the ordered doc list + within-pack boundary
    // offsets a data loader needs to build per-pack attention masks.
    // One pack-keyed aggregate over the packing result; per-group state
    // bounded by the context window. Arrays stringify canonically so
    // the hash gate compares them exactly.
    "pack_manifest" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"),
        TextFunctions.wsTokenCount(col("text")).cast("long").as("n_tokens"))
      Packing.packManifest(
          Packing.packByBudget(docs, "doc_id", "n_tokens", budget = 2048L, numBuckets = 8))
        .select(col("pack_id"), col("n_docs"), col("total_tokens"),
          array_join(transform(col("doc_ids"), x => x.cast("string")), ",").as("doc_ids"),
          array_join(transform(col("doc_offsets"), x => x.cast("string")), ",").as("doc_offsets"))
        .orderBy("pack_id")
    }),
    // Token-AWARE packing: identical distributed prefix-sum scheme, but
    // the budget counts BPE-ish subword tokens (letter runs, digit runs,
    // single symbols) instead of whitespace words. Whitespace counts
    // under-estimate real tokenizer budgets 20-40% on punctuated web
    // text — packing by them routinely overruns the context window — so
    // this is the variant a training pipeline actually packs with. The
    // count expression is deterministic regex SQL -> exact hash oracle.
    "pack_sequences_bpeish" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"),
        TextFunctions.bpeishTokenCount(col("text")).cast("long").as("n_tokens"))
      Packing.packByBudget(docs, "doc_id", "n_tokens", budget = 2048L, numBuckets = 8)
        .select("doc_id", "n_tokens", "offset", "pack_id", "pack_offset")
        .orderBy("doc_id")
    }),
    // Benchmark decontamination (GPT-3-style n-gram overlap): every 10th
    // document stands in for a held-out eval set; the remaining corpus is
    // scanned ONCE against the BROADCAST benchmark shingle set — no
    // corpus-side shuffle except the per-doc rollup. Total + matched
    // shingle counts come out of the same exploded pass (left-join
    // marker), so the corpus text is read exactly once.
    "decontaminate" -> ((s, dir) => {
      val docs = documents(s, dir)
      Decontamination.flagContaminated(
          docs.where(col("doc_id") % 10 =!= 0),
          docs.where(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 3, minOverlap = 1)
        .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
          round(col("contamination_ratio"), 6).as("contamination_ratio"))
        .orderBy("doc_id")
    }),
    // Train/test split-leakage gate (r14): the decontamination check a
    // training pipeline runs on ITS OWN splits — hash-split the corpus
    // with the production assignSplit, then flag every TRAIN doc sharing
    // >= 3 distinct trigrams with any TEST doc. Composes the two
    // already-verified primitives (split assignment is a pure projection;
    // the leak check is one corpus scan with the test side broadcast),
    // so the gate costs one decontamination pass, not a new dataflow.
    "split_leakage" -> ((s, dir) => {
      val split = Shuffling.assignSplit(documents(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 7L)
      Decontamination.flagContaminated(
          split.where(col("split") === "train"),
          split.where(col("split") === "test"),
          "doc_id", "text", n = 3, minOverlap = 3)
        .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
          round(col("contamination_ratio"), 6).as("contamination_ratio"))
        .orderBy("doc_id")
    }),
    // Attribution table: WHICH benchmark doc leaked into which training
    // doc (the audit a release review reads). Aggregate keyed by the
    // (corpus, bench) pair — cardinality bounded by matches, not corpus.
    "contamination_pairs" -> ((s, dir) => {
      val docs = documents(s, dir)
      Decontamination.contaminationPairs(
          docs.where(col("doc_id") % 10 =!= 0),
          docs.where(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 3, minCommon = 3)
        .orderBy("doc_id", "bench_id")
    }),
    // SEMANTIC decontamination (r17): the leak the n-gram pass can't see.
    // The first 100 base embeddings stand in for the benchmark; the
    // corpus is the rest PLUS their planted near-dup twins (paraphrase
    // stand-ins). Benchmark buckets + vectors broadcast; the corpus is
    // scanned once with cosine verified in the map stage — the only
    // exchange is the already-filtered pair collapse.
    "semantic_decontaminate" -> ((s, dir) => {
      val planted = plantedEmbeddings(s, dir)
      Decontamination.semanticPairs(
          planted.where(col("vec_id") >= 100),
          planted.where(col("vec_id") < 100),
          "vec_id", "embedding", threshold = 0.9, dim = 64, bands = 2)
        .select(col("vec_id"), col("bench_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("vec_id", "bench_id")
    }),
    // Per-doc rollup of the semantic leak table: the drop list.
    "semantic_decontaminate_flag" -> ((s, dir) => {
      val planted = plantedEmbeddings(s, dir)
      Decontamination.semanticFlag(
          planted.where(col("vec_id") >= 100),
          planted.where(col("vec_id") < 100),
          "vec_id", "embedding", threshold = 0.9, dim = 64, bands = 2)
        .select(col("vec_id"), col("n_bench_matches"),
          round(col("max_cosine"), 6).as("max_cosine"))
        .orderBy("vec_id")
    }),
    // Multinomial Naive Bayes (r17) — the count-based fastText-filter
    // analogue. Train on 2/3 of the corpus predicting lang (one
    // map-side-combined (label, token) aggregate + a TakeOrdered
    // vocabulary cut), emit the DENSE model grid: every cell's count,
    // Laplace-smoothed log-likelihood in integer nano-nats, and the
    // quantized log prior — the whole fitted artifact is hash-gated.
    "nb_train_lang" -> ((s, dir) =>
      NaiveBayes.train(
          documents(s, dir).where(col("doc_id") % 3 =!= 0),
          "lang", "text", vocabSize = 500)
        .orderBy("label", "token")),
    // Score the held-out third with the broadcast model: per-doc argmax
    // of exact integer score sums (prior + per-occurrence smoothed log
    // likelihoods), ties label-asc, zero-evidence docs fall back to the
    // prior-argmax label — row-level gate over every prediction.
    "nb_classify_lang" -> ((s, dir) => {
      // model persists once per session (nb_train_lang times the
      // train); this times the SCORING pass — one corpus scan against
      // the broadcast model, the production filter shape
      val docs = documents(s, dir)
      val model = IndexStore.read(s, "graft_nb_model_" + ensureNbModel(s, dir))
      NaiveBayes.classify(
          docs.where(col("doc_id") % 3 === 0), model, "doc_id", "text")
        .orderBy("doc_id")
    }),
    // Confusion rollup of the same run: the |labels|^2 eval table a
    // filter-training pipeline reads before shipping the model.
    "nb_confusion_lang" -> ((s, dir) => {
      val docs = documents(s, dir)
      val model = IndexStore.read(s, "graft_nb_model_" + ensureNbModel(s, dir))
      NaiveBayes.confusion(
          docs.where(col("doc_id") % 3 === 0), model, "doc_id", "text", "lang")
        .orderBy("actual", "predicted")
    }),
    // HASHED-BIGRAM flavor (r18, fastText parity for the filter
    // family): adjacent token pairs hash into 64 md5 buckets and ride
    // the same vocabulary cut / dense grid / scoring fold as synthetic
    // bg#<bucket> tokens — word-order evidence with a bounded feature
    // space. Same TakeOrdered + broadcast scale shape; the grid is
    // hash-gated cell for cell like the unigram model.
    "nb_train_lang_bigram" -> ((s, dir) =>
      NaiveBayes.train(
          documents(s, dir).where(col("doc_id") % 3 =!= 0),
          "lang", "text", vocabSize = 500, bigramBuckets = 64)
        .orderBy("label", "token")),
    // Held-out confusion of the bigram model (model persisted once per
    // session; the unigram-vs-bigram accuracy delta is recorded in
    // COVERAGE.md).
    "nb_confusion_lang_bigram" -> ((s, dir) => {
      val docs = documents(s, dir)
      val model = IndexStore.read(s, "graft_nb_bg_model_" + ensureNbBigramModel(s, dir))
      NaiveBayes.confusion(
          docs.where(col("doc_id") % 3 === 0), model, "doc_id", "text", "lang",
          bigramBuckets = 64)
        .orderBy("actual", "predicted")
    }),
    // ORDER-SEPARATION receipt (r18 verdict #3): a planted corpus whose
    // two classes differ ONLY by token order — fwd docs repeat the
    // cycle "ord0 ord2 ord3", rev docs the reversed cycle — with
    // IDENTICAL per-doc unigram counts, so the unigram model is
    // order-blind by construction while the hashed-bigram features
    // split the classes into disjoint bucket sets ({10,47,42} vs
    // {12,59,24} at 64 buckets — collision-checked against the md5
    // hash). Both confusions are hash-gated, so the gate itself now
    // prices the bigram feature where word order carries the signal
    // (the lang-corpus delta stays the honest negative recorded in
    // COVERAGE.md r18); NaiveBayesSpec asserts bigram-diagonal >
    // unigram-diagonal across the two entries.
    "nb_confusion_order_unigram" -> ((s, dir) => {
      val corpus = orderCorpus(s, dir)
      val model = NaiveBayes.train(
        corpus.where(pmod(col("doc_id"), lit(3)) =!= 0), "cls", "text",
        vocabSize = 16)
      NaiveBayes.confusion(
          corpus.where(pmod(col("doc_id"), lit(3)) === 0), model,
          "doc_id", "text", "cls")
        .orderBy("actual", "predicted")
    }),
    "nb_confusion_order_bigram" -> ((s, dir) => {
      val corpus = orderCorpus(s, dir)
      val model = NaiveBayes.train(
        corpus.where(pmod(col("doc_id"), lit(3)) =!= 0), "cls", "text",
        vocabSize = 16, bigramBuckets = 64)
      NaiveBayes.confusion(
          corpus.where(pmod(col("doc_id"), lit(3)) === 0), model,
          "doc_id", "text", "cls", bigramBuckets = 64)
        .orderBy("actual", "predicted")
    }),
    // Hashing-trick document vectors (r17): feature hashing with sign
    // correction — a 64-d embedding for every document WITHOUT an
    // external encoder, as a pure in-row fold (no shuffle; the
    // explode/groupBy shape would shuffle tokens x corpus). Exploded to
    // long form so every component is row-level hash-gated.
    "hashed_doc_vectors" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"),
          posexplode(TextFunctions.hashedVector(col("text"), 64,
            g => Dedup.md5TokenHash60(g))).as(Seq("bucket", "weight")))
        .select(col("doc_id"), col("bucket").cast("long").as("bucket"),
          col("weight"))
        .orderBy("doc_id", "bucket")),
    // The self-contained text -> embedding -> ANN path: kNN graph over
    // the hashed vectors (banded md5 LSH candidates + exact cosine
    // top-3). Proves the embedding machinery runs end to end on
    // embeddings the engine MADE, not just ones it was handed.
    // The vector column is MATERIALIZED before the graph: downstream
    // consumers expand their input column expression per plane
    // projection, which would re-run the per-token fold once per plane
    // (bands·rowsPerBand times) per row (compute embeddings once, then
    // index — the production
    // shape anyway).
    "hashed_doc_knn" -> ((s, dir) => {
      val vecs = documents(s, dir).select(col("doc_id"),
          TextFunctions.hashedVector(col("text"), 64,
            g => Dedup.md5TokenHash60(g)).as("hvec"))
        .localCheckpoint(true)
        .where(Similarity.dot(col("hvec"), col("hvec")) > 0)
      Similarity.knnGraph(vecs, "doc_id", "hvec", k = 3, dim = 64, bands = 2)
        .select(col("id"), col("nbr"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
        .orderBy("id", "rank")
    }),
    // Deterministic global shuffle + sharding: content-hash order key
    // (reproducible across engines/layouts/retries — rand() is neither)
    // and an N-way shard split; orderBy compiles to a range-partitioned
    // sort, so the 100 TB "epoch shuffle" is one sampled exchange with
    // per-task sorts, never a single-task stage.
    "global_shuffle" -> ((s, dir) =>
      Shuffling.shard(
          Shuffling.deterministicShuffle(documents(s, dir), "doc_id", seed = 42L),
          "doc_id", numShards = 8, seed = 42L)
        .select(col("doc_id"), col("shuffle_key"), col("shard"))
        .orderBy("shuffle_key", "doc_id")),
    // Deterministic train/val/test assignment: hash-fraction when-chain,
    // pure projection (no shuffle). Hash independence from every column
    // means each stratum splits in the same proportions for free, and
    // threshold monotonicity means re-weighting never swaps rows between
    // splits (no train->test leakage across config changes).
    "dataset_split" -> ((s, dir) =>
      Shuffling.assignSplit(documents(s, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 7L)
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")),
    // Exactly-20-per-language deterministic sample: hash-ranked window
    // per stratum (one stratum-keyed shuffle); the kept set is a pure
    // function of (id, lang, seed) and nests across n.
    "sample_n_per_stratum" -> ((s, dir) =>
      Shuffling.sampleNPerStratum(documents(s, dir), "doc_id", "lang", n = 20, seed = 5L)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),
    // Robust per-source scaling of the quality score: (x - median)/IQR
    // from ONE exact array-probability percentile per source (the
    // group_percentiles discipline), broadcast back, scan-speed
    // projection. Outlier-resistant where z-scores move with the tails.
    "robust_scale" -> ((s, dir) =>
      Scoring.robustScale(
          documents(s, dir).withColumn("quality",
            TextFunctions.qualityScore(col("text"))),
          "doc_id", "quality", "source")
        .select(col("doc_id"), col("source"), col("quality"),
          round(col("scaled"), 6).as("scaled"))
        .orderBy("doc_id")),
    // Within-source percentile-rank normalization of the quality score
    // (+ ntile curriculum buckets): makes scores comparable across
    // sources with different raw distributions. (score, id) total order
    // -> percent_rank == row_number-based, deterministic in any engine;
    // one source-keyed shuffle.
    "quality_percentile_norm" -> ((s, dir) =>
      Scoring.percentileNormalize(
          documents(s, dir).withColumn("quality",
            TextFunctions.qualityScore(col("text"))),
          "doc_id", "quality", "source", nBuckets = 4)
        .select(col("doc_id"), col("source"), col("quality"),
          round(col("pct"), 6).as("pct"), col("bucket"))
        .orderBy("doc_id")),
    // Weighted sample without replacement (Efraimidis-Spirakis): 50 docs
    // drawn with probability tracking text length. The -ln(u)/w key is a
    // scan-speed projection; the cut is TakeOrderedAndProject (per-
    // partition 50-row heaps + driver merge), never a global sort. The
    // oracle replays the exact key arithmetic.
    "weighted_sample" -> ((s, dir) =>
      Shuffling.weightedSampleN(
          documents(s, dir).withColumn("w", length(col("text")).cast("double")),
          "doc_id", "w", n = 50, seed = 7L)
        // order on the UNROUNDED key (the oracle's ORDER BY k): two keys
        // differing only below 1e-6 must not flip doc order between the
        // engines. The rounding projection sits ABOVE the sort and
        // preserves its order.
        .orderBy("sample_key", "doc_id")
        .select(col("doc_id"), col("w").cast("long").as("w"),
          round(col("sample_key"), 6).as("sample_key"))),
    // Corpus vocabulary: top-50 terms by total count — per-(doc,term)
    // map-side combine bounds the first shuffle, term rollup is one row
    // per term, global cut is TakeOrderedAndProject (per-partition heaps).
    "vocab_topk" -> ((s, dir) =>
      Tfidf.vocabulary(documents(s, dir), "doc_id", "text", topK = 50, minCount = 2)
        .orderBy(col("term_count").desc, col("term").asc)),
    // Corpus-LM fluency scoring: bigrams built in-plan (no shuffle), one
    // map-side-combined bigram count table, join back on the bigram key,
    // per-doc rollup. Integer sums -> exact cross-engine hash.
    "bigram_score" -> ((s, dir) =>
      Scoring.bigramFrequencyScore(documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // Broadcast scale variant: only the top-64 bigrams carry corpus
    // counts (deterministic cut), untracked bigrams floor to 1 — the
    // count-table join disappears; the per-doc rollup is the only
    // shuffle left.
    "bigram_score_topk" -> ((s, dir) =>
      Scoring.bigramFrequencyScore(documents(s, dir), "doc_id", "text",
          trackTopK = Some(64))
        .orderBy("doc_id")),
    // Per-stratum quality bar: tiny per-lang percentile aggregate
    // broadcast onto the corpus — the corpus never shuffles. Exact
    // percentile here (hash-oracle); approx=true is the sketch scale path
    // (ScoringSpec asserts agreement).
    "quality_filter_stratified" -> ((s, dir) =>
      Scoring.qualityFilterStratified(documents(s, dir), "doc_id", "text", "lang", p = 0.5)
        .orderBy("doc_id")),
    // All (lang x source) rollup levels in ONE pass — `cube` expands to
    // grouping sets inside a single aggregate (map-side combined), so
    // the corpus is read once for the whole mixture-planning summary
    // instead of once per breakdown. NULL dim = rolled-up level (the
    // synthetic corpus has no null lang/source, so the marker is
    // unambiguous). Decimal-exact quality sums, the nation_revenue rule.
    "corpus_cube" -> ((s, dir) =>
      documents(s, dir)
        .select(col("lang"), col("source"),
          TextFunctions.qualityScore(col("text")).as("q"),
          TextFunctions.wsTokenCount(col("text")).cast("long").as("tk"))
        .cube("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tk")).as("total_tokens"),
          round(sum(col("q").cast("decimal(18,10)")).cast("double") / count(lit(1)), 6)
            .as("avg_quality"))
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)),
    // Per-source rollup: the table corpus mixture weights are chosen
    // from. The quality avg runs over an EXACT decimal sum (quality is
    // pre-rounded to 6 dp, so decimal(18,10) holds it exactly) — a
    // distributed double sum's association order could drift from the
    // oracle's sequential one (the nation_revenue rule).
    "source_quality_rollup" -> ((s, dir) =>
      documents(s, dir)
        .select(col("source"),
          TextFunctions.qualityScore(col("text")).as("q"),
          TextFunctions.wsTokenCount(col("text")).cast("long").as("tk"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("q").cast("decimal(18,10)")).cast("double") / count(lit(1)), 6)
            .as("avg_quality"),
          sum(col("tk")).as("total_tokens"))
        .orderBy("source")),
    "brute_force_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val q = queryVector(e)
      Similarity.bruteForceTopK(e, "vec_id", "embedding", q, k = 10)
        .select(col("id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("id").asc)
    }),
    "topk_for_queries" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.topKForQueries(e, e.where(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("corpus_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // kNN weak labeling over the embeddings' label column: majority
    // label of the exact top-5 neighbors, vote ties to the smaller
    // label. The vote is a k-row-per-query aggregate; swap the
    // candidate stage for IVF/LSH at bulk query volumes.
    "knn_classify" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.knnClassify(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
          "label", k = 5)
        .orderBy("query_id")
    }),
    // Recall-1.0 multi-probe setting for THIS corpus (random vectors, no
    // cluster structure — the hardest case for sign-LSH): 4 bits, probe
    // radius 2 = 11/16 buckets. The output then equals the exact top-k,
    // so the brute-force SQL is the oracle. Real near-dup corpora
    // (cosine >= 0.9 targets) run nBits 16+, radius 1 — scan fraction
    // ~1e-4 (see NearDupSpec's planted-pair recall).
    "ann_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val q = queryVector(e)
      Similarity.annTopK(
        Similarity.lshIndex(e, "vec_id", "embedding", nBits = 4, dim = q.size),
        q, nBits = 4, k = 10, probeRadius = 2)
        .select(col("id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("id").asc)
    }),
    // Batch IVF ANN at the exhaustive nprobe = nlist setting (recall 1.0
    // by construction -> the brute-force SQL is an exact oracle); the
    // PLAN keeps the production shape: per-query cell ranking in-plan,
    // hash join on cell, window rerank. Production runs nprobe << nlist.
    "batch_ivf_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val (index, centroids) = Similarity.ivfIndex(e, "vec_id", "embedding", nlist = 16)
      Similarity.ivfTopKForQueries(index, centroids, e.where(col("vec_id") < 5),
          "vec_id", "embedding", nprobe = 16, k = 5)
        .select(col("query_id"), col("corpus_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    "sessionize" -> ((s, dir) =>
      Sessionize.sessionStats(events(s, dir)).orderBy("user_id", "session_idx")),
    // Tumbling event-time rollup via the native window() function on the
    // canonical TimestampType ts — the batch twin of the streaming
    // session/window aggregates; one shuffle keyed on (bucket, type),
    // map-side combined. Epoch-aligned 1h buckets == DuckDB date_trunc.
    "event_hourly_rollup" -> ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          round(sum("value"), 6).as("sum_value"))
        .select(unix_micros(col("w.start")).as("window_start_us"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("window_start_us", "event_type")),
    // Distinct users per hopping window (1h/15min) with the HLL
    // contract: exact count_distinct + approx_count_distinct in ONE
    // windowed aggregate, emitting the rsd-envelope boolean — the
    // bounded-memory path for sliding unique-visitor counts at 100 TB
    // (HLL sketches merge across windows; the exact form buffers every
    // id per open window). Oracle pins exact counts AND the contract.
    "event_hopping_distinct" -> ((s, dir) => {
      val rsd = 0.02
      // the envelope needs an ABSOLUTE floor: per-window cardinalities
      // here are 2..28, where a pure relative rsd bound is smaller than
      // one hash-collision's worth of estimator wobble (measured: 4 of
      // 2883 windows breached the bare 6*rsd band)
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count_distinct(col("user_id")).as("exact"),
          approx_count_distinct(col("user_id"), rsd).as("approx"))
        .select(unix_micros(col("w.start")).as("window_start_us"), col("exact"),
          (abs(col("approx") - col("exact")).cast("double") <=
            greatest(col("exact") * (6 * rsd), lit(6.0))).as("within_rsd"))
        .orderBy("window_start_us")
    }),
    // Hourly volume anomalies at |z| >= 1.5: stats from INTEGER sums
    // only (exact under any partitioning), z a closed-form double per
    // bucket — deterministic and replayable; zero-variance types
    // excluded by the integer predicate.
    "event_anomaly" -> ((s, dir) =>
      Sessionize.hourlyCountAnomalies(events(s, dir), "event_type", "ts",
          zThreshold = 1.5)
        .select(col("window_start_us"), col("event_type"), col("n_events"),
          round(col("z"), 6).as("z"))
        .orderBy("window_start_us", "event_type")),
    // HOPPING (sliding) event-time rollup: 1h windows every 15min —
    // each event lands in 4 overlapping buckets (the smoothing twin of
    // event_hourly_rollup's tumbling mode); native window(len, hop),
    // one map-side-combined shuffle on (window, type). The oracle
    // derives the 4 covering windows per event arithmetically.
    "event_hopping_rollup" -> ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          round(sum("value"), 6).as("sum_value"))
        .select(unix_micros(col("w.start")).as("window_start_us"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("window_start_us", "event_type")),
    // Top event-type transition patterns: per-user event sequences in
    // (ts, event_id) order, adjacent-pair mining, global top-20 by
    // count — the behavioral-pattern summary. One user-keyed collect +
    // one pair-keyed map-side-combined count; TakeOrdered cut.
    "event_transitions" -> ((s, dir) => {
      val seq0 = events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("__us"), col("event_id"))
        .groupBy("user_id")
        .agg(array_sort(collect_list(struct(col("__us"), col("event_id"),
          col("event_type")))).as("__evs"))
        .select(col("user_id"),
          transform(col("__evs"), e => e.getField("event_type")).as("__types"))
      val n = size(col("__types"))
      seq0.select(explode(when(n >= 2,
          transform(sequence(lit(1), n - 1), i =>
            concat_ws(" -> ", element_at(col("__types"), i),
              element_at(col("__types"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("transition"))
        .groupBy("transition").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("transition").asc)
        .limit(20)
    }),
    // Ordered conversion funnel view -> click -> purchase: per-step
    // earliest completion strictly after the prior step; user-keyed
    // aggregates/joins only, with each stage's input pre-filtered to its
    // event type. Broken funnels propagate nulls via the strict
    // conditional-min.
    "event_funnel" -> ((s, dir) =>
      Sessionize.funnel(events(s, dir), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"))
        .select(col("user_id"), col("t1_us"), col("t2_us"), col("t3_us"),
          col("stage").cast("int").as("stage"))
        .orderBy("user_id")),
    // Weekly cohort retention triangle: cohort = first-activity week
    // (epoch-aligned integer division — no calendar/timezone
    // dependence), counts exact.
    "cohort_retention" -> ((s, dir) =>
      Sessionize.cohortRetention(events(s, dir), "user_id", "ts")
        .orderBy("cohort_week", "active_week")),
    // Per-user EWMA of event values in event-time order: the sequential
    // recurrence runs as ONE user-keyed aggregate with a ts-sorted
    // in-row fold (DSIR rule — bit-stable under any partitioning); the
    // oracle replays it with list_reduce over list(v ORDER BY ts,
    // event_id) and the identical IEEE constants.
    "event_ewma" -> ((s, dir) =>
      Sessionize.ewma(events(s, dir), "user_id", "ts", "event_id", "value",
          alpha = 0.3)
        .select(col("user_id"), col("n_events"), round(col("ewma"), 6).as("ewma"))
        .orderBy("user_id")),
    // Semi-structured extraction: pull the typed k out of the JSON props
    // column per event — get_json_object is a codegen'd path expression
    // (no UDF, no schema inference pass); row-level output so the gate
    // hashes every extracted value.
    "event_json_props" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")),
    // Range join: every error event attributed to the session interval
    // containing it, per user — the bin-bucketed form (points land in ONE
    // bin, intervals explode into their overlapped bins, equi-join on
    // (key, bin), exact containment filter) instead of the per-key
    // cartesian Spark plans for a raw BETWEEN join. Oracle: plain
    // inequality join in DuckDB over the same recomputed sessions.
    "range_join" -> ((s, dir) => {
      val e = events(s, dir)
      val sessions = Sessionize.sessionStats(e)
        .select("user_id", "session_idx", "start_us", "end_us")
      val us = Sessionize.epochMicros(e, "ts")
      val errors = e.where(col("event_type") === "error")
        .select(col("user_id"), us.as("us"), col("event_id"))
      RangeJoin.rangeJoin(errors, sessions, "user_id", "us", "start_us", "end_us",
          rightCols = Seq("session_idx"), binWidth = 30L * 60 * 1000000)
        .select(col("user_id"), col("us"), col("event_id"),
          col("r_session_idx").as("session_idx"))
        .orderBy("user_id", "event_id", "session_idx")
    }),
    // Interval-OVERLAP join (vs range_join's point containment): every
    // 5th event's 4-hour activity window paired with every same-user
    // window it overlaps. Both sides bin-explode; each pair emits only
    // in its FIRST shared bin (map-side filter), so no dedup exchange
    // exists in the plan. Oracle is the brute per-key overlap join.
    "overlap_join" -> ((s, dir) => {
      val e = events(s, dir)
      val iv = 14400L * 1000000L
      val all = e.select(col("user_id"), col("event_id"),
          Sessionize.epochMicros(e, "ts").as("s_us"))
        .withColumn("e_us", col("s_us") + lit(iv))
      val lefts = all.where(col("event_id") % 5 === 0)
      RangeJoin.overlapJoin(lefts, all, "user_id", "s_us", "e_us", "s_us", "e_us",
          rightCols = Seq("event_id"), binWidth = iv)
        .where(col("event_id") < col("r_event_id"))
        .select(col("user_id"), col("event_id"), col("r_event_id"))
        .orderBy("user_id", "event_id", "r_event_id")
    }),
    // As-of join: every click event enriched with the latest prior view's
    // value per user — union-tag + carry-forward window, ONE key shuffle,
    // never the O(|l| x |r|)-per-key range self-join. The oracle is
    // DuckDB's NATIVE ASOF LEFT JOIN, so the semantics (inclusive <=,
    // left rows with no prior match keep NULLs) are pinned against an
    // independent implementation, not a SQL re-derivation of ours.
    "asof_join" -> ((s, dir) => {
      val e = events(s, dir)
      val us = Sessionize.epochMicros(e, "ts")
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), us.as("us"), col("event_id"))
      // right side unique per (user, ts): ties keyed by max(value)
      val views = e.where(col("event_type") === "view")
        .select(col("user_id"), us.as("us"), col("value"))
        .groupBy("user_id", "us").agg(max("value").as("view_value"))
        .withColumn("view_us", col("us"))
      AsOfJoin.asOf(clicks, views, "user_id", "us",
          payloadCols = Seq("view_value", "view_us"), leftCols = Seq("event_id"))
        .orderBy("user_id", "event_id")
    }),
    // The heavy-key flavor of the as-of join: identical semantics and
    // oracle (DuckDB native ASOF), but the carry-forward partitions on
    // (user, hour bucket) with predecessor seeding instead of one
    // window partition per user's full history — the skew-safe 100 TB
    // shape (one hot user = bounded tasks, not a straggler).
    "asof_join_bucketed" -> ((s, dir) => {
      val e = events(s, dir)
      val us = Sessionize.epochMicros(e, "ts")
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), us.as("us"), col("event_id"))
      val views = e.where(col("event_type") === "view")
        .select(col("user_id"), us.as("us"), col("value"))
        .groupBy("user_id", "us").agg(max("value").as("view_value"))
        .withColumn("view_us", col("us"))
      AsOfJoin.asOfBucketed(clicks, views, "user_id", "us",
          payloadCols = Seq("view_value", "view_us"), leftCols = Seq("event_id"),
          bucketWidth = 3600L * 1000000)
        .orderBy("user_id", "event_id")
    }),
    // IVF ANN scale path: deterministic sample-trained k-means quantizer
    // + nprobe=4 of 16 cells. Cells nearest the query hold its true
    // neighbors on this corpus, so the probe returns the exact top-k and
    // the brute-force SQL is the oracle (recall confirmed at the gate's
    // scale; nprobe is the recall/cost knob).
    "ivf_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val q = queryVector(e)
      val (index, centroids) = Similarity.ivfIndex(e, "vec_id", "embedding", nlist = 16)
      Similarity.ivfTopK(index, centroids, q, nprobe = 4, k = 10)
        .select(col("id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("id").asc)
    }),
    // Embedding-cosine near-dup at a REALISTIC threshold (0.9): the
    // synthetic embeddings have no true near-dups (max pairwise cosine
    // ~0.46), so the corpus is augmented with 100 planted twins
    // ([[plantedEmbeddings]] — deterministic scaling, cosine ~0.9998).
    // Brute variant: O(n^2) exactness reference on a 400-vector subset.
    "embedding_neardup" -> ((s, dir) =>
      Similarity.cosineNearDupPairsBrute(
        plantedEmbeddings(s, dir).where(col("vec_id") < 300 || col("vec_id") >= TwinIdBase),
        "vec_id", "embedding", threshold = 0.9)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")),
    // Banded-LSH scale path over the full planted corpus (md5 plane
    // weights): plane weights, projection fold, banding, and the exact
    // cosine verify all have DuckDB twins, so this is hash-checked against
    // a SQL reimplementation (the simhash60 move). At threshold 0.9 the
    // S-curve starves candidates (8-bit bands ~ n^2/256 per band before
    // the cosine gate) instead of flooding them like the old 0.35 demo.
    "embedding_neardup_lsh" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(
        plantedEmbeddings(s, dir), "vec_id", "embedding", threshold = 0.9,
        dim = 64, bands = 2)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")),
    // The same operator at the auto width (one sizing count); kept
    // under its name, it shares embedding_neardup_lsh's oracle.
    "embedding_neardup_auto" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(
        plantedEmbeddings(s, dir), "vec_id", "embedding", threshold = 0.9,
        dim = 64, bands = 2)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")),
    // embedding_neardup_lsh replayed by the per-band-grouped SQL twin
    // (each band's bucket summed from its own plane range, the layout
    // Similarity.bandBuckets computes) — two SQL formulations, one
    // operator.
    "embedding_neardup_lsh_wide" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(
        plantedEmbeddings(s, dir), "vec_id", "embedding", threshold = 0.9,
        dim = 64, bands = 2)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")),
    // Approximate kNN graph (directed top-3 among banded-LSH
    // candidates) on the planted corpus — the semantic-neighborhood
    // edge list graph-based curation consumes. The oracle replays the
    // SAME md5-flavored candidate generation plus the per-node
    // row_number top-k, so the gate pins implementation, not brute
    // force (brute lives in the ann_topk family already).
    "knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(
        plantedEmbeddings(s, dir), "vec_id", "embedding", k = 3,
        dim = 64, bands = 2)
        .select(col("id"), col("nbr"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("id", "rank")),
    // The 100-TB form of knn_graph: same banded candidates, but the
    // verify joins ship 1-byte SQ8 codes (8x payload cut), the
    // approximate cosine picks per-node top-(k*4) survivors, and only
    // those rejoin the raw vectors for the EXACT-cosine top-3. The
    // oracle replays candidates + sq8 encode/dequant + both rankings,
    // so the hash gate pins the full quantized pipeline.
    "knn_graph_quantized" -> ((s, dir) =>
      Similarity.knnGraphQuantized(
        plantedEmbeddings(s, dir), "vec_id", "embedding", k = 3, dim = 64,
        bands = 2, rerankFactor = 4)
        .select(col("id"), col("nbr"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("id", "rank")),
    // knn_graph_quantized replayed by the per-band-grouped SQL twin
    // (each band's bucket summed from its own plane range, the layout
    // Similarity.bandBuckets computes).
    "knn_graph_quantized_wide" -> ((s, dir) =>
      Similarity.knnGraphQuantized(
        plantedEmbeddings(s, dir), "vec_id", "embedding", k = 3, dim = 64,
        bands = 2, rerankFactor = 4)
        .select(col("id"), col("nbr"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("id", "rank")),
    // Kept under its name: knn_graph_quantized at the auto width,
    // same oracle.
    "knn_graph_auto" -> ((s, dir) =>
      Similarity.knnGraphQuantized(
        plantedEmbeddings(s, dir), "vec_id", "embedding", k = 3, dim = 64,
        bands = 2, rerankFactor = 4)
        .select(col("id"), col("nbr"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("id", "rank")),
    // The semantic-graph flagship — the graph analogue of
    // curation_pipeline: embeddings -> quantized kNN edges ->
    // label-propagation communities over semantic neighbors -> the
    // per-community quota rollup a diversity-sampling stage consumes.
    // Every stage is the already-oracled machinery, composed; the SQL
    // twin replays edge generation AND the 4 LPA vote rounds CTE for
    // CTE, so the hash gate prices the COMPOSITION, not just the parts.
    "semantic_communities" -> ((s, dir) => {
      val edges = Similarity.knnGraphQuantized(plantedEmbeddings(s, dir),
        "vec_id", "embedding", k = 3, dim = 64, bands = 2, rerankFactor = 4)
      val labels = Communities.labelPropagation(edges, "id", "nbr", iterations = 4)
      Communities.communitySizes(labels).orderBy("label")
    }),
    // The semantic-graph pipeline's final curation stage: per-community
    // QUOTA SAMPLE — embeddings -> quantized kNN edges -> LPA
    // communities -> deterministic 2-per-community sample
    // (sampleNPerStratum's seeded hash order), i.e. "take a capped,
    // reproducible slice of every semantic neighborhood" — the
    // diversity-sampling output the knnGraph scaladoc names.
    "semantic_quota_sample" -> ((s, dir) => {
      // curation stage over the persisted graph: LPA + the seeded
      // quota window are this entry's own cost (the end-to-end
      // embeddings->graph->LPA build stays semantic_communities')
      val edges = IndexStore.read(s, "graft_pke_" + ensurePlantedKnnEdges(s, dir))
      val labels = Communities.labelPropagation(edges, "id", "nbr", iterations = 4)
      Shuffling.sampleNPerStratum(labels, "node", "label", n = 2, seed = 7L)
        .orderBy("label", "node")
    }),
    // INCREMENTAL flavor of the quantized kNN graph (the IVF-append /
    // jaccardPairsAgainstIndex pattern): the standing corpus persists
    // as a bkey-bucketed banding table + an (id, codes8, vec) payload
    // + the frozen 1-row SQ8 params; the new batch computes its own
    // signatures/codes (frozen ranges, clamp rule) and gets its
    // exact-cosine top-3 corpus neighbors without re-scanning the
    // standing side beyond its banded candidates. Timing honestly
    // includes the index build + writes.
    "knn_graph_incremental" -> ((s, dir) => {
      // the index (frozen width, frozen SQ8 ranges) persists once per
      // session — the corpus epoch build; this entry times what every
      // batch pays FOREVER AFTER: signatures/codes on the batch side
      // at the frozen width, banded candidates against the bucketed
      // read-back, exact-cosine top-3 — no standing re-scan beyond
      // the banded candidates
      val x = ensureSemanticStanding(s, dir)
      semanticBatchEdges(s, dir, x)
        .select(col("id"), col("nbr"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("id", "rank")
    }),
    // knn_graph_incremental without the persisted index: build the
    // standing index in-entry and probe it, replayed by the
    // per-band-grouped SQL twin (the layout Similarity.bandBuckets
    // computes, packed into bkey).
    "knn_graph_incremental_wide" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val standing = e.where(col("vec_id") >= 100)
      val batch = e.where(col("vec_id") < 100)
      val rpb = Similarity.autoRowsPerBand(standing.count(), bands = 2)
      val (banded, payload, params) = Similarity.knnGraphIndex(
        standing, "vec_id", "embedding", dim = 64, rowsPerBand = rpb, bands = 2)
      Similarity.knnGraphAgainstIndex(banded, payload, params,
          batch, "vec_id", "embedding", k = 3, dim = 64,
          rowsPerBand = rpb, bands = 2, rerankFactor = 4)
        .select(col("id"), col("nbr"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("id", "rank")
    }),
    // Incremental semantic-graph maintenance END-TO-END — the LPA
    // refresh the persisted-index story implies: the standing corpus
    // keeps its own quantized edges (built once, at the frozen index
    // width/ranges), an ingest batch gets its edges from
    // knnGraphAgainstIndex WITHOUT re-scanning the standing side, and
    // label propagation refreshes over standing + new edges together —
    // the per-ingest community update a live corpus pays. Oracle
    // replays both edge sets and the 4 vote rounds CTE for CTE.
    "semantic_communities_incremental" -> ((s, dir) => {
      // standing edges + index persist once per session (the corpus
      // epoch build); what this entry TIMES is the per-batch cost of
      // the from-scratch strategy: probe + 4 LPA rounds over the
      // whole union graph — the comparison line the _auto dispatcher
      // is judged against
      val x = ensureSemanticStanding(s, dir)
      val standingEdges = IndexStore.read(s, "graft_sem_edges_" + x)
        .select(col("id"), col("nbr"))
      // materialized once: LPA's adjacency build consumes its edge
      // input three times, which would re-run the banded probe 3x
      val batchEdges = semanticBatchEdges(s, dir, x).select(col("id"), col("nbr"))
        .localCheckpoint(true)
      val labels = Communities.labelPropagation(
        standingEdges.unionByName(batchEdges), "id", "nbr", iterations = 4)
      Communities.communitySizes(labels).orderBy("label")
    }),
    // The refresh-strategy FRONT DOOR on the semantic graph (r17
    // verdict #2): communityRefreshAuto measures the 4-hop ball around
    // the batch's endpoints over the persisted standing adjacency and
    // dispatches. The quantized kNN graph is an EXPANDER — the ball
    // covers ~everything (SCALING.md r17: 98.8% at 510k nodes) — so
    // the dispatcher provably takes the FULL seeded branch here (the
    // r17 gate measured the forced-local misuse at 20.8 s vs full's
    // 7.1 s), and the oracle replays exactly that branch: standing LPA
    // seeds, then 4 seeded vote rounds over the whole union adjacency.
    // The LOCAL branch's gate entry lives on the graph shape it is FOR
    // (dedup_clusters_incremental_auto's bounded components);
    // RefreshDispatchSpec walks the boundary both ways. The oracle
    // HARDCODES the full branch, which is safe because the measured
    // fraction sits far past the 0.5 dispatch line at every gated sf
    // (r19 BallFractionProbe, since deleted: 0.984 at sf0.01, 1.000 at sf0.1) —
    // if a future corpus drifts it toward 0.5, a gate failure here is
    // dispatch drift, not an operator bug.
    "semantic_communities_incremental_auto" -> ((s, dir) => {
      val x = ensureSemanticStanding(s, dir)
      // materialized once: consumed by the delta derivation AND twice
      // for the dirty set — lazy, the banded probe would re-run 3x
      val batchEdges = semanticBatchEdges(s, dir, x).select(col("id"), col("nbr"))
        .localCheckpoint(true)
      val dirty = batchEdges.select(col("id").as("node"))
        .union(batchEdges.select(col("nbr").as("node"))).distinct()
      val labels = Communities.communityRefreshAuto(
        IndexStore.read(s, "graft_sem_adj_" + x), batchEdges, "id", "nbr",
        IndexStore.read(s, "graft_sem_labels_" + x), dirty,
        hops = 4, iterations = 4)
      Communities.communitySizes(labels).orderBy("label")
    }),
    // The front door on the graph the LOCAL branch is FOR: near-dup
    // clusters over documents (bounded components — a dup group is a
    // handful of docs with diameter <= 2, so hops=2 / iterations=2 is
    // the right radius and the ball around an ingest batch's new pairs
    // stays batch-sized: measured fraction 0.234 at sf0.01 / 0.021 at
    // sf0.1 (r19 BallFractionProbe, since deleted — both far under the 0.5
    // dispatch line at every gated sf, so the oracle's hardcoded LOCAL
    // branch is safe; drift toward 0.5 is a corpus-shape change, not an
    // operator bug). Standing shingle
    // index + pair edges + cluster labels + adjacency persist once per
    // session; the entry times the per-batch reality: batch-side
    // shingle probe (corpus side scans its bucketed index, no corpus
    // shuffle), within-batch pairs, then the blast-radius re-vote with
    // everything outside frozen — the flat-per-batch cluster
    // maintenance a live dedup pipeline pays (flatness receipt:
    // ScalingProbe incremental_lpa; at sf0.1 the entry's absolute time
    // is its constant ~15-job overhead, not data). Oracle replays
    // standing pairs, standing LPA, batch pairs, frontier expansion,
    // and the restricted rounds CTE for CTE.
    "dedup_clusters_incremental_auto" -> ((s, dir) => {
      val x = ensureDupClusterStanding(s, dir)
      val batch = documents(s, dir).where(col("doc_id") < 50)
      val vsStanding = Dedup.jaccardPairsAgainstIndex(
          batch, IndexStore.read(s, "graft_dup_shidx_" + x),
          "doc_id", "text", n = 3, threshold = 0.8)
        .select(col("id_new").as("id_a"), col("id_corpus").as("id_b"))
      val within = Dedup.jaccardPairs(batch, "doc_id", "text",
          n = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b"))
      // materialized once: consumed by the delta derivation AND twice
      // for the dirty set — lazy, both shingle probes would re-run 3x
      val batchEdges = vsStanding.unionByName(within).localCheckpoint(true)
      val dirty = batchEdges.select(col("id_a").as("node"))
        .union(batchEdges.select(col("id_b").as("node"))).distinct()
      val labels = Communities.communityRefreshAuto(
        IndexStore.read(s, "graft_dup_adj_" + x), batchEdges, "id_a", "id_b",
        IndexStore.read(s, "graft_dup_labels_" + x), dirty,
        hops = 2, iterations = 2)
      Communities.communitySizes(labels).orderBy("label")
    }),
    // The refresh front door's STREAMING delivery mode (r18 verdict
    // #4): the identical 50-doc ingest arrives as ONE micro-batch
    // through StreamOps.communityRefresh (foreachBatch → per-batch
    // shingle probe + within-batch pairs + communityRefreshAuto against
    // the same persisted artifacts), so it shares the
    // dedup_clusters_incremental_auto oracle row for row — the hash
    // gate prices the streaming plumbing (column renames, dirty
    // derivation, by-name artifact re-reads), and the multi-batch
    // sequential-composition identity is StreamOpsSpec's.
    "dedup_clusters_refresh_stream" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val x = ensureDupClusterStanding(s, dir)
      val batchRows = documents(s, dir).where(col("doc_id") < 50)
        .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
      val input =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      @volatile var out: DataFrame = null
      val q = graft.streaming.StreamOps.communityRefresh(
          input.toDF().toDF("doc_id", "text"),
          IndexStore.read(s, "graft_dup_shidx_" + x),
          IndexStore.read(s, "graft_dup_adj_" + x),
          IndexStore.read(s, "graft_dup_labels_" + x),
          hops = 2, iterations = 2) { (labels, _) => out = labels; () }
        .start()
      try { input.addData(batchRows: _*); q.processAllAvailable() }
      finally q.stop()
      Communities.communitySizes(out).orderBy("label")
    }),
    // k-occurrence hubness over the quantized kNN graph (Radovanovic
    // et al. 2010): how many other vectors list each vector among
    // their top-k — the curse-of-dimensionality diagnostic. Anti-hubs
    // (k_occurrence 0) are kept via the corpus spine left-join; the
    // oracle replays the edge CTEs + the rollup + the spine.
    "knn_hubness" -> ((s, dir) => {
      // over the PERSISTED graph (ensurePlantedKnnEdges): the
      // diagnostic's own cost is one nbr-keyed count + the corpus
      // spine join — the graph build stays timed by
      // knn_graph_quantized / semantic_communities
      val edges = IndexStore.read(s, "graft_pke_" + ensurePlantedKnnEdges(s, dir))
      Similarity.hubness(edges, plantedEmbeddings(s, dir), "vec_id").orderBy("node")
    }),
    // The hubness diagnostic's CONSUMER (Radovanovic 2010's remedy,
    // wired into the graph it diagnoses): quantized kNN edges ->
    // in-degree cap at maxOcc=3 (each neighbor keeps its 3 highest-
    // cosine listers, ties id-asc) -> 4 LPA vote rounds -> community
    // sizes. On the planted corpus the twins make their originals
    // hubs, so the cap measurably binds (pruned-edge count is pinned
    // in the spec; here the oracle replays cap AND rounds CTE for CTE
    // so the gate prices the remedy's effect on the communities).
    "semantic_communities_hubcapped" -> ((s, dir) => {
      // remedy + re-cluster over the persisted graph: what the entry
      // times is the cap window and the 4 vote rounds it changes
      val edges = IndexStore.read(s, "graft_pke_" + ensurePlantedKnnEdges(s, dir))
      val capped = Similarity.capHubEdges(edges, maxOcc = 3)
      val labels = Communities.labelPropagation(capped, "id", "nbr", iterations = 4)
      Communities.communitySizes(labels).orderBy("label")
    }),
    // Mutual-kNN filter — the stricter hubness remedy: an edge
    // survives only if reciprocated, which a hub (listed by far more
    // nodes than its k can return) cannot do for its spurious listers.
    "knn_graph_mutual" -> ((s, dir) => {
      // reciprocity filter over the persisted graph (one self-join of
      // the edge table — the remedy's own cost)
      val edges = IndexStore.read(s, "graft_pke_" + ensurePlantedKnnEdges(s, dir))
      Similarity.mutualKnnEdges(edges)
        .select(col("id"), col("nbr"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("id", "rank")
    }),
    // Embedding snapshot drift — the encoder-regression gate: the new
    // snapshot is a deterministic mutation (+0.05 on even dimensions,
    // the replayable stand-in for a re-embedding with a changed
    // model), and the operator reports exact per-dimension micro-unit
    // mean shifts. Everything integer until the output.
    "embedding_drift" -> ((s, dir) => {
      val old = embeddings(s, dir)
      val neu = old.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i % 2 === 0, x.cast("double") + lit(0.05))
            .otherwise(x.cast("double"))).as("embedding"))
      Similarity.embeddingDrift(old, neu, "embedding", dim = 64)
    }),
    // 1-row rollup: centroid cosine of the exact micro-unit mean
    // vectors (DECIMAL moment sums, three double ops) + worst shift.
    "embedding_drift_summary" -> ((s, dir) => {
      val old = embeddings(s, dir)
      val neu = old.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i % 2 === 0, x.cast("double") + lit(0.05))
            .otherwise(x.cast("double"))).as("embedding"))
      Similarity.embeddingDriftSummary(old, neu, "embedding", dim = 64)
    }),
    // SemDeDup (Abbas et al. 2023): the THIRD near-dup family — cluster
    // pruning. Cosine is scored within coarse k-means cells only
    // (~n^2/nlist scored pairs, one by-cell shuffle). On this corpus the
    // planted twins (cosine ~0.9998) always co-assign with their bases,
    // so recall is exact and the brute-force SQL is the oracle; the
    // cross-cell miss trade is pinned by SemDedupSpec instead.
    "semantic_dedup_pairs" -> ((s, dir) =>
      Similarity.semanticNearDupPairs(
        plantedEmbeddings(s, dir), "vec_id", "embedding", threshold = 0.9, nlist = 16)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")),
    // Banded-within-cell variant: the mega-cell skew guard — candidates
    // inside each cell go through sign-LSH banding (join key = cell,
    // band, bucket) so no cell costs n_c^2. Recall stays exact on this
    // corpus (twins share a band at P(miss)~4e-7 per pair): same brute
    // oracle as the plain variant.
    "semantic_dedup_pairs_banded" -> ((s, dir) =>
      Similarity.semanticNearDupPairs(
        plantedEmbeddings(s, dir), "vec_id", "embedding", threshold = 0.9, nlist = 16,
        bandWithinCell = Some((4, 4)), dim = Some(64))
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")),
    // Keep-set materialization, min-id greedy policy (duplicate groups
    // are twin PAIRS here, where greedy == exact MIS; the paper's
    // keep-farthest-from-centroid policy is spec-covered, not SQL-
    // expressible without re-deriving the trained centroids in SQL).
    "semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(
        plantedEmbeddings(s, dir), "vec_id", "embedding", threshold = 0.9, nlist = 16)
        .select(col("vec_id"))
        .orderBy("vec_id")),
    // Bucketed batch ANN: probe-ball equi-join on bucket (hash join, not
    // the BroadcastNestedLoop of topk_for_queries). probeRadius = nBits
    // makes the probe ball exhaustive — recall 1.0 by construction, so
    // the brute-force SQL is an exact oracle while the PLAN keeps the
    // production shape (production: nBits ~16, radius 1).
    "batch_ann_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val index = Similarity.lshIndex(e, "vec_id", "embedding", nBits = 4, dim = 64)
      Similarity.annTopKForQueries(index, e.where(col("vec_id") < 5),
          "vec_id", "embedding", nBits = 4, k = 5, probeRadius = 4, dim = 64)
        .select(col("query_id"), col("corpus_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // Batch ANN through a Johnson-Lindenstrauss random-projection
    // candidate stage: pair scoring happens at 16 dims (a quarter of the
    // vector width), exact cosine re-ranks only candidateK rows per
    // query. Queried in the regime RP is FOR — retrieving genuinely-near
    // neighbors (each query's planted twin, cosine ~0.9998, which JL
    // preserves with a ~0.65 margin over the noise floor) rather than
    // ranking noise-margin neighbors, where no 4x width cut can hold
    // rank order. RpSpec pins candidate coverage at sf0.01 and sf0.1,
    // which is what makes the brute-force SQL a valid oracle while the
    // plan keeps the reduced-width production shape.
    "rp_ann_topk" -> ((s, dir) => {
      val e = plantedEmbeddings(s, dir)
      Similarity.rpTopKForQueries(e, e.where(col("vec_id") < 5),
          "vec_id", "embedding", outDim = 16, candidateK = 32, k = 1)
        .select(col("query_id"), col("corpus_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // SQ8 scalar-quantized ANN: per-dimension 256-level codes (the FAISS
    // SQ8 shape — a 4x smaller persisted index, scan bandwidth at probe
    // time), asymmetric probe = exact queries vs dequantized corpus.
    // Params are a dim-bounded aggregate riding a broadcast; encode is
    // scan-speed; every double op is closed-form, so the oracle replays
    // quantize -> dequantize -> cosine exactly.
    "sq8_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val params = Similarity.sq8Params(e, "embedding", dim = 64)
      val codes = Similarity.sq8Encode(e, "vec_id", "embedding", params)
      Similarity.sq8TopKForQueries(codes, params, e.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("corpus_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // MMR diversified re-ranking over the planted-twin corpus: top-10
    // exact candidates per query, then 5 greedy in-plan selection steps
    // (lambda=0.7) — each step an aggregate argmax fold over the
    // candidate array, no driver loop, corpus untouched after stage 1.
    // The oracle unrolls the same 5 steps in SQL with identical
    // closed-form doubles.
    "mmr_rerank" -> ((s, dir) => {
      val e = plantedEmbeddings(s, dir)
      Similarity.mmrRerank(e, e.where(col("vec_id") < 3), "vec_id", "embedding",
          candidateK = 10, m = 5, lambdaRel = 0.7)
        .select(col("query_id"), col("corpus_id"),
          round(col("mmr_score"), 6).as("mmr_score"), col("step"))
        .orderBy("query_id", "step")
    }),
    // Retrieval evaluation: recall@5 / MRR of the SQ8 compressed index
    // against the exact-cosine ground truth — the measurement half of
    // the ANN stack (what does quantization give up, per query).
    // Closed-form doubles from integer hit counts; queries retrieving
    // nothing still emit (0, 0) rows.
    "retrieval_metrics" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val params = Similarity.sq8Params(e, "embedding", dim = 64)
      val codes = Similarity.sq8Encode(e, "vec_id", "embedding", params)
      val results = Similarity.sq8TopKForQueries(codes, params,
        e.where(col("vec_id") < 5), "vec_id", "embedding", k = 5)
      val truth = Similarity.topKForQueries(e, e.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
      Similarity.retrievalMetrics(results, truth, k = 5)
        .select(col("query_id"), round(col("recall"), 6).as("recall"),
          round(col("mrr"), 6).as("mrr"))
        .orderBy("query_id")
    }),
    // Reciprocal-rank fusion: three heterogeneous retrieval rankings
    // (cosine, raw dot product, L2) fused by rank only — no score
    // calibration. The aggregate touches at most 3*10 rows per query;
    // the corpus never re-scans. The fused double score folds in
    // list-index order (DSIR rule) so the oracle replays it with
    // sum(term ORDER BY src).
    "rrf_fusion" -> ((s, dir) => {
      val e = plantedEmbeddings(s, dir)
      val q = e.where(col("vec_id") < 5)
      val cosR = Similarity.topKForQueries(e, q, "vec_id", "embedding", k = 10)
        .select("query_id", "corpus_id", "rank")
      val c = e.select(col("vec_id").as("corpus_id"),
        transform(col("embedding"), x => x.cast("double")).as("cv"))
      val qq = q.select(col("vec_id").as("query_id"),
        transform(col("embedding"), x => x.cast("double")).as("qv"))
      val scored = c.join(broadcast(qq), col("corpus_id") =!= col("query_id"))
        .withColumn("dotp", Similarity.dot(col("cv"), col("qv")))
        .withColumn("l2", aggregate(
          zip_with(col("cv"), col("qv"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, x) => a + x))
      def ranked(ord: Column): DataFrame = scored
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(ord, col("corpus_id").asc)))
        .where(col("rank") <= 10)
        .select("query_id", "corpus_id", "rank")
      Similarity.reciprocalRankFusion(
          Seq(cosR, ranked(col("dotp").desc), ranked(col("l2").asc)),
          k0 = 60, topK = 5)
        .select(col("query_id"), col("corpus_id"),
          round(col("rrf_score"), 6).as("rrf_score"), col("n_lists"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // The PERSISTED-index flavor of batch ANN: the LSH index is written
    // once as a bucketed table (IndexStore) and the probe equi-join runs
    // against the read-back — the actual 100 TB shape, where the index's
    // one-time bucketed write replaces a per-query corpus shuffle
    // (IndexStoreSpec asserts the probe-side-only exchange). Timing
    // honestly includes the index build + write. Same exhaustive-probe
    // oracle as batch_ann_topk.
    "batch_ann_topk_bucketed" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val index = Similarity.lshIndex(e, "vec_id", "embedding", nBits = 4, dim = 64)
      val tbl = "graft_lsh_index_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      IndexStore.writeBucketed(index, tbl, "bucket", 8)
      Similarity.annTopKForQueries(IndexStore.read(s, tbl), e.where(col("vec_id") < 5),
          "vec_id", "embedding", nBits = 4, k = 5, probeRadius = 4, dim = 64)
        .select(col("query_id"), col("corpus_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // The PERSISTED flavor of batch IVF: both halves of the index — the
    // cell-bucketed corpus assignment AND the quantizer's centroid table —
    // are written once (IndexStore) and read back, completing the 100 TB
    // story the ivfIndex scaladoc promises. The probe equi-join on `cell`
    // then needs no index-side shuffle (IndexStoreSpec asserts it), and
    // the centroid ranking goes through the broadcast-table path
    // (ivfTopKForQueriesTable — the nlist 10^4-10^5 shape). Timing
    // honestly includes quantizer training + both table writes. Same
    // exhaustive nprobe = nlist oracle as batch_ivf_topk.
    "batch_ivf_topk_bucketed" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val (index, centroids) = Similarity.ivfIndex(e, "vec_id", "embedding", nlist = 16)
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val idxTbl = "graft_ivf_index_" + suffix
      val cenTbl = "graft_ivf_centroids_" + suffix
      IndexStore.writeBucketed(index, idxTbl, "cell", 8)
      IndexStore.writeTable(Similarity.centroidTable(s, centroids), cenTbl)
      Similarity.ivfTopKForQueriesTable(IndexStore.read(s, idxTbl),
          IndexStore.read(s, cenTbl), e.where(col("vec_id") < 5),
          "vec_id", "embedding", nprobe = 16, k = 5)
        .select(col("query_id"), col("corpus_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // INCREMENTAL flavor of the persisted IVF index (the ANN analog of
    // bm25_topk_merged): the quantizer trains ONCE on the standing half
    // and freezes; the new half is cell-assigned with the SAVED
    // centroids and APPENDED to the bucketed table (cell assignment is
    // pointwise given frozen centroids, so append == full rebuild
    // bit-for-bit — IndexStoreSpec pins it). Probe is exhaustive
    // (nprobe = nlist), so the exact-cosine oracle applies regardless of
    // where the quantizer trained. Timing honestly includes the train,
    // both writes, and the append.
    "batch_ivf_topk_appended" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val standing = e.where(col("vec_id") % 2 === 0)
      val batch = e.where(col("vec_id") % 2 === 1)
      val (idxA, cs) = Similarity.ivfIndex(standing, "vec_id", "embedding", nlist = 16)
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val idxTbl = "graft_ivf_inc_idx_" + suffix
      val cenTbl = "graft_ivf_inc_cents_" + suffix
      IndexStore.writeBucketed(idxA, idxTbl, "cell", 8)
      IndexStore.writeTable(Similarity.centroidTable(s, cs), cenTbl)
      val (idxB, _) = Similarity.ivfIndex(batch, "vec_id", "embedding",
        trainedCentroids = Some(cs))
      IndexStore.appendBucketed(idxB, idxTbl, "cell", 8)
      Similarity.ivfTopKForQueriesTable(IndexStore.read(s, idxTbl),
          IndexStore.read(s, cenTbl), e.where(col("vec_id") < 5),
          "vec_id", "embedding", nprobe = 16, k = 5)
        .select(col("query_id"), col("corpus_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // Product-quantization ADC: vectors compress to m=8 codes against
    // per-subspace k=16 codebooks (seeded from the first 16 corpus
    // vectors — deterministic, so the encode AND the asymmetric-distance
    // ranking both have exact SQL twins); the query scores codes via an
    // m x k lookup table, never touching raw vectors. The trained-
    // codebook flavor (KMeans.lloyd per subspace) benches as
    // pq_topk_trained and is spec-covered (PqSpec).
    "pq_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val cb = Similarity.pqSeedCodebooks(e, "vec_id", "embedding", m = 8, k = 16)
      val codes = Similarity.pqEncode(e, "vec_id", "embedding", cb)
      Similarity.pqTopK(codes, cb, queryVector(e), k = 10)
    }),
    // IVF-ADC (FAISS IVFPQ minus residuals): coarse cells (seeded from
    // the first 8 corpus vectors — deterministic, SQL-replicable) prune
    // candidates to nprobe=2 cells, ADC ranks the survivors' codes. The
    // twin replicates BOTH metrics exactly: cell assignment via the
    // in-plan |c|^2 - 2 v.c expansion, probe ranking via the driver's
    // full squared distance.
    "ivf_pq_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val seeds8 = e.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .orderBy("vec_id").limit(8).collect().map(_.getSeq[Double](1).toSeq).toSeq
      val (index, cents) = Similarity.ivfIndex(e, "vec_id", "embedding",
        trainedCentroids = Some(seeds8))
      val cb = Similarity.pqSeedCodebooks(e, "vec_id", "embedding", m = 8, k = 16)
      val codes = Similarity.pqEncode(e, "vec_id", "embedding", cb)
      Similarity.ivfPqTopK(index, codes, cents, cb, queryVector(e), nprobe = 2, k = 10)
    }),
    // FULL FAISS IVFADC: PQ quantizes RESIDUALS (v - centroid[cell]),
    // and each probed cell scores its candidates against its own
    // query-residual lookup table. Seed coarse centroids + seed residual
    // codebooks keep every stage SQL-replicable; the trained flavor is
    // spec-covered (PqSpec residual-error win) .
    "ivf_pq_residual_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val seeds8 = e.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .orderBy("vec_id").limit(8).collect().map(_.getSeq[Double](1).toSeq).toSeq
      val (index, cents) = Similarity.ivfIndex(e, "vec_id", "embedding",
        trainedCentroids = Some(seeds8))
      val res = Similarity.residualFrame(index, cents)
      val cb = Similarity.pqSeedCodebooks(res, "id", "residual", m = 8, k = 16)
      val celled = Similarity.pqEncode(res, "id", "residual", cb)
        .join(res.select("id", "cell"), Seq("id"))
      Similarity.ivfPqResidualTopK(celled, cents, cb, queryVector(e), nprobe = 2, k = 10)
    }),
    // The PERSISTED flavor of IVF-ADC, completing the PQ 100 TB story:
    // the cell-tagged code table is written ONCE bucketed by cell
    // (IndexStore) and both quantizers' sidecars (coarse centroids + PQ
    // codebooks) persist beside it; the probe reads everything back from
    // storage, and its cell IN filter bucket-prunes the code scan. Same
    // oracle as ivf_pq_topk — identical output by construction. Timing
    // honestly includes all three writes.
    "ivf_pq_topk_bucketed" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val seeds8 = e.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .orderBy("vec_id").limit(8).collect().map(_.getSeq[Double](1).toSeq).toSeq
      val (index, cents) = Similarity.ivfIndex(e, "vec_id", "embedding",
        trainedCentroids = Some(seeds8))
      val cb = Similarity.pqSeedCodebooks(e, "vec_id", "embedding", m = 8, k = 16)
      val celled = Similarity.pqEncode(e, "vec_id", "embedding", cb)
        .join(index.select(col("id"), col("cell")), Seq("id"))
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      IndexStore.writeBucketed(celled, "graft_pq_codes_" + suffix, "cell", 8)
      IndexStore.writeTable(Similarity.pqCodebookTable(s, cb), "graft_pq_books_" + suffix)
      IndexStore.writeTable(Similarity.centroidTable(s, cents), "graft_pq_cents_" + suffix)
      Similarity.ivfPqTopKOnCelledCodes(
        IndexStore.read(s, "graft_pq_codes_" + suffix),
        Similarity.centroidsFromTable(IndexStore.read(s, "graft_pq_cents_" + suffix)),
        Similarity.pqCodebooksFromTable(IndexStore.read(s, "graft_pq_books_" + suffix)),
        queryVector(e), nprobe = 2, k = 10)
    }),
    // Batch PQ: one broadcast LUT table for the whole query set, every
    // (code, query) pair scored in-plan — the compressed counterpart of
    // batch_ann_topk / batch_ivf_topk.
    "batch_pq_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val cb = Similarity.pqSeedCodebooks(e, "vec_id", "embedding", m = 8, k = 16)
      val codes = Similarity.pqEncode(e, "vec_id", "embedding", cb)
      Similarity.pqTopKForQueries(codes, cb, e.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),
    // Distributed Lloyd k-means over all embeddings — the quantizer
    // trainer for corpora whose diversity a driver-side sample
    // under-represents. One job per iteration; only k x d statistics
    // reach the driver; decimal-exact sums + a pinned rounding formula
    // make the result partitioning-independent and DuckDB-hash-exact.
    "kmeans_centroids" -> ((s, dir) =>
      KMeans.lloyd(embeddings(s, dir), "vec_id", "embedding", k = 8, iters = 2, seed = 42L)
        .orderBy("cell", "dim")),
    // The fully-distributed IVF build: lloyd-trained quantizer (no
    // driver sample) -> cell assignment -> batch probe. Exhaustive
    // nprobe = nlist makes the result centroid-independent, so the
    // exact brute-force oracle checks this end to end regardless of
    // where the quantizer trained.
    "batch_ivf_topk_kmeans" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val centroids = KMeans.centroidArrays(
        KMeans.lloyd(e, "vec_id", "embedding", k = 16, iters = 2, seed = 42L))
      val (index, cs) = Similarity.ivfIndex(e, "vec_id", "embedding",
        trainedCentroids = Some(centroids))
      Similarity.ivfTopKForQueries(index, cs, e.where(col("vec_id") < 5),
          "vec_id", "embedding", nprobe = 16, k = 5)
        .select(col("query_id"), col("corpus_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // End-to-end dedup materialization: corpus minus the greedy-dropped
    // side of the jaccard near-dup pairs. Candidate generation is the
    // PREFIX-FILTERED arm (r14 promotion): output-identical to
    // jaccardPairs but skew-immune by construction — hot boilerplate
    // shingles fall out of the index instead of being truncated by a
    // maxDf cap, so the composed entry is exact with NO cap and the
    // oracle is the uncapped jaccard CTE. maxDf stays available on the
    // plain jaccardPairs operator as the belt for callers that want it.
    "dedup_drop" -> ((s, dir) => {
      val docs0 = documents(s, dir)
      val pairs = Dedup.jaccardPairsPrefix(docs0, "doc_id", "text", n = 3, threshold = 0.8)
      Dedup.dropDuplicatePairs(docs0, "doc_id", pairs).select("doc_id").orderBy("doc_id")
    }),
    // Witness-exact materialization (lexicographic MIS over the pair
    // graph): every dropped doc keeps a surviving near-duplicate. On this
    // corpus every near-dup component is a CLIQUE (checked via DuckDB:
    // 23 components, all transitively closed at threshold 0.8), where MIS
    // and greedy provably coincide — so the greedy SQL is an exact oracle
    // here; the semantics that differ on chains are pinned by DedupSpec.
    "dedup_drop_exact" -> ((s, dir) => {
      // over the PERSISTED prefix-arm pair graph (ensureJaccardPrefixPairs):
      // what this entry times is the MIS drop rounds it adds over the
      // dedup_drop flagship, which keeps the end-to-end build
      val docs0 = documents(s, dir)
      val pairs = IndexStore.read(s, "graft_jpp_" + ensureJaccardPrefixPairs(s, dir))
      Dedup.dropDuplicatePairsExact(docs0, "doc_id", pairs).select("doc_id").orderBy("doc_id")
    }),
    // Cluster-id materialization: connected-component label (min reachable
    // doc_id) per doc via large-star/small-star contraction over the pair
    // graph, stopped by the exact star-forest test. On THIS corpus every
    // near-dup component is a clique (the dedup_drop_exact structure
    // check), so the contraction runs at most one round and cluster_id =
    // least(doc_id, min(direct neighbor)) — giving the iterative operator
    // a single-join exact SQL twin. Chain semantics (where the twin would
    // NOT hold) are pinned by DedupSpec and DedupPropertiesSpec.
    "dedup_clusters" -> ((s, dir) => {
      val docs0 = documents(s, dir)
      val pairs = Dedup.jaccardPairsPrefix(docs0, "doc_id", "text", n = 3, threshold = 0.8)
      Dedup.duplicateClusters(docs0.select("doc_id"), "doc_id", pairs)
        .select("doc_id", "cluster_id").orderBy("doc_id")
    }),
    // Cluster-size audit (r14): the distribution a release review reads
    // off the clustering — unduplicated mass at size 1, boilerplate
    // families in the tail. Two tiny label-keyed aggregates on top of
    // the same prefix-arm pair graph.
    "dedup_cluster_sizes" -> ((s, dir) => {
      val docs0 = documents(s, dir)
      val pairs = Dedup.jaccardPairsPrefix(docs0, "doc_id", "text", n = 3, threshold = 0.8)
      Dedup.clusterSizeHistogram(
          Dedup.duplicateClusters(docs0.select("doc_id"), "doc_id", pairs))
        .orderBy("cluster_size")
    }),
    // Incremental containment check (r14): the planted excerpts as the
    // INCOMING batch against the standing corpus — "is this new doc an
    // excerpt of something we already have" (and the wrap direction),
    // batch index broadcast, corpus never shuffles.
    "containment_incremental" -> ((s, dir) => {
      val docs = documents(s, dir)
      val excerpts = docs.where(col("doc_id") < 10).select(
        (col("doc_id") + lit(2000000L)).as("doc_id"),
        concat_ws(" ", slice(split(lower(trim(col("text"))), "\\s+"), 1, 40)).as("text"))
      Dedup.containmentPairsAgainst(excerpts, docs, "doc_id", "text",
          n = 3, threshold = 0.9)
        .select(col("id_new"), col("id_corpus"),
          round(col("containment_new"), 6).as("containment_new"),
          round(col("containment_corpus"), 6).as("containment_corpus"))
        .orderBy("id_new", "id_corpus")
    }),
    // Policy-based dedup materialization: per cluster keep the HIGHEST
    // QUALITY member (doc_id tie-break), not the min-id — the form
    // curation pipelines use when a quality signal exists. Quality is the
    // round-6 text_stats score on both sides, so ordering is exact.
    "cluster_representatives" -> ((s, dir) => {
      val docs = documents(s, dir)
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
      val pairs = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", n = 3, threshold = 0.8)
      Dedup.clusterRepresentatives(docs.select("doc_id", "quality"), "doc_id", pairs,
          better = Seq(col("quality").desc))
        .select("doc_id", "cluster_id", "quality").orderBy("doc_id")
    }),
    // End-to-end curation composition, gate-checked: language-ID +
    // quality-score + token-count filters, then trigram-jaccard near-dup
    // greedy materialization over the SURVIVORS — the realistic chaining
    // of the text and dedup operators a training-data pipeline runs.
    // Every stage has a SQL twin, so the whole composition hash-checks.
    "curation_pipeline" -> ((s, dir) => {
      val docs = documents(s, dir)
      val scored = docs
        .withColumn("lang", TextFunctions.langId(col("text")))
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .withColumn("n_tokens", TextFunctions.wsTokenCount(col("text")).cast("long"))
      val kept = scored.where(col("quality") >= 0.5 && col("n_tokens") >= 10)
      val pairs = Dedup.jaccardPairsPrefix(kept, "doc_id", "text", n = 3, threshold = 0.8)
      Dedup.dropDuplicatePairs(kept, "doc_id", pairs)
        .select(col("doc_id"), col("lang"), col("quality"), col("n_tokens"))
        .orderBy("doc_id")
    }),
    // End-to-end LINE-hygiene composition over a corpus planted with
    // both boilerplate axes (%11 cross-doc banner, %7 within-doc
    // repeat): cross-doc frequency removal first (kills the banner —
    // and, by the distinct-doc-frequency semantics, every line of the
    // exact-twin docs), then within-doc first-occurrence dedup. Both
    // stages' removal counts are emitted per doc, so the gate hashes
    // the full audit trail, not just the surviving text.
    "line_hygiene_pipeline" -> ((s, dir) => {
      val base = plantedCurationDocs(s, dir)
      val cross = Dedup.dedupLinesCrossDoc(base, "doc_id", "text", minDf = 2)
        .withColumnRenamed("n_lines_removed", "n_removed_cross")
      Dedup.dedupLinesWithinDoc(cross, "text")
        .withColumnRenamed("n_lines_removed", "n_removed_within")
        .select(col("doc_id"), col("n_removed_cross"), col("n_removed_within"),
          col("text"))
        .orderBy("doc_id")
    }),
    // REAL decoded-content features over the synthetic-PNG corpus: every
    // payload is an actual PNG, extractFeatures dispatches to the real
    // ImageIO decode + nearest-resample kernel, and the oracle recomputes
    // the features from the closed-form pixel functions — so a feature
    // vector that is anything but the decoded pixels breaks the hash.
    // (Replaces the retired md5 pseudo-feature stub: these features give
    // visually-identical payloads identical vectors, which is what a
    // similarity search needs.)
    "multimodal_real_features" -> ((s, dir) => {
      val media = Multimodal.syntheticPngMedia(
        documents(s, dir).select(col("doc_id")), "doc_id")
      val feats = Multimodal.extractFeatures(media, dim = 16)
      feats.select(col("media_id"),
        round(aggregate(col("features"), lit(0.0d), (a, x) => a + x) / size(col("features")), 6)
          .as("mean_feature"))
        .orderBy("media_id")
    }),
    // The audio twin: real WAV payloads, real PCM decode, windowed-RMS
    // energy features; integer squared-sample sums keep the oracle
    // order-independent and exact.
    "multimodal_audio_features" -> ((s, dir) => {
      val media = Multimodal.syntheticWavMedia(
        documents(s, dir).select(col("doc_id")), "doc_id")
      val feats = Multimodal.extractFeatures(media, dim = 8)
      feats.select(col("media_id"),
        round(aggregate(col("features"), lit(0.0d), (a, x) => a + x) / size(col("features")), 6)
          .as("mean_rms"))
        .orderBy("media_id")
    }),
    // Decode -> features -> compressed ANN, composed end to end: the PQ
    // pipeline (seed codebooks, broadcast-codebook encode, ADC ranking)
    // runs on DECODED-PIXEL vectors instead of the embeddings table, and
    // the oracle replays feature extraction AND the full PQ arithmetic
    // from the closed forms. dim=16 / m=8 -> 2-dim subspaces.
    "multimodal_pq_topk" -> ((s, dir) => {
      val media = Multimodal.syntheticPngMedia(
        documents(s, dir).select(col("doc_id")), "doc_id")
      val feats = Multimodal.extractFeatures(media, dim = 16)
        .where(col("features").isNotNull)
      val cb = Similarity.pqSeedCodebooks(feats, "media_id", "features", m = 8, k = 16)
      val codes = Similarity.pqEncode(feats, "media_id", "features", cb)
      val q = feats.where(col("media_id") === 5)
        .head().getSeq[Float](1).map(_.toDouble).toSeq
      Similarity.pqTopK(codes, cb, q, k = 10)
    }),
    // Video FEATURES: real multi-frame decode -> per-frame mean-gray
    // envelope -> nearest-resample to dim=4; the oracle recomputes frame
    // means and the resample from the closed forms, so all three
    // modalities' feature kernels are hash-checked.
    "multimodal_video_features" -> ((s, dir) => {
      val media = Multimodal.syntheticGifMedia(
        documents(s, dir).select(col("doc_id")), "doc_id")
      val feats = Multimodal.extractFeatures(media, dim = 4)
      feats.select(col("media_id"),
        round(aggregate(col("features"), lit(0.0d), (a, x) => a + x) / size(col("features")), 6)
          .as("mean_feature"))
        .orderBy("media_id")
    }),
    // Perceptual VIDEO hash: gradient bits over the 61-point frame-mean
    // brightness envelope of real decoded GIF frames — the third
    // modality on the dHash + hammingPairs composition; oracle replays
    // frame means + resample + gradient bits from the closed forms.
    "multimodal_video_phash" -> ((s, dir) =>
      Multimodal.videoPerceptualHash(Multimodal.syntheticGifMedia(
          documents(s, dir).select(col("doc_id")), "doc_id"))
        .orderBy("media_id")),
    // REAL multi-frame video decode (ImageIO GIF): dims, TRUE frame
    // count and the cross-frame pixel checksum all come from the payload
    // bytes; the oracle recomputes the closed forms, completing the
    // image/audio/video codec triple.
    "multimodal_video_decode" -> ((s, dir) => {
      val media = Multimodal.syntheticGifMedia(
        documents(s, dir).select(col("doc_id")), "doc_id")
      Multimodal.decodeVideoMeta(media)
        .select(col("media_id"), col("width"), col("height"), col("n_frames"), col("pixel_sum"))
        .orderBy("media_id")
    }),
    // REAL image codec round trip (javax.imageio, no stub): every doc_id
    // becomes an actual grayscale PNG whose dims and pixels are
    // closed-form functions of the id, then the decode kernel recovers
    // width/height/pixel-sum from the BYTES. The oracle recomputes the
    // closed forms — so a decoder that misreads dims, drops rows, or
    // corrupts samples breaks the hash. Encode AND decode both run for
    // real inside mapPartitions seams.
    "multimodal_image_decode" -> ((s, dir) => {
      val media = Multimodal.syntheticPngMedia(
        documents(s, dir).select(col("doc_id")), "doc_id")
      Multimodal.decodeImageMeta(media)
        .select(col("media_id"), col("width"), col("height"), col("pixel_sum"))
        .orderBy("media_id")
    }),
    // Perceptual image dedup: dHash over REAL decoded pixels + banded
    // hamming pairing (exact recall) — byte-level dedup misses re-encoded
    // copies of the same pixels; this is the visual analog of SimHash.
    // The oracle replays resample + gradient bits from the closed-form
    // synthetic pixels, and brute-forces the hamming pairs.
    "multimodal_phash" -> ((s, dir) =>
      Multimodal.perceptualHash(Multimodal.syntheticPngMedia(
          documents(s, dir).select(col("doc_id")), "doc_id"))
        .orderBy("media_id")),
    "multimodal_phash_pairs" -> ((s, dir) => {
      val ph = Multimodal.perceptualHash(Multimodal.syntheticPngMedia(
        documents(s, dir).select(col("doc_id")), "doc_id"))
      Dedup.hammingPairs(ph, "media_id", "phash", nBits = 60, maxHamming = 2)
        .orderBy("id_a", "id_b")
    }),
    // Perceptual AUDIO hash: gradient bits over the 61-window RMS
    // envelope of real decoded WAV samples — dedup by loudness shape,
    // the second modality on the dHash + hammingPairs composition. The
    // oracle replays integer energy sums -> IEEE sqrt/divide -> float32
    // -> gradient bits, all correctly-rounded ops, so the hash is
    // bit-identical cross-engine.
    "multimodal_audio_phash" -> ((s, dir) =>
      Multimodal.audioPerceptualHash(Multimodal.syntheticWavMedia(
          documents(s, dir).select(col("doc_id")), "doc_id"))
        .orderBy("media_id")),
    // REAL audio codec round trip (javax.sound.sampled WAV/PCM — JDK
    // native, no external codecs): every doc_id becomes an actual mono
    // 16-bit WAV whose frame count and samples are closed-form functions
    // of the id; the decode kernel recovers rate/frames/sample-sum from
    // the BYTES and the oracle recomputes the closed forms.
    "multimodal_audio_decode" -> ((s, dir) => {
      val media = Multimodal.syntheticWavMedia(
        documents(s, dir).select(col("doc_id")), "doc_id")
      Multimodal.decodeAudioMeta(media)
        .select(col("media_id"), col("sample_rate"), col("n_frames"), col("sample_sum"))
        .orderBy("media_id")
    }),
    // -- eval / data-selection family (Eval.scala) --------------------------
    // Exact tie-handled Mann-Whitney AUC of a deterministic length-hash
    // score against the lang=='en' label: distinct-score groups, the
    // two-pass distributed cumneg prefix, DECIMAL 2U rollup, ONE double
    // division. 499 score groups guarantee heavy ties, so the ½-tie
    // term is genuinely exercised.
    "score_auc" -> ((s, dir) => {
      val d = documents(s, dir).select(
        ((col("n_chars") % 499).cast("double") / 499.0).as("score"),
        (col("lang") === "en").cast("int").as("label"))
      Eval.aucScore(d, "score", "label")
    }),
    // Reliability bins of the same probability-like score vs the same
    // label: exact integer evidence per bin + rounded rates. One
    // 10-key groupBy, map-side combined.
    "calibration_bins" -> ((s, dir) => {
      val d = documents(s, dir).select(
        ((col("n_chars") % 1000).cast("double") / 1000.0).as("score"),
        (col("lang") === "en").cast("int").as("label"))
      Eval.calibrationBins(d, "score", "label", bins = 10).orderBy("bin")
    }),
    // Greedy token-budget cut: best-score-first whole-doc selection
    // until 20k whitespace tokens. Score-bucketed two-pass prefix sum;
    // only buckets starting under the budget ever reach a window.
    "budget_select" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"),
        ((col("n_chars") % 499).cast("double") / 499.0).as("score"),
        TextFunctions.wsTokenCount(col("text")).cast("long").as("n_tokens"))
      Eval.budgetSelect(d, "doc_id", "score", "n_tokens", budget = 20000L)
        .select(col("doc_id"), round(col("score"), 6).as("score"),
          col("n_tokens"), col("offset"))
        .orderBy("offset")
    }),
    // Corpus-level pairwise source overlap: exact 3-gram Jaccard
    // between the distinct-shingle sets of every source pair (disjoint
    // pairs kept at 0). Per-shingle fan-out bounded by #sources, so no
    // maxDf cap is ever needed.
    "source_overlap" -> ((s, dir) =>
      Eval.sourceOverlap(documents(s, dir), "source", "text", n = 3)
        .orderBy("src_a", "src_b")),
    // Integer-exact ECE over the same calibration frame: per-bin
    // |pos·1e6 − Σmicro| longs rolled up, ONE double division.
    "calibration_ece" -> ((s, dir) => {
      val d = documents(s, dir).select(
        ((col("n_chars") % 1000).cast("double") / 1000.0).as("score"),
        (col("lang") === "en").cast("int").as("label"))
      Eval.calibrationEce(d, "score", "label", bins = 10)
    }),
    // Stratified AUC: one tie-handled Mann-Whitney row per language —
    // same DECIMAL 2U contract, prefix machinery partitioned by
    // (group, bucket).
    "score_auc_by_lang" -> ((s, dir) => {
      val d = documents(s, dir).select(col("lang"),
        ((col("n_chars") % 499).cast("double") / 499.0).as("score"),
        (col("source") === "web").cast("int").as("label"))
      Eval.aucScoreBy(d, "lang", "score", "label").orderBy("lang")
    }),
    // Per-source unigram diagnostics: self-entropy, cross-entropy vs
    // the corpus LM, KL — once-quantized floor(ln·1e9) logs, DECIMAL
    // count-weighted sums, three closed-form doubles per source.
    "source_entropy" -> ((s, dir) =>
      Scoring.sourceEntropy(documents(s, dir), "source", "text")
        .orderBy("source")),
    // Zipf-law slope/intercept over the top-100 vocabulary: TakeOrdered
    // cut, quantized-log regression from four DECIMAL-exact sums.
    "zipf_fit" -> ((s, dir) =>
      Scoring.zipfFit(documents(s, dir), "text", k = 100)),
    // PSI distributional drift on n_chars between the corpus and a
    // deterministically shifted re-delivery: old-range bins, Laplace
    // terms quantized to floor(term*1e12) longs per bin.
    "quality_psi" -> ((s, dir) => {
      val old = documents(s, dir)
      val neu = old.where(col("doc_id") % 20 >= 2)
        .select((col("n_chars") + col("doc_id") % 200).as("n_chars"))
      Profile.psi(old, neu, "n_chars", bins = 10).orderBy("bin")
    }),
    "quality_psi_total" -> ((s, dir) => {
      val old = documents(s, dir)
      val neu = old.where(col("doc_id") % 20 >= 2)
        .select((col("n_chars") + col("doc_id") % 200).as("n_chars"))
      Profile.psiTotal(old, neu, "n_chars", bins = 10)
    }),
    // Full PR curve over a noisy-but-correlated label (high scores are
    // ~10/11 positive): exact suffix confusion counts per distinct
    // threshold from the shared AUC prefix frame.
    "pr_curve" -> ((s, dir) =>
      Eval.prCurve(prLabeled(s, dir), "score", "label").orderBy("threshold")),
    // Deployment argmin: smallest threshold whose precision meets 0.9;
    // integer-micro gate, min(struct) winner.
    "threshold_for_precision" -> ((s, dir) =>
      Eval.thresholdForPrecision(prLabeled(s, dir), "score", "label",
        targetPrecision = 0.9)),
    // Step-wise average precision (AUPRC) over the same PR fixture:
    // per-group pos*tp/sel terms quantized to floor(term*1e9) longs,
    // one division by P*1e9.
    "average_precision" -> ((s, dir) =>
      Eval.averagePrecision(prLabeled(s, dir), "score", "label")),
    // Power-law exponent of the co-supply graph's degree sequence —
    // zipfFitCounts on the multi-edge degree table (hub detection at a
    // glance: slopes far from the text corpus's -1 flag hub-and-spoke
    // topology before any quadratic operator trips on it).
    "degree_zipf" -> ((s, dir) => {
      val li = lineitem(s, dir).where(col("l_quantity") >= 50)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      val deg = pairs.select(col("src").as("node"))
        .unionAll(pairs.select(col("dst").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      Scoring.zipfFitCounts(deg, "node", "deg", k = 50)
    })
  )

  /** Shared fixture for the PR-family entries: length-hash score and a
    * label that agrees with (score > 0.5) except on every 11th doc. */
  private def prLabeled(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(
      ((col("n_chars") % 499).cast("double") / 499.0).as("score"),
      ((col("n_chars") % 499 > 249) =!= (col("doc_id") % 11 === 0))
        .cast("int").as("label"))

  /** Embedding of vec_id=0 as the constant query vector (float -> double
    * widening is exact). One tiny driver collect, not part of the scored
    * dataflow. */
  private def queryVector(emb: DataFrame): Seq[Double] =
    emb.where(col("vec_id") === 0).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble)

  private val TwinIdBase = 1000000L

  /** Embeddings corpus with planted near-duplicates: every vec_id < 100
    * gets a twin (id + [[TwinIdBase]]) whose elements are scaled 1.02 on
    * even indices / 0.98 on odd — cosine(v, twin) ~ 0.9998, far above the
    * 0.9 near-dup line, while the random corpus tops out ~0.46. The
    * float->double->scale->float arithmetic is deterministic with an exact
    * DuckDB twin, so planted-pair queries stay hash-checkable. */
  private def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val base = e.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val twins = e.where(col("vec_id") < 100).select(
      (col("vec_id").cast("long") + lit(TwinIdBase)).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x.cast("double") * when(pmod(i, lit(2)) === 0, lit(1.02)).otherwise(lit(0.98)))
          .cast("float")).as("embedding"))
    base.unionByName(twins)
  }

  // ---- session-memoized standing artifacts (incremental entries) --------

  /** Keys of standing-artifact sets already built THIS session. The
    * incremental gate entries time PER-BATCH work — probe + refresh
    * against artifacts a production pipeline persists once per corpus
    * epoch — so each build runs once per (session, sfDir) and lands in
    * the bench's DISCARDED warmup sweep; measured sweeps read the
    * tables back (r17 verdict #1/#6: re-paying the standing build
    * inline both inflated the sweep ~48 s and left the "flat per
    * batch" claim unmeasured). Correctness is unaffected: rebuilt or
    * read back, the artifacts are bit-identical (IndexStore
    * round-trips values exactly) and every oracle still replays the
    * FULL composition from the raw tables. Keyed by applicationId so a
    * fresh session (whose in-memory catalog forgot the tables)
    * rebuilds. */
  private val standingBuilt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def ensureOnce(s: SparkSession, key: String)(build: => Unit): Unit = {
    val full = s.sparkContext.applicationId + ":" + key
    if (!standingBuilt.contains(full)) synchronized {
      if (!standingBuilt.contains(full)) { build; standingBuilt.add(full) }
    }
  }

  private def sfx(dir: String): String = dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Standing-side artifacts of the incremental SEMANTIC entries (the
    * vec_id >= 100 corpus): the frozen-width banded index
    * (banding/payload/params — the [[Similarity.knnGraphAgainstIndex]]
    * probe target), the standing corpus's own quantized kNN edges, the
    * standing community labels (4-round LPA), and the LPA adjacency
    * bucketed on the expansion key. Returns the table-name suffix. */
  private def ensureSemanticStanding(s: SparkSession, dir: String): String = {
    val x = sfx(dir)
    ensureOnce(s, "sem:" + x) {
      val standing = embeddings(s, dir).where(col("vec_id") >= 100)
      val rpb = Similarity.autoRowsPerBand(standing.count(), bands = 2)
      val (banded, payload, params) = Similarity.knnGraphIndex(
        standing, "vec_id", "embedding", dim = 64, rowsPerBand = rpb, bands = 2)
      IndexStore.writeBucketed(banded, "graft_sem_band_" + x, "bkey", 8)
      IndexStore.writeTable(payload, "graft_sem_payload_" + x)
      IndexStore.writeTable(params, "graft_sem_params_" + x)
      val standingEdges = Similarity.knnGraphQuantized(
        standing, "vec_id", "embedding", k = 3, dim = 64,
        rowsPerBand = rpb, bands = 2, rerankFactor = 4)
        .select(col("id"), col("nbr"), col("cosine"), col("rank"))
        .localCheckpoint(true) // consumed three times below
      IndexStore.writeTable(standingEdges, "graft_sem_edges_" + x)
      IndexStore.writeTable(
        Communities.labelPropagation(standingEdges, "id", "nbr", iterations = 4),
        "graft_sem_labels_" + x)
      IndexStore.writeBucketed(
        Communities.lpaAdjacency(standingEdges, "id", "nbr"),
        "graft_sem_adj_" + x, "nbr", 8)
      org.apache.spark.sql.graft.CheckpointBridge.release(standingEdges)
    }
    x
  }

  /** The ingest batch's corpus-neighbor edges against the persisted
    * semantic index — the per-batch probe every incremental semantic
    * entry pays (standing side touched only through its banded index;
    * the one count job re-derives the frozen auto width the way the
    * index builder sized it). */
  private def semanticBatchEdges(s: SparkSession, dir: String, x: String): DataFrame = {
    val e = embeddings(s, dir)
    val rpb = Similarity.autoRowsPerBand(e.where(col("vec_id") >= 100).count(), bands = 2)
    Similarity.knnGraphAgainstIndex(
      IndexStore.read(s, "graft_sem_band_" + x),
      IndexStore.read(s, "graft_sem_payload_" + x),
      IndexStore.read(s, "graft_sem_params_" + x),
      e.where(col("vec_id") < 100), "vec_id", "embedding",
      k = 3, dim = 64, rowsPerBand = rpb, bands = 2, rerankFactor = 4)
  }

  /** Standing artifacts of the DUP-CLUSTER refresh entry (documents,
    * standing = doc_id >= 50): bucketed inverted shingle index (the
    * [[Dedup.jaccardPairsAgainstIndex]] probe target), standing
    * near-dup pair edges, standing cluster labels, LPA adjacency. */
  private def ensureDupClusterStanding(s: SparkSession, dir: String): String = {
    val x = sfx(dir)
    ensureOnce(s, "dup:" + x) {
      val standing = documents(s, dir).where(col("doc_id") >= 50)
      IndexStore.writeBucketed(
        Dedup.shingleIndex(standing, "doc_id", "text", n = 3),
        "graft_dup_shidx_" + x, "shingle", 8)
      val pairs = Dedup.jaccardPairs(standing, "doc_id", "text",
          n = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint(true) // consumed three times below
      IndexStore.writeTable(pairs, "graft_dup_edges_" + x)
      IndexStore.writeTable(
        Communities.labelPropagation(pairs, "id_a", "id_b", iterations = 4),
        "graft_dup_labels_" + x)
      IndexStore.writeBucketed(
        Communities.lpaAdjacency(pairs, "id_a", "id_b"),
        "graft_dup_adj_" + x, "nbr", 8)
      org.apache.spark.sql.graft.CheckpointBridge.release(pairs)
    }
    x
  }

  /** The planted corpus's quantized kNN edges as a persisted table —
    * the GRAPH is the semantic pipeline's standing artifact, and its
    * consumers (the hubness diagnostic, the mutual/hub-cap remedies,
    * quota sampling) price their own pass over the persisted edges;
    * the build cost itself stays timed by knn_graph_quantized and the
    * semantic_communities end-to-end flagship. */
  private def ensurePlantedKnnEdges(s: SparkSession, dir: String): String = {
    val x = sfx(dir)
    ensureOnce(s, "pke:" + x) {
      IndexStore.writeTable(
        Similarity.knnGraphQuantized(
            plantedEmbeddings(s, dir), "vec_id", "embedding", k = 3, dim = 64,
            bands = 2, rerankFactor = 4)
          .select(col("id"), col("nbr"), col("cosine"), col("rank")),
        "graft_pke_" + x)
    }
    x
  }

  /** The fitted language model as a persisted table: nb_train_lang
    * times the train; the classify/confusion entries time the SCORING
    * pass against the model a filter pipeline ships once. */
  private def ensureNbModel(s: SparkSession, dir: String): String = {
    val x = sfx(dir)
    ensureOnce(s, "nb:" + x) {
      IndexStore.writeTable(
        NaiveBayes.train(
          documents(s, dir).where(col("doc_id") % 3 =!= 0),
          "lang", "text", vocabSize = 500),
        "graft_nb_model_" + x)
    }
    x
  }

  /** The hashed-bigram flavor of [[ensureNbModel]] (bg#<bucket>
    * features, 64 buckets — nb_train_lang_bigram times this build). */
  private def ensureNbBigramModel(s: SparkSession, dir: String): String = {
    val x = sfx(dir)
    ensureOnce(s, "nbbg:" + x) {
      IndexStore.writeTable(
        NaiveBayes.train(
          documents(s, dir).where(col("doc_id") % 3 =!= 0),
          "lang", "text", vocabSize = 500, bigramBuckets = 64),
        "graft_nb_bg_model_" + x)
    }
    x
  }

  /** The ORDER-SEPARATION planted corpus: classes `fwd`/`rev` by doc_id
    * parity, text = the 3-token cycle (or its reversal) repeated
    * `3 + doc_id % 5` times — per-doc unigram counts are identical
    * across classes, the ordered bigrams are disjoint. Derived from the
    * documents table so row count scales with sf; exactly replayed by
    * the `ocorp` CTE in [[nbOrderSql]]. */
  private def orderCorpus(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(
      col("doc_id"),
      when(pmod(col("doc_id"), lit(2)) === 0, lit("fwd"))
        .otherwise(lit("rev")).as("cls"),
      concat_ws("", array_repeat(
        when(pmod(col("doc_id"), lit(2)) === 0, lit("ord0 ord2 ord3 "))
          .otherwise(lit("ord3 ord2 ord0 ")),
        (lit(3) + pmod(col("doc_id"), lit(5))).cast("int"))).as("text"))

  /** The standing HALF-CORPUS BM25 index (even doc_ids) as persisted
    * tables — what bm25_topk_merged's incremental-ingest story implies a
    * production pipeline keeps between epochs: tf bucketed by `term`
    * (the probe key), df/dl/stats plain. The entry then times ONLY the
    * per-batch reality — tokenize the odd half, merge, probe — instead
    * of re-paying the standing build every sweep (r18 verdict #5); the
    * full-build cost stays timed by bm25_topk_indexed. */
  private def ensureBm25HalfIndex(s: SparkSession, dir: String): String = {
    val x = sfx(dir)
    ensureOnce(s, "bm25half:" + x) {
      val half = Tfidf.bm25Index(
        documents(s, dir).where(col("doc_id") % 2 === 0), "doc_id", "text")
      IndexStore.writeBucketed(half.tf, "graft_bm25h_tf_" + x, "term", 8)
      IndexStore.writeTable(half.df, "graft_bm25h_df_" + x)
      IndexStore.writeTable(half.dl, "graft_bm25h_dl_" + x)
      IndexStore.writeTable(half.stats, "graft_bm25h_stats_" + x)
    }
    x
  }

  private def bm25HalfIndex(s: SparkSession, x: String): Tfidf.Bm25Index =
    Tfidf.Bm25Index(
      IndexStore.read(s, "graft_bm25h_tf_" + x),
      IndexStore.read(s, "graft_bm25h_df_" + x),
      IndexStore.read(s, "graft_bm25h_dl_" + x),
      IndexStore.read(s, "graft_bm25h_stats_" + x))

  /** The full-corpus prefix-arm near-dup pair graph as a persisted
    * table — the standing artifact the drop-policy entries share:
    * dedup_drop (end-to-end flagship) keeps timing candidate generation
    * + greedy drop from raw text; dedup_drop_exact times what it ADDS
    * over that flagship — the lexicographic-MIS drop rounds — over the
    * persisted graph (r18 verdict #5: the two entries re-paid the same
    * pair build, and the exact entry's 46.5 s driver sample was ~90%
    * redundant candidate generation). */
  private def ensureJaccardPrefixPairs(s: SparkSession, dir: String): String = {
    val x = sfx(dir)
    ensureOnce(s, "jpp:" + x) {
      IndexStore.writeTable(
        Dedup.jaccardPairsPrefix(documents(s, dir), "doc_id", "text",
            n = 3, threshold = 0.8)
          .select(col("id_a"), col("id_b")),
        "graft_jpp_" + x)
    }
    x
  }

  /** 60 deterministic lowercase tokens — the planted "license header" the
    * substring-dedup entries must catch across otherwise-different docs. */
  private val LicenseHeader: String = (0 until 60).map(i => s"lichdr$i").mkString(" ")

  /** Documents with the header planted on every doc_id % 101 == 0 row —
    * document-level similarity between two planted docs stays low (their
    * own texts differ), so only a SUBSTRING-level operator can pair them. */
  private def plantedHeaderDocs(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).withColumn("text",
      when(col("doc_id") % 101 === 0, concat(lit(LicenseHeader), lit(" "), col("text")))
        .otherwise(col("text")))

  /** Documents re-flowed into newline-separated lines of 10 tokens, with
    * the FIRST line repeated at the end for every doc_id % 7 == 0 row —
    * the within-page boilerplate shape (nav bar / cookie banner repeated
    * inside one document) that no cross-document operator sees. The
    * construction is mirrored token-exactly by the oracle CTE. */
  private def plantedLineDocs(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("__n", expr("(size(__toks) + 9) div 10").cast("int"))
      .withColumn("__lines", transform(sequence(lit(0), col("__n") - 1), i =>
        array_join(slice(col("__toks"), i * 10 + 1, lit(10)), " ")))
      .withColumn("__planted", when(col("doc_id") % 7 === 0,
        concat(col("__lines"), slice(col("__lines"), 1, 1))).otherwise(col("__lines")))
      .select(col("doc_id"), array_join(col("__planted"), "\n").as("text"))

  /** One shared 10-token "cookie banner" line — cross-document
    * boilerplate no within-doc or document-level operator can catch. */
  private val BoilerLine: String = (0 until 10).map(i => s"bplate$i").mkString(" ")

  /** [[plantedLineDocs]]' line reflow with [[BoilerLine]] PREPENDED to
    * every doc_id % 11 == 0 row (no within-doc repeat planting): the
    * banner's per-line document frequency is ~n/11 >> minDf while every
    * organic line stays doc-local. Mirrored token-exactly by the oracle. */
  private def plantedBoilerplateDocs(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("__n", expr("(size(__toks) + 9) div 10").cast("int"))
      .withColumn("__lines", transform(sequence(lit(0), col("__n") - 1), i =>
        array_join(slice(col("__toks"), i * 10 + 1, lit(10)), " ")))
      .withColumn("__planted", when(col("doc_id") % 11 === 0,
        concat(array(lit(BoilerLine)), col("__lines"))).otherwise(col("__lines")))
      .select(col("doc_id"), array_join(col("__planted"), "\n").as("text"))

  /** The full line-hygiene fixture: 10-token reflow with BOTH plantings —
    * the %7 within-doc first-line repeat AND the %11 [[BoilerLine]]
    * banner — so one corpus exercises every axis of line dedup. */
  private def plantedCurationDocs(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("__n", expr("(size(__toks) + 9) div 10").cast("int"))
      .withColumn("__lines", transform(sequence(lit(0), col("__n") - 1), i =>
        array_join(slice(col("__toks"), i * 10 + 1, lit(10)), " ")))
      .withColumn("__rep", when(col("doc_id") % 7 === 0,
        concat(col("__lines"), slice(col("__lines"), 1, 1))).otherwise(col("__lines")))
      .withColumn("__planted", when(col("doc_id") % 11 === 0,
        concat(array(lit(BoilerLine)), col("__rep"))).otherwise(col("__rep")))
      .select(col("doc_id"), array_join(col("__planted"), "\n").as("text"))

  /** The CSV source path (S2, reference: examples/heart_disease.py:12):
    * round-trips the nation table through CSV with header + schema
    * inference. The CSV lives under java.io.tmpdir, keyed by scale dir. */
  private def nationViaCsv(s: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9]", "_")
    val csvDir = s"${System.getProperty("java.io.tmpdir")}/graft_nation_csv_$key"
    nation(s, dir).coalesce(1).write.mode("overwrite").option("header", "true").csv(csvDir)
    s.read.option("header", "true").option("inferSchema", "true").csv(csvDir)
  }

  // ---- oracle SQL ---------------------------------------------------------

  private val histSelectSql =
    s"""WITH $meltCte,
       |$histCte
       |SELECT feature, feature_value, class_0_count, class_1_count, class_2_count, count_examples
       |FROM h ORDER BY feature, feature_value""".stripMargin

  private val cumSelectSql = {
    val cumCols = (0 to 2).flatMap(i =>
      Seq(s"cum_sum_class_${i}_count", s"sum_class_${i}_count")) ++
      Seq("cum_sum_count_examples", "sum_count_examples")
    s"""WITH $meltCte,
       |$histCte,
       |$cumCte
       |SELECT feature, feature_value, ${cumCols.mkString(", ")}
       |FROM c ORDER BY feature, feature_value""".stripMargin
  }

  private lazy val textStatsSql = {
    val tk = """regexp_split_to_array(lower(trim(text)), '\s+')"""
    val tkRaw = """regexp_split_to_array(trim(text), '\s+')"""
    val punct = "CASE WHEN length(text) = 0 THEN 0.0 ELSE " +
      """CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text) END"""
    val stop = s"CASE WHEN len($tk) = 0 THEN 0.0 ELSE " +
      s"""CAST(len(list_filter($tk, x -> list_contains($stopListSql, x))) AS DOUBLE) / len($tk) END"""
    val meanLen = s"CASE WHEN len($tkRaw) = 0 THEN 0.0 ELSE " +
      s"""CAST(list_sum(list_transform($tkRaw, x -> length(x))) AS DOUBLE) / len($tkRaw) END"""
    s"""SELECT doc_id,
       |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($tkRaw) END AS BIGINT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)) AS BIGINT) AS n_bpe_tokens,
       |  round($punct, 6) AS punct_ratio,
       |  round($stop, 6) AS stopword_ratio,
       |  round($meanLen, 6) AS mean_word_len,
       |  $qualityExprSql AS quality,
       |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** (doc_id, lang) select with no ORDER BY — embeddable as a CTE body
    * by any oracle needing the language column. */
  private lazy val langSelectSql = {
    val tk = """regexp_split_to_array(lower(trim(text)), '\s+')"""
    def hits(markers: Seq[String]) =
      s"len(list_filter($tk, x -> list_contains([${markers.map("'" + _ + "'").mkString(", ")}], x)))"
    val en = hits(Seq("the", "and", "is", "of", "to"))
    val de = hits(Seq("der", "die", "das", "und", "ist"))
    val fr = hits(Seq("le", "la", "et", "les", "est"))
    val es = hits(Seq("el", "los", "y", "es", "las"))
    s"""WITH c AS (SELECT doc_id, $en AS en, $de AS de, $fr AS fr, $es AS es FROM documents)
       |SELECT doc_id,
       |  CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
       |       WHEN en = greatest(en, de, fr, es) THEN 'en'
       |       WHEN de = greatest(en, de, fr, es) THEN 'de'
       |       WHEN fr = greatest(en, de, fr, es) THEN 'fr'
       |       WHEN es = greatest(en, de, fr, es) THEN 'es'
       |       ELSE 'und' END AS lang
       |FROM c""".stripMargin
  }

  private lazy val langIdSql = s"$langSelectSql\nORDER BY doc_id"

  private lazy val jaccardSql =
    s"""WITH ${jaccardCtes("documents")}
       |SELECT id_a, id_b, round($jaccardExprSql, 6) AS jaccard
       |FROM cand
       |WHERE $jaccardExprSql >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  /** [[jaccardCtes]]'s shingle algebra with an asymmetric batch/corpus
    * split instead of the `a.id < b.id` self-join cut. */
  private lazy val dedupIncrementalSql =
    s"""WITH toks AS (
       |  SELECT doc_id AS id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk FROM documents),
       |sets AS (
       |  SELECT id,
       |    CASE WHEN len(tk) >= 3
       |      THEN list_distinct([array_to_string(tk[i + 1 : i + 3], ' ') FOR i IN range(0, len(tk) - 2)])
       |      ELSE list_distinct([array_to_string(tk, ' ')]) END AS sh
       |  FROM toks),
       |sized AS (SELECT id, len(sh) AS set_size, unnest(sh) AS shingle FROM sets),
       |cand AS (
       |  SELECT a.id AS id_new, b.id AS id_corpus,
       |    a.set_size AS size_new, b.set_size AS size_corpus, count(*) AS n_common
       |  FROM sized a JOIN sized b ON a.shingle = b.shingle
       |  WHERE a.id >= 400 AND b.id < 400
       |  GROUP BY 1, 2, 3, 4)
       |SELECT id_new, id_corpus,
       |  round(n_common / (size_new + size_corpus - n_common), 6) AS jaccard
       |FROM cand
       |WHERE n_common / (size_new + size_corpus - n_common) >= 0.8
       |ORDER BY id_new, id_corpus""".stripMargin

  /** Brute-force SQL twin of the 60-bit md5 simhash pairs: recompute the
    * signature per doc (same token set, same md5-prefix hash, same ±1 bit
    * votes), then all-pairs hamming — exact, because the Spark side's
    * pigeonhole banding is a complete candidate generator. */
  private val simhash60Sql = {
    val bitSums = (0 until 60).map(j =>
      s"sum(CASE WHEN (hv >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b_$j").mkString(",\n    ")
    val bitsExpr = (0 until 60).map(j =>
      s"CASE WHEN b_$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id AS id, unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS tok
       |  FROM documents),
       |h AS (SELECT id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks),
       |b AS (SELECT id,
       |    $bitSums
       |  FROM h GROUP BY id),
       |s AS (SELECT id, $bitsExpr AS simhash FROM b),
       |p AS (SELECT sa.id AS id_a, sb.id AS id_b,
       |        CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
       |      FROM s sa JOIN s sb ON sa.id < sb.id)
       |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin
  }

  /** Closed-form twin of one REAL image feature: what a correct decode +
    * nearest-resample of the synthetic PNG (pixel = (id*31+x*7+y*13)%256,
    * w x h = 1+id%16 x 1+id%9, idx = d*(w*h)/16 row-major) must produce.
    * The pixel value goes through REAL to match the Float the Spark
    * kernel emits, then widens to DOUBLE for downstream arithmetic. */
  private def pngFeatureTerm(d: Int): String =
    s"CAST(CAST(((media_id*31 + ((($d*(w*h))//16) % w)*7 + ((($d*(w*h))//16) // w)*13) % 256)" +
      s" / 255.0 AS REAL) AS DOUBLE)"

  private val pngMediaCte =
    """d AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
      |  CAST(1 + doc_id % 16 AS BIGINT) AS w, CAST(1 + doc_id % 9 AS BIGINT) AS h
      |  FROM documents)""".stripMargin

  /** SQL twin of the 60-bit image dHash: the same 61-point nearest
    * resample (`idx = d*(w*h)//61`) over the closed-form synthetic
    * pixels, gradient bits summed as BIGINT powers of two. */
  private val pngPhashCte =
    s"""$pngMediaCte,
       |g AS (SELECT media_id, t.d AS bit,
       |  ((media_id*31 + (((t.d*(w*h))//61) % w)*7 + (((t.d*(w*h))//61) // w)*13) % 256) AS pc,
       |  ((media_id*31 + ((((t.d+1)*(w*h))//61) % w)*7 + ((((t.d+1)*(w*h))//61) // w)*13) % 256) AS pn
       |  FROM d, range(0, 60) t(d)),
       |ph AS (SELECT media_id,
       |  CAST(sum(CASE WHEN pn > pc THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS phash
       |  FROM g GROUP BY 1)""".stripMargin

  /** SQL twin of the real image feature path (dim=16) + the mean-feature
    * aggregation: 16 closed-form pixel terms summed in array order (the
    * explicit `t0 + t1 + ...` chain = Spark's ordered
    * `aggregate(features, 0.0d, _+_)` fold). */
  private val multimodalRealFeaturesSql = {
    val terms = (0 until 16).map(pngFeatureTerm).mkString("\n    + ")
    s"""WITH $pngMediaCte
       |SELECT media_id,
       |  round(($terms) / 16.0, 6) AS mean_feature
       |FROM d ORDER BY media_id""".stripMargin
  }

  /** SQL twin of the real audio feature path (8 RMS windows over the
    * synthetic WAV's closed-form samples): window of sample i is
    * floor(i*8/n), squared sums accumulate as exact BIGINTs (so the
    * unordered SQL sum equals Spark's sequential fold bit-for-bit), and
    * the window means fold in window order. */
  private val multimodalAudioFeaturesSql =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
      |    CAST(64 + doc_id % 128 AS BIGINT) AS n FROM documents),
      |s AS (SELECT media_id, n, x.i AS i, (media_id*31 + x.i*7) % 2048 - 1024 AS v
      |  FROM d, generate_series(0, 191) x(i) WHERE x.i < n),
      |w AS (SELECT media_id, (i * 8) // n AS win, sum(v*v) AS ss, count(*) AS c
      |  FROM s GROUP BY 1, 2),
      |r AS (SELECT media_id, win,
      |    CAST(sqrt(CAST(ss AS DOUBLE) / c) / 32768.0 AS REAL) AS rms FROM w)
      |SELECT media_id,
      |  round(list_sum(list(CAST(rms AS DOUBLE) ORDER BY win)) / 8.0, 6) AS mean_rms
      |FROM r GROUP BY 1 ORDER BY media_id""".stripMargin

  /** SQL twin of the decode -> features -> PQ composition: the corpus is
    * the closed-form feature table (16-dim decoded-pixel vectors), then
    * the standard PQ twin at 2-dim subspaces — seed codebooks from
    * media_id < 16, r9-rounded argmin encode, query (media_id 5) LUT,
    * ordered ADC fold. */
  private val multimodalPqSql = {
    val vList = (0 until 16).map(pngFeatureTerm).mkString("[", ",\n    ", "]")
    s"""WITH $pngMediaCte,
       |e AS (SELECT media_id AS vec_id, $vList AS v FROM d),
       |cb AS (SELECT vec_id AS code, v FROM e WHERE vec_id < 16),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 5),
       |subs AS (SELECT i AS sub FROM generate_series(0, 7) t(i)),
       |dist AS (
       |  SELECT e.vec_id, s.sub, c.code,
       |    floor(list_sum(list_transform(range(1, 3),
       |      j -> (e.v[s.sub*2 + j] - c.v[s.sub*2 + j]) * (e.v[s.sub*2 + j] - c.v[s.sub*2 + j]))) * 1e9 + 0.5)
       |    / 1e9 AS d
       |  FROM e, subs s, cb c),
       |enc AS (
       |  SELECT vec_id, sub, code,
       |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, code ASC) AS rn
       |  FROM dist),
       |lut AS (
       |  SELECT s.sub, c.code,
       |    floor(list_sum(list_transform(range(1, 3),
       |      j -> (q.qv[s.sub*2 + j] - c.v[s.sub*2 + j]) * (q.qv[s.sub*2 + j] - c.v[s.sub*2 + j]))) * 1e9 +
       |    0.5) / 1e9 AS d
       |  FROM q, subs s, cb c),
       |adc AS (
       |  SELECT enc.vec_id AS id, round(list_sum(list(lut.d ORDER BY enc.sub)), 6) AS adc
       |  FROM enc JOIN lut ON enc.sub = lut.sub AND enc.code = lut.code
       |  WHERE enc.rn = 1
       |  GROUP BY 1)
       |SELECT id, adc FROM adc ORDER BY adc ASC, id ASC LIMIT 10""".stripMargin
  }

  /** Closed-form twin of the GIF round trip: what a correct multi-frame
    * decode of the synthetic GIFs must find (dims 2+id%8 x 2+id%6,
    * frames 1+id%5, pixel = (id*31+f*17+x*7+y*13)%256). */
  private val multimodalVideoDecodeSql =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
      |  CAST(2 + doc_id % 8 AS INT) AS width, CAST(2 + doc_id % 6 AS INT) AS height,
      |  CAST(1 + doc_id % 5 AS INT) AS n_frames
      |  FROM documents)
      |SELECT d.media_id, d.width, d.height, d.n_frames,
      |  CAST(sum((d.media_id*31 + f.k*17 + x.i*7 + y.j*13) % 256) AS BIGINT) AS pixel_sum
      |FROM d, generate_series(0, 4) f(k), generate_series(0, 8) x(i), generate_series(0, 6) y(j)
      |WHERE f.k < d.n_frames AND x.i < d.width AND y.j < d.height
      |GROUP BY 1, 2, 3, 4 ORDER BY media_id""".stripMargin

  /** Closed-form twin of the PNG round trip: what a CORRECT decode of the
    * synthetic PNGs must find. Dims are 1+id%16 x 1+id%9 (bounded, so a
    * fixed 16x9 series + filter replaces the lateral DuckDB can't bind). */
  private val multimodalDecodeSql =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
      |  CAST(1 + doc_id % 16 AS INT) AS width, CAST(1 + doc_id % 9 AS INT) AS height
      |  FROM documents)
      |SELECT d.media_id, d.width, d.height,
      |  CAST(sum((d.media_id*31 + x.i*7 + y.j*13) % 256) AS BIGINT) AS pixel_sum
      |FROM d, generate_series(0, 15) x(i), generate_series(0, 8) y(j)
      |WHERE x.i < d.width AND y.j < d.height
      |GROUP BY 1, 2, 3 ORDER BY media_id""".stripMargin

  private val sessionizeSql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
      |b AS (
      |  SELECT user_id, us, value,
      |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS boundary
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
      |s AS (
      |  SELECT user_id, us, value,
      |    CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      |  FROM b)
      |SELECT user_id, session_idx, count(*) AS n_events, round(sum(value), 6) AS sum_value,
      |       min(us) AS start_us, max(us) AS end_us
      |FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin

  private val topkSql =
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
       |s AS (
       |  SELECT e.vec_id AS id, ${cosSql("CAST(e.embedding AS DOUBLE[])", "q.qv")} AS cos
       |  FROM embeddings e, q)
       |SELECT id, round(cos, 6) AS cosine FROM s ORDER BY cos DESC, id ASC LIMIT 10""".stripMargin

  /** Planted-twin corpus CTE (DuckDB twin of [[plantedEmbeddings]]): the
    * element arithmetic goes double -> scale -> REAL -> double exactly like
    * the Spark side's cast chain. */
  private val plantedCorpusCte =
    """corpus AS (
      |  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  UNION ALL
      |  SELECT CAST(vec_id + 1000000 AS BIGINT) AS vec_id,
      |    [CAST(CAST(CAST(embedding[i + 1] AS DOUBLE)
      |        * (CASE WHEN i % 2 = 0 THEN CAST(1.02 AS DOUBLE) ELSE CAST(0.98 AS DOUBLE) END)
      |      AS REAL) AS DOUBLE) FOR i IN range(0, len(embedding))] AS v
      |  FROM embeddings WHERE vec_id < 100)""".stripMargin

  /** DuckDB twin of [[graft.operators.Similarity.autoRowsPerBand]] for
    * bands = 2 — the width the banded operators auto-size to when
    * `rowsPerBand = 0`: one row `rpb` (bits per band) =
    * `greatest(8, least(31, needed))` where `needed` is the smallest b
    * with `16 * 2^b >= count(src)`. Integer-exact (`16::BIGINT << b`, no
    * floating log), so the twin steps at exactly the corpus sizes the
    * Scala side steps at. The Scala rule has no cap of 31 (a 62-bit
    * whole-width signature at 2 bands); the two agree below 16·2^31
    * vectors, i.e. at every gate sf. */
  private def autoRpbCte(src: String): String =
    s"""w AS (SELECT greatest(8, least(31,
       |    (SELECT min(b.b) FROM range(0, 48) b(b)
       |     WHERE (16::BIGINT << b.b) >= (SELECT count(*) FROM $src)))) AS rpb)""".stripMargin

  /** SQL twin of the banded LSH near-dup pipeline
    * ([[graft.operators.Similarity.cosineNearDupPairs]]: the whole-width
    * [[graft.operators.Similarity.lshSignatureMd5]] shifted and masked
    * per band, bit-identical to `bandBuckets`, + exact cosine verify):
    * plane weight = first 60 bits of md5("p_i") mapped to
    * [-1,1), projection summed in list order, sign bit per plane, 2 bands
    * of AUTO-sized width (the autoRpbCte occupancy-pinned rule — 8 bits
    * per band until the corpus outgrows 16·2^8 rows, then growing with
    * log2(n)), candidate pairs on band-bucket equality, cosine >= 0.9. */
  private val embeddingNeardupLshSql = {
    val weight = """(('0x' || substr(md5(p.p::VARCHAR || '_' || i::VARCHAR), 1, 15))::BIGINT
      | / 576460752303423488.0 - 1.0)""".stripMargin
    s"""WITH $plantedCorpusCte,
       |${autoRpbCte("corpus")},
       |proj AS (
       |  SELECT c.vec_id, p.p,
       |    list_sum([c.v[i + 1] * $weight FOR i IN range(0, len(c.v))]) AS pr
       |  FROM corpus c, w, range(0, 62) p(p) WHERE p.p < 2 * w.rpb),
       |sig AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS sig
       |  FROM proj GROUP BY vec_id),
       |banded AS (
       |  SELECT vec_id, b.b AS band,
       |    (sig >> (b.b * w.rpb)) & ((1::BIGINT << w.rpb) - 1) AS bucket
       |  FROM sig, w, range(0, 2) b(b)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, bb.vec_id AS id_b
       |  FROM banded a JOIN banded bb USING (band, bucket)
       |  WHERE a.vec_id < bb.vec_id),
       |scored AS (
       |  SELECT id_a, id_b, ${cosSql("ca.v", "cb.v")} AS cos
       |  FROM cand
       |  JOIN corpus ca ON ca.vec_id = id_a
       |  JOIN corpus cb ON cb.vec_id = id_b)
       |SELECT id_a, id_b, round(cos, 6) AS cosine
       |FROM scored WHERE cos >= 0.9 ORDER BY id_a, id_b""".stripMargin
  }

  /** SQL twin of embedding_neardup_lsh_wide: the wide per-band bucket
    * CTE (grouped bit-sum at the UNCAPPED auto width) + the same
    * undirected candidate/cosine machinery. */
  private lazy val embeddingNeardupLshWideSql = {
    val weight = """(('0x' || substr(md5(p.p::VARCHAR || '_' || i::VARCHAR), 1, 15))::BIGINT
      | / 576460752303423488.0 - 1.0)""".stripMargin
    s"""WITH $plantedCorpusCte,
       |wv AS (SELECT greatest(8,
       |    (SELECT min(b.b) FROM range(0, 48) b(b)
       |     WHERE (16::BIGINT << b.b) >= (SELECT count(*) FROM corpus))) AS rpb),
       |proj AS (
       |  SELECT c.vec_id, p.p,
       |    list_sum([c.v[i + 1] * $weight FOR i IN range(0, len(c.v))]) AS pr
       |  FROM corpus c, wv, range(0, 124) p(p) WHERE p.p < 2 * wv.rpb),
       |banded AS (
       |  SELECT vec_id, CAST(p // wv.rpb AS INT) AS band,
       |    CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << (p % wv.rpb))
       |      ELSE 0::BIGINT END) AS BIGINT) AS bucket
       |  FROM proj, wv GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, bb.vec_id AS id_b
       |  FROM banded a JOIN banded bb USING (band, bucket)
       |  WHERE a.vec_id < bb.vec_id),
       |scored AS (
       |  SELECT id_a, id_b, ${cosSql("ca.v", "cb.v")} AS cos
       |  FROM cand
       |  JOIN corpus ca ON ca.vec_id = id_a
       |  JOIN corpus cb ON cb.vec_id = id_b)
       |SELECT id_a, id_b, round(cos, 6) AS cosine
       |FROM scored WHERE cos >= 0.9 ORDER BY id_a, id_b""".stripMargin
  }

  /** SQL twin of [[graft.operators.Similarity.knnGraph]] on the planted
    * corpus: the embeddingNeardupLshSql candidate machinery (md5 plane
    * weights, auto-sized signature via autoRpbCte, 2 bands) made DIRECTED, then the
    * per-node (cos DESC, nbr ASC) row_number top-3. */
  private val knnGraphSql = {
    val weight = """(('0x' || substr(md5(p.p::VARCHAR || '_' || i::VARCHAR), 1, 15))::BIGINT
      | / 576460752303423488.0 - 1.0)""".stripMargin
    s"""WITH $plantedCorpusCte,
       |${autoRpbCte("corpus")},
       |proj AS (
       |  SELECT c.vec_id, p.p,
       |    list_sum([c.v[i + 1] * $weight FOR i IN range(0, len(c.v))]) AS pr
       |  FROM corpus c, w, range(0, 62) p(p) WHERE p.p < 2 * w.rpb),
       |sig AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS sig
       |  FROM proj GROUP BY vec_id),
       |banded AS (
       |  SELECT vec_id, b.b AS band,
       |    (sig >> (b.b * w.rpb)) & ((1::BIGINT << w.rpb) - 1) AS bucket
       |  FROM sig, w, range(0, 2) b(b)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id, bb.vec_id AS nbr
       |  FROM banded a JOIN banded bb USING (band, bucket)
       |  WHERE a.vec_id <> bb.vec_id),
       |scored AS (
       |  SELECT id, nbr, ${cosSql("ca.v", "cb.v")} AS cos
       |  FROM cand
       |  JOIN corpus ca ON ca.vec_id = id
       |  JOIN corpus cb ON cb.vec_id = nbr),
       |ranked AS (
       |  SELECT id, nbr, cos,
       |    CAST(row_number() OVER (PARTITION BY id ORDER BY cos DESC, nbr) AS INT) AS rank
       |  FROM scored)
       |SELECT id, nbr, round(cos, 6) AS cosine, rank FROM ranked
       |WHERE rank <= 3 ORDER BY id, rank""".stripMargin
  }

  /** SQL twin of [[graft.operators.Similarity.knnGraphQuantized]] on the
    * planted corpus: the knnGraphSql candidate machinery, then SQ8
    * params/encode/dequant (the sq8Ctes arithmetic, planted-corpus
    * flavor), approximate-cosine top-(3*4) survivors per node, and the
    * exact-cosine top-3 re-rank over the survivors. */
  /** Shared SQ8 verify tail (twin of Similarity.quantizedVerifyTopK on
    * the planted corpus): params, dequantized vectors, ADC scores over
    * `cand`, top-12 survivors, exact-cosine re-rank. Prefixed by any
    * CTE set that defines `corpus` and `cand`. */
  private val quantizedVerifyCtes =
    s"""prm AS (
       |  SELECT i, min(v[i]) AS mn, max(v[i]) - min(v[i]) AS wd
       |  FROM corpus CROSS JOIN generate_series(1, 64) AS t(i) GROUP BY i),
       |pm AS (SELECT list(mn ORDER BY i) AS mins, list(wd ORDER BY i) AS wds FROM prm),
       |dq AS (
       |  SELECT vec_id,
       |    list_transform(range(1, 65), i ->
       |      mins[i] + CAST(CASE WHEN wds[i] = 0 THEN 0 ELSE
       |          least(255.0, greatest(0.0,
       |            floor((v[i] - mins[i]) / wds[i] * 255.0 + 0.5)))
       |        END AS DOUBLE) * wds[i] / 255.0) AS cv
       |  FROM corpus CROSS JOIN pm),
       |qs AS (
       |  SELECT cand.id, cand.nbr, ${cosSql("da.cv", "db.cv")} AS qcos
       |  FROM cand
       |  JOIN dq da ON da.vec_id = cand.id
       |  JOIN dq db ON db.vec_id = cand.nbr),
       |sv AS (
       |  SELECT id, nbr FROM (
       |    SELECT id, nbr,
       |      row_number() OVER (PARTITION BY id ORDER BY qcos DESC, nbr) AS qr
       |    FROM qs) WHERE qr <= 12),
       |scored AS (
       |  SELECT id, nbr, ${cosSql("ca.v", "cb.v")} AS cos
       |  FROM sv
       |  JOIN corpus ca ON ca.vec_id = id
       |  JOIN corpus cb ON cb.vec_id = nbr),
       |ranked AS (
       |  SELECT id, nbr, cos,
       |    CAST(row_number() OVER (PARTITION BY id ORDER BY cos DESC, nbr) AS INT) AS rank
       |  FROM scored)""".stripMargin

  private val knnGraphQuantizedCtes = {
    val weight = """(('0x' || substr(md5(p.p::VARCHAR || '_' || i::VARCHAR), 1, 15))::BIGINT
      | / 576460752303423488.0 - 1.0)""".stripMargin
    s"""$plantedCorpusCte,
       |${autoRpbCte("corpus")},
       |proj AS (
       |  SELECT c.vec_id, p.p,
       |    list_sum([c.v[i + 1] * $weight FOR i IN range(0, len(c.v))]) AS pr
       |  FROM corpus c, w, range(0, 62) p(p) WHERE p.p < 2 * w.rpb),
       |sig AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS sig
       |  FROM proj GROUP BY vec_id),
       |banded AS (
       |  SELECT vec_id, b.b AS band,
       |    (sig >> (b.b * w.rpb)) & ((1::BIGINT << w.rpb) - 1) AS bucket
       |  FROM sig, w, range(0, 2) b(b)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id, bb.vec_id AS nbr
       |  FROM banded a JOIN banded bb USING (band, bucket)
       |  WHERE a.vec_id <> bb.vec_id),
       |$quantizedVerifyCtes""".stripMargin
  }

  /** Per-band-grouped SQL twin of
    * [[graft.operators.Similarity.knnGraphQuantized]] on the planted
    * corpus (bands = 2): per-band buckets computed DIRECTLY from each
    * band's plane range (bit at p % rpb, the `bandBuckets` layout),
    * width auto-sized without the 31-bit/band cap of [[autoRpbCte]],
    * then the shared SQ8 verify tail. Below that cap the buckets — and
    * therefore the whole result — equal [[knnGraphQuantizedSql]]'s. */
  private lazy val knnGraphQuantizedWideSql = {
    val weight = """(('0x' || substr(md5(p.p::VARCHAR || '_' || i::VARCHAR), 1, 15))::BIGINT
      | / 576460752303423488.0 - 1.0)""".stripMargin
    s"""WITH $plantedCorpusCte,
       |wv AS (SELECT greatest(8,
       |    (SELECT min(b.b) FROM range(0, 48) b(b)
       |     WHERE (16::BIGINT << b.b) >= (SELECT count(*) FROM corpus))) AS rpb),
       |proj AS (
       |  SELECT c.vec_id, p.p,
       |    list_sum([c.v[i + 1] * $weight FOR i IN range(0, len(c.v))]) AS pr
       |  FROM corpus c, wv, range(0, 124) p(p) WHERE p.p < 2 * wv.rpb),
       |banded AS (
       |  SELECT vec_id, CAST(p // wv.rpb AS INT) AS band,
       |    CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << (p % wv.rpb))
       |      ELSE 0::BIGINT END) AS BIGINT) AS bucket
       |  FROM proj, wv GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id, bb.vec_id AS nbr
       |  FROM banded a JOIN banded bb USING (band, bucket)
       |  WHERE a.vec_id <> bb.vec_id),
       |$quantizedVerifyCtes
       |SELECT id, nbr, round(cos, 6) AS cosine, rank FROM ranked
       |WHERE rank <= 3 ORDER BY id, rank""".stripMargin
  }

  private val knnGraphQuantizedSql =
    s"""WITH $knnGraphQuantizedCtes
       |SELECT id, nbr, round(cos, 6) AS cosine, rank FROM ranked
       |WHERE rank <= 3 ORDER BY id, rank""".stripMargin

  /** SQL twin of the semantic_communities composition — the graph
    * analogue of curation_pipeline: the knnGraphQuantized edge CTEs,
    * canonicalized undirected (least/greatest, distinct, self-loops
    * out), then the 4 exact-integer LPA vote rounds and the
    * per-community size rollup, all replayed CTE for CTE. */
  private lazy val semanticCommunitiesSql =
    s"""WITH $knnGraphQuantizedCtes,
       |p AS MATERIALIZED (
       |  SELECT DISTINCT least(id, nbr) AS a, greatest(id, nbr) AS b
       |  FROM ranked WHERE rank <= 3 AND id <> nbr),
       |nodes AS (SELECT a AS node FROM p UNION SELECT b FROM p),
       |adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM p
       |  UNION ALL SELECT b, a FROM p
       |  UNION ALL SELECT node, node FROM nodes),
       |l0 AS (SELECT node, node AS lbl FROM nodes),
       |${lpaRoundCtes(4)}
       |SELECT lbl AS label, count(*) AS n_members,
       |  min(node) AS min_member, max(node) AS max_member
       |FROM l4 GROUP BY 1 ORDER BY label""".stripMargin

  /** SQL twin of [[graft.operators.Similarity.knnGraphAgainstIndex]]
    * on the standing (vec_id >= 100) vs batch (< 100) split: md5
    * signatures for both populations at the width the INDEX BUILD
    * auto-sized to (autoRpbCte over the STANDING count — the frozen-
    * width rule; the batch bands at the build width, never its own),
    * bkey = band·2^rpb + bucket, batch-vs-standing candidates, SQ8
    * params FROZEN on the standing side, ADC top-(3·4) survivors,
    * exact-cosine top-3. */
  /** Incremental split + banding header, whole-width flavor:
    * standing/batch frames, the capped auto width on the STANDING count,
    * one md5 signature per vector shifted and masked per band,
    * bkey = band·2^rpb + bucket. Produces `bk`
    * for [[knnGraphIncrementalTailCtes]]. */
  private lazy val knnGraphIncrementalHeaderCtes = {
    val weight = """(('0x' || substr(md5(p.p::VARCHAR || '_' || i::VARCHAR), 1, 15))::BIGINT
      | / 576460752303423488.0 - 1.0)""".stripMargin
    s"""st AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id >= 100),
       |bt AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 100),
       |allp AS (SELECT * FROM st UNION ALL SELECT * FROM bt),
       |${autoRpbCte("st")},
       |proj AS (
       |  SELECT c.vec_id, p.p,
       |    list_sum([c.v[i + 1] * $weight FOR i IN range(0, len(c.v))]) AS pr
       |  FROM allp c, w, range(0, 62) p(p) WHERE p.p < 2 * w.rpb),
       |sig AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS sig
       |  FROM proj GROUP BY vec_id),
       |bk AS (
       |  SELECT vec_id,
       |    b.b * (1::BIGINT << w.rpb) + ((sig >> (b.b * w.rpb)) & ((1::BIGINT << w.rpb) - 1)) AS bkey
       |  FROM sig, w, range(0, 2) b(b))""".stripMargin
  }

  /** Same header, per-band-grouped: rpb auto-sized on the standing
    * count without the 31-bit cap of [[autoRpbCte]], per-band buckets
    * summed directly from each band's plane range (twin of
    * Similarity.bandBuckets through knnGraphIndex's bkey). */
  private lazy val knnGraphIncrementalWideHeaderCtes = {
    val weight = """(('0x' || substr(md5(p.p::VARCHAR || '_' || i::VARCHAR), 1, 15))::BIGINT
      | / 576460752303423488.0 - 1.0)""".stripMargin
    s"""st AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id >= 100),
       |bt AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 100),
       |allp AS (SELECT * FROM st UNION ALL SELECT * FROM bt),
       |wv AS (SELECT greatest(8,
       |    (SELECT min(b.b) FROM range(0, 48) b(b)
       |     WHERE (16::BIGINT << b.b) >= (SELECT count(*) FROM st))) AS rpb),
       |proj AS (
       |  SELECT c.vec_id, p.p,
       |    list_sum([c.v[i + 1] * $weight FOR i IN range(0, len(c.v))]) AS pr
       |  FROM allp c, wv, range(0, 124) p(p) WHERE p.p < 2 * wv.rpb),
       |bk AS (
       |  SELECT vec_id,
       |    CAST(p // wv.rpb AS BIGINT) * (1::BIGINT << wv.rpb) +
       |      CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << (p % wv.rpb))
       |        ELSE 0::BIGINT END) AS BIGINT) AS bkey
       |  FROM proj, wv GROUP BY vec_id, p // wv.rpb, wv.rpb)""".stripMargin
  }

  /** Shared incremental tail over any `bk` header: batch-vs-standing
    * candidates, SQ8 frozen on the standing side, ADC survivors,
    * exact-cosine top-3. */
  private lazy val knnGraphIncrementalTailCtes =
    s"""cand AS (
       |  SELECT DISTINCT q.vec_id AS id, s.vec_id AS nbr
       |  FROM (SELECT bk.* FROM bk JOIN bt ON bt.vec_id = bk.vec_id) q
       |  JOIN (SELECT bk.* FROM bk JOIN st ON st.vec_id = bk.vec_id) s USING (bkey)
       |  WHERE q.vec_id <> s.vec_id),
       |prm AS (
       |  SELECT i, min(v[i]) AS mn, max(v[i]) - min(v[i]) AS wd
       |  FROM st CROSS JOIN generate_series(1, 64) AS t(i) GROUP BY i),
       |pm AS (SELECT list(mn ORDER BY i) AS mins, list(wd ORDER BY i) AS wds FROM prm),
       |dq AS (
       |  SELECT vec_id,
       |    list_transform(range(1, 65), i ->
       |      mins[i] + CAST(CASE WHEN wds[i] = 0 THEN 0 ELSE
       |          least(255.0, greatest(0.0,
       |            floor((v[i] - mins[i]) / wds[i] * 255.0 + 0.5)))
       |        END AS DOUBLE) * wds[i] / 255.0) AS cv
       |  FROM allp CROSS JOIN pm),
       |qs AS (
       |  SELECT cand.id, cand.nbr, ${cosSql("da.cv", "db.cv")} AS qcos
       |  FROM cand
       |  JOIN dq da ON da.vec_id = cand.id
       |  JOIN dq db ON db.vec_id = cand.nbr),
       |sv AS (
       |  SELECT id, nbr FROM (
       |    SELECT id, nbr,
       |      row_number() OVER (PARTITION BY id ORDER BY qcos DESC, nbr) AS qr
       |    FROM qs) WHERE qr <= 12),
       |scored AS (
       |  SELECT id, nbr, ${cosSql("ca.v", "cb.v")} AS cos
       |  FROM sv JOIN bt ca ON ca.vec_id = id JOIN st cb ON cb.vec_id = nbr),
       |ranked AS (
       |  SELECT id, nbr, cos,
       |    CAST(row_number() OVER (PARTITION BY id ORDER BY cos DESC, nbr) AS INT) AS rank
       |  FROM scored)""".stripMargin

  private lazy val knnGraphIncrementalCtes =
    knnGraphIncrementalHeaderCtes + ",\n" + knnGraphIncrementalTailCtes

  private lazy val knnGraphIncrementalSql =
    s"""WITH $knnGraphIncrementalCtes
       |SELECT id, nbr, round(cos, 6) AS cosine, rank FROM ranked
       |WHERE rank <= 3 ORDER BY id, rank""".stripMargin

  /** SQL twin of knn_graph_incremental_wide: the WIDE header (uncapped
    * standing-count width, direct per-band buckets) through the same
    * shared tail — at this corpus size the widths coincide, so the
    * twin ALSO pins the families' equivalence on the ingest path. */
  private lazy val knnGraphIncrementalWideSql =
    s"""WITH $knnGraphIncrementalWideHeaderCtes,
       |$knnGraphIncrementalTailCtes
       |SELECT id, nbr, round(cos, 6) AS cosine, rank FROM ranked
       |WHERE rank <= 3 ORDER BY id, rank""".stripMargin

  /** SQL twin of the semantic_communities_incremental composition —
    * the ingestion consumer the persisted-index story implies: the
    * incremental batch-edge CTEs, PLUS the standing corpus's own
    * quantized edges (same frozen width and SQ8 ranges: candS is the
    * within-standing banded self-join, scored through the shared dq),
    * unioned and fed to the canonical LPA refresh. */
  /** The standing corpus's own quantized edges at the frozen index
    * width/ranges (candS is the within-standing banded self-join,
    * scored through the shared dq) — shared by the full-refresh and
    * localized-refresh incremental community twins. */
  private lazy val standingEdgeCtes =
    s"""candS AS (
       |  SELECT DISTINCT a.vec_id AS id, b.vec_id AS nbr
       |  FROM (SELECT bk.* FROM bk JOIN st ON st.vec_id = bk.vec_id) a
       |  JOIN (SELECT bk.* FROM bk JOIN st ON st.vec_id = bk.vec_id) b USING (bkey)
       |  WHERE a.vec_id <> b.vec_id),
       |qsS AS (
       |  SELECT candS.id, candS.nbr, ${cosSql("da.cv", "db.cv")} AS qcos
       |  FROM candS
       |  JOIN dq da ON da.vec_id = candS.id
       |  JOIN dq db ON db.vec_id = candS.nbr),
       |svS AS (
       |  SELECT id, nbr FROM (
       |    SELECT id, nbr,
       |      row_number() OVER (PARTITION BY id ORDER BY qcos DESC, nbr) AS qr
       |    FROM qsS) WHERE qr <= 12),
       |scoredS AS (
       |  SELECT id, nbr, ${cosSql("ca.v", "cb.v")} AS cos
       |  FROM svS JOIN st ca ON ca.vec_id = id JOIN st cb ON cb.vec_id = nbr),
       |rankedS AS (
       |  SELECT id, nbr, cos,
       |    CAST(row_number() OVER (PARTITION BY id ORDER BY cos DESC, nbr) AS INT) AS rank
       |  FROM scoredS)""".stripMargin

  private lazy val semanticCommunitiesIncrementalSql =
    s"""WITH $knnGraphIncrementalCtes,
       |$standingEdgeCtes,
       |alle AS (
       |  SELECT id, nbr FROM rankedS WHERE rank <= 3
       |  UNION ALL SELECT id, nbr FROM ranked WHERE rank <= 3),
       |p AS MATERIALIZED (
       |  SELECT DISTINCT least(id, nbr) AS a, greatest(id, nbr) AS b
       |  FROM alle WHERE id <> nbr),
       |nodes AS (SELECT a AS node FROM p UNION SELECT b FROM p),
       |adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM p
       |  UNION ALL SELECT b, a FROM p
       |  UNION ALL SELECT node, node FROM nodes),
       |l0 AS (SELECT node, node AS lbl FROM nodes),
       |${lpaRoundCtes(4)}
       |SELECT lbl AS label, count(*) AS n_members,
       |  min(node) AS min_member, max(node) AS max_member
       |FROM l4 GROUP BY 1 ORDER BY label""".stripMargin

  /** SQL twin of the semantic_communities_incremental_auto composition
    * — the refresh front door on the expander: the standing labels are
    * the persisted community state (4 LPA rounds over the standing
    * edges only, the s-prefixed rounds), the batch gets its edges from
    * the incremental probe, and because the 4-hop ball around the batch
    * endpoints covers more than half the kNN graph the dispatcher
    * takes the FULL seeded branch — 4 unrestricted vote rounds over
    * the whole union adjacency seeded from the standing labels
    * ([[graft.operators.Communities.labelPropagationFromOnAdj]]
    * replayed CTE for CTE; the branch decision itself is pinned by
    * RefreshDispatchSpec and the ball measurement in SCALING.md). */
  private lazy val semanticCommunitiesIncrementalAutoSql =
    s"""WITH $knnGraphIncrementalCtes,
       |$standingEdgeCtes,
       |pS AS MATERIALIZED (
       |  SELECT DISTINCT least(id, nbr) AS a, greatest(id, nbr) AS b
       |  FROM rankedS WHERE rank <= 3 AND id <> nbr),
       |nodesS AS (SELECT a AS node FROM pS UNION SELECT b FROM pS),
       |adjS AS MATERIALIZED (SELECT a AS node, b AS nbr FROM pS
       |  UNION ALL SELECT b, a FROM pS
       |  UNION ALL SELECT node, node FROM nodesS),
       |sl0 AS (SELECT node, node AS lbl FROM nodesS),
       |${lpaRoundCtes(4, adj = "adjS", pfx = "s")},
       |alle AS (
       |  SELECT id, nbr FROM rankedS WHERE rank <= 3
       |  UNION ALL SELECT id, nbr FROM ranked WHERE rank <= 3),
       |p AS MATERIALIZED (
       |  SELECT DISTINCT least(id, nbr) AS a, greatest(id, nbr) AS b
       |  FROM alle WHERE id <> nbr),
       |nodes AS (SELECT a AS node FROM p UNION SELECT b FROM p),
       |adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM p
       |  UNION ALL SELECT b, a FROM p
       |  UNION ALL SELECT node, node FROM nodes),
       |l0 AS MATERIALIZED (
       |  SELECT n.node, coalesce(s.lbl, n.node) AS lbl
       |  FROM nodes n LEFT JOIN sl4 s ON s.node = n.node),
       |${lpaRoundCtes(4)}
       |SELECT lbl AS label, count(*) AS n_members,
       |  min(node) AS min_member, max(node) AS max_member
       |FROM l4 GROUP BY 1 ORDER BY label""".stripMargin

  /** SQL twin of the dedup_clusters_incremental_auto composition — the
    * refresh front door on the bounded-component dup graph, where the
    * dispatcher takes the LOCAL branch (ball fraction 0.23 at sf0.01 /
    * 0.02 at sf0.1): standing jaccard pairs (both ids >= 50), standing
    * LPA seeds, batch pairs (any id < 50), the 4-hop frontier around
    * the batch endpoints, and 4 vote rounds restricted to the frontier
    * with everything outside frozen at its seed —
    * [[graft.operators.Communities.labelPropagationLocalOnAdj]]
    * replayed CTE for CTE over the [[jaccardCtes]] shingle algebra. */
  private lazy val dedupClustersIncrementalAutoSql =
    s"""WITH ${jaccardCtes("documents")},
       |p0 AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM cand
       |  WHERE $jaccardExprSql >= 0.8),
       |pS AS (SELECT a, b FROM p0 WHERE a >= 50 AND b >= 50),
       |pB AS MATERIALIZED (SELECT a, b FROM p0 WHERE a < 50 OR b < 50),
       |nodesS AS (SELECT a AS node FROM pS UNION SELECT b FROM pS),
       |adjS AS MATERIALIZED (SELECT a AS node, b AS nbr FROM pS
       |  UNION ALL SELECT b, a FROM pS
       |  UNION ALL SELECT node, node FROM nodesS),
       |sl0 AS (SELECT node, node AS lbl FROM nodesS),
       |${lpaRoundCtes(4, adj = "adjS", pfx = "s")},
       |p AS MATERIALIZED (SELECT DISTINCT a, b FROM
       |  (SELECT a, b FROM pS UNION ALL SELECT a, b FROM pB)),
       |nodes AS (SELECT a AS node FROM p UNION SELECT b FROM p),
       |adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM p
       |  UNION ALL SELECT b, a FROM p
       |  UNION ALL SELECT node, node FROM nodes),
       |dirty AS (SELECT a AS node FROM pB UNION SELECT b FROM pB),
       |f0 AS (SELECT node FROM nodes WHERE node IN (SELECT node FROM dirty)),
       |${frontierCtes(2)},
       |fr AS MATERIALIZED (SELECT node FROM f2),
       |l0 AS MATERIALIZED (
       |  SELECT n.node, coalesce(s.lbl, n.node) AS lbl
       |  FROM nodes n LEFT JOIN sl4 s ON s.node = n.node),
       |adjf AS MATERIALIZED (
       |  SELECT adj.node, adj.nbr FROM adj
       |  WHERE adj.node IN (SELECT node FROM fr)),
       |${lpaLocalRoundCtes(2)}
       |SELECT lbl AS label, count(*) AS n_members,
       |  min(node) AS min_member, max(node) AS max_member
       |FROM l2 GROUP BY 1 ORDER BY label""".stripMargin

  /** SQL twin of [[graft.operators.Similarity.hubness]] over the
    * quantized kNN edges: the edge CTEs + a nbr-keyed count + the
    * corpus spine left-join (anti-hubs kept at 0). */
  private lazy val knnHubnessSql =
    s"""WITH $knnGraphQuantizedCtes,
       |occ AS (
       |  SELECT nbr AS node, count(*) AS k_occurrence
       |  FROM ranked WHERE rank <= 3 GROUP BY 1)
       |SELECT c.vec_id AS node,
       |  CAST(COALESCE(occ.k_occurrence, 0) AS BIGINT) AS k_occurrence
       |FROM corpus c LEFT JOIN occ ON occ.node = c.vec_id
       |ORDER BY node""".stripMargin

  /** SQL twin of the semantic_communities_hubcapped composition: the
    * quantized edge CTEs, the capHubEdges in-degree window (per-nbr
    * row_number over cos DESC, id ASC, keep <= 3), then the canonical
    * undirected LPA machinery and the size rollup — the hubness
    * remedy's effect on the communities, replayed CTE for CTE. */
  private lazy val semanticCommunitiesHubcappedSql =
    s"""WITH $knnGraphQuantizedCtes,
       |capped AS (
       |  SELECT id, nbr FROM (
       |    SELECT id, nbr,
       |      row_number() OVER (PARTITION BY nbr ORDER BY cos DESC, id) AS occ
       |    FROM ranked WHERE rank <= 3) WHERE occ <= 3),
       |p AS MATERIALIZED (
       |  SELECT DISTINCT least(id, nbr) AS a, greatest(id, nbr) AS b
       |  FROM capped WHERE id <> nbr),
       |nodes AS (SELECT a AS node FROM p UNION SELECT b FROM p),
       |adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM p
       |  UNION ALL SELECT b, a FROM p
       |  UNION ALL SELECT node, node FROM nodes),
       |l0 AS (SELECT node, node AS lbl FROM nodes),
       |${lpaRoundCtes(4)}
       |SELECT lbl AS label, count(*) AS n_members,
       |  min(node) AS min_member, max(node) AS max_member
       |FROM l4 GROUP BY 1 ORDER BY label""".stripMargin

  /** SQL twin of knn_graph_mutual: an edge survives only when the
    * reversed (nbr, id) pair is also a surviving edge. */
  private lazy val knnGraphMutualSql =
    s"""WITH $knnGraphQuantizedCtes
       |SELECT r.id, r.nbr, round(r.cos, 6) AS cosine, r.rank
       |FROM ranked r
       |JOIN ranked s ON s.id = r.nbr AND s.nbr = r.id AND s.rank <= 3
       |WHERE r.rank <= 3 ORDER BY r.id, r.rank""".stripMargin

  /** Shared CTEs for the embedding_drift twins: quantized per-dim
    * integer means (shift-positive floor division, shift subtracted
    * back) for the raw snapshot and its deterministic +0.05-on-even-
    * dims mutation. */
  private val embeddingDriftCtes =
    """e AS (SELECT vec_id, embedding FROM embeddings
      |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
      |o AS (SELECT unnest(range(0, 64)) AS pos,
      |        CAST(floor((CAST(unnest(embedding) AS DOUBLE) + 8.0) * 1e6 + 0.5) AS BIGINT) AS xq
      |      FROM e),
      |om AS (SELECT pos, CAST(sum(xq) AS BIGINT) // count(*) - 8000000 AS mo
      |       FROM o GROUP BY 1),
      |ne AS (SELECT vec_id,
      |         [CASE WHEN i % 2 = 0 THEN CAST(embedding[i + 1] AS DOUBLE) + 0.05
      |               ELSE CAST(embedding[i + 1] AS DOUBLE) END
      |          FOR i IN range(0, 64)] AS v
      |       FROM e),
      |n AS (SELECT unnest(range(0, 64)) AS pos,
      |        CAST(floor((unnest(v) + 8.0) * 1e6 + 0.5) AS BIGINT) AS xq
      |      FROM ne),
      |nm AS (SELECT pos, CAST(sum(xq) AS BIGINT) // count(*) - 8000000 AS mn
      |       FROM n GROUP BY 1)""".stripMargin

  private lazy val embeddingDriftSql =
    s"""WITH $embeddingDriftCtes
       |SELECT CAST(om.pos AS INT) AS pos, om.mo AS mean_old_micro,
       |  nm.mn AS mean_new_micro, nm.mn - om.mo AS delta_micro
       |FROM om JOIN nm USING (pos) ORDER BY pos""".stripMargin

  private lazy val embeddingDriftSummarySql =
    s"""WITH $embeddingDriftCtes,
       |j AS (SELECT om.mo, nm.mn, nm.mn - om.mo AS d
       |      FROM om JOIN nm USING (pos))
       |SELECT count(*) AS n_dims,
       |  round(CAST(sum(CAST(mo AS DECIMAL(38,0)) * CAST(mn AS DECIMAL(38,0))) AS DOUBLE)
       |    / (sqrt(CAST(sum(CAST(mo AS DECIMAL(38,0)) * CAST(mo AS DECIMAL(38,0))) AS DOUBLE))
       |       * sqrt(CAST(sum(CAST(mn AS DECIMAL(38,0)) * CAST(mn AS DECIMAL(38,0))) AS DOUBLE))), 6)
       |    AS centroid_cosine,
       |  max(abs(d)) AS max_abs_delta_micro
       |FROM j""".stripMargin

  /** SQL twin of the semantic_quota_sample composition: the
    * semanticCommunities CTEs through l4, then sampleNPerStratum's
    * seeded md5 hash order (the sample_n_per_stratum twin) with
    * label as the stratum. */
  private lazy val semanticQuotaSampleSql =
    s"""WITH $knnGraphQuantizedCtes,
       |p AS MATERIALIZED (
       |  SELECT DISTINCT least(id, nbr) AS a, greatest(id, nbr) AS b
       |  FROM ranked WHERE rank <= 3 AND id <> nbr),
       |nodes AS (SELECT a AS node FROM p UNION SELECT b FROM p),
       |adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM p
       |  UNION ALL SELECT b, a FROM p
       |  UNION ALL SELECT node, node FROM nodes),
       |l0 AS (SELECT node, node AS lbl FROM nodes),
       |${lpaRoundCtes(4)}
       |SELECT node, label FROM (
       |  SELECT node, lbl AS label, row_number() OVER (
       |    PARTITION BY lbl
       |    ORDER BY md5(CAST(node AS VARCHAR) || ':7'), node) AS rn
       |  FROM l4) WHERE rn <= 2 ORDER BY label, node""".stripMargin

  /** Exact replica of [[graft.operators.Paths.randomWalks]] (2 walks x
    * 3 steps) on the sparse co-supply graph: ranked adjacency, then one
    * MATERIALIZED CTE per step replaying the md5 neighbor choice. */
  /** The co-supply graph + rank-ordered adjacency the walk twins share:
    * `p` (canonical pairs), `nodes`, `adj` (node, nbr, idx, deg). */
  private lazy val walkGraphCtes =
    """hi AS (SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity >= 50),
      |p AS MATERIALIZED (
      |  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
      |  FROM hi x JOIN hi y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey),
      |nodes AS (SELECT a AS node FROM p UNION SELECT b FROM p),
      |sym AS (SELECT a AS node, b AS nbr FROM p UNION ALL SELECT b, a FROM p),
      |adj AS MATERIALIZED (
      |  SELECT node, nbr,
      |    CAST(row_number() OVER (PARTITION BY node ORDER BY nbr) - 1 AS BIGINT) AS idx,
      |    count(*) OVER (PARTITION BY node) AS deg
      |  FROM sym)""".stripMargin

  /** The uniform md5-transition walk corpus (2 walks x 3 steps) as a
    * `wlk(start, walk_no, step, node)` CTE — shared by the walk oracles
    * and the skip-gram pair rollup. */
  private lazy val randomWalkCtes = {
    def pick(t: Int) =
      "('0x' || substr(md5(s.start::VARCHAR || '|' || s.walk_no::VARCHAR" +
        s" || '|$t|' || s.cur::VARCHAR), 1, 8))::BIGINT % adj.deg"
    val stepCtes = (1 to 3).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT s.start, s.walk_no, adj.nbr AS cur
         |  FROM w${t - 1} s JOIN adj ON adj.node = s.cur AND adj.idx = ${pick(t)})""".stripMargin
    }.mkString(",\n")
    val selects = (0 to 3).map(t =>
      s"SELECT start, walk_no, CAST($t AS INT) AS step, cur AS node FROM w$t")
      .mkString("\n  UNION ALL ")
    s"""$walkGraphCtes,
       |w0 AS MATERIALIZED (
       |  SELECT node AS start, CAST(w.w AS INT) AS walk_no, node AS cur
       |  FROM nodes, range(0, 2) w(w)),
       |$stepCtes,
       |wlk AS MATERIALIZED (
       |  $selects)""".stripMargin
  }

  private lazy val randomWalksSql =
    s"""WITH $randomWalkCtes
       |SELECT start, walk_no, step, node FROM wlk
       |ORDER BY start, walk_no, step""".stripMargin

  /** SQL twin of [[graft.operators.Paths.walkSkipgramPairs]] over the
    * full center range: every same-walk position pair within the
    * window, rolled up to counts — the walk CTEs plus one
    * step-distance self-join. */
  private lazy val walkSkipgramPairsSql =
    s"""WITH $randomWalkCtes
       |SELECT c.node AS center, x.node AS context, count(*) AS n_pairs
       |FROM wlk c JOIN wlk x
       |  ON c.start = x.start AND c.walk_no = x.walk_no
       |  AND x.step <> c.step AND abs(x.step - c.step) <= 2
       |GROUP BY 1, 2 ORDER BY center, context""".stripMargin

  /** Twin of [[graft.operators.Paths.skipgramNodeEmbeddings]] over the
    * walk corpus: the skip-gram rollup, PPMI quantized to nano-nats,
    * each cell exploded over 16 projection dims with md5 weights in
    * [-1, 1), micro-unit integer term sums. */
  private lazy val walkNodeEmbeddingsSql =
    s"""WITH $randomWalkCtes,
       |sg AS (
       |  SELECT c.node AS center, x.node AS context, count(*) AS n_pairs
       |  FROM wlk c JOIN wlk x
       |    ON c.start = x.start AND c.walk_no = x.walk_no
       |    AND x.step <> c.step AND abs(x.step - c.step) <= 2
       |  GROUP BY 1, 2),
       |egt AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS N FROM sg),
       |ect AS (SELECT center, CAST(sum(n_pairs) AS BIGINT) AS nc FROM sg GROUP BY 1),
       |ext AS (SELECT context, CAST(sum(n_pairs) AS BIGINT) AS nx FROM sg GROUP BY 1),
       |eppmi AS (
       |  SELECT center, context,
       |    greatest(0, CAST(floor(ln((CAST(n_pairs AS DOUBLE) * N)
       |      / (CAST(nc AS DOUBLE) * nx)) * 1e9) AS BIGINT)) AS ppmi_q
       |  FROM sg JOIN ect USING (center) JOIN ext USING (context), egt),
       |enz AS (SELECT center, context, ppmi_q FROM eppmi WHERE ppmi_q > 0),
       |eterm AS (
       |  SELECT center, j.j AS j,
       |    CAST(floor(((CAST(ppmi_q AS DOUBLE) / 1e9)
       |      * (('0x' || substr(md5(context::VARCHAR || '_' || j.j::VARCHAR), 1, 15))::BIGINT
       |         / 576460752303423488.0 - 1.0))
       |      * 1e6) AS BIGINT) AS tq
       |  FROM enz, range(0, 16) j(j)),
       |eemb AS (SELECT center, j, CAST(sum(tq) AS BIGINT) AS sq FROM eterm GROUP BY 1, 2)
       |SELECT center AS node, CAST(j AS BIGINT) AS j,
       |  round(CAST(sq AS DOUBLE) / 1e6, 6) AS weight
       |FROM eemb ORDER BY node, j""".stripMargin

  /** The walk-embedding chain (sg/PPMI/projection at dim 16) as
    * reusable CTEs — shared by the walk_node_embeddings twin above and
    * the graph_semantic_communities composition twin below. */
  private lazy val walkEmbeddingCtes =
    s"""sg AS (
       |  SELECT c.node AS center, x.node AS context, count(*) AS n_pairs
       |  FROM wlk c JOIN wlk x
       |    ON c.start = x.start AND c.walk_no = x.walk_no
       |    AND x.step <> c.step AND abs(x.step - c.step) <= 2
       |  GROUP BY 1, 2),
       |egt AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS N FROM sg),
       |ect AS (SELECT center, CAST(sum(n_pairs) AS BIGINT) AS nc FROM sg GROUP BY 1),
       |ext AS (SELECT context, CAST(sum(n_pairs) AS BIGINT) AS nx FROM sg GROUP BY 1),
       |eppmi AS (
       |  SELECT center, context,
       |    greatest(0, CAST(floor(ln((CAST(n_pairs AS DOUBLE) * N)
       |      / (CAST(nc AS DOUBLE) * nx)) * 1e9) AS BIGINT)) AS ppmi_q
       |  FROM sg JOIN ect USING (center) JOIN ext USING (context), egt),
       |enz AS (SELECT center, context, ppmi_q FROM eppmi WHERE ppmi_q > 0),
       |eterm AS (
       |  SELECT center, j.j AS j,
       |    CAST(floor(((CAST(ppmi_q AS DOUBLE) / 1e9)
       |      * (('0x' || substr(md5(context::VARCHAR || '_' || j.j::VARCHAR), 1, 15))::BIGINT
       |         / 576460752303423488.0 - 1.0))
       |      * 1e6) AS BIGINT) AS tq
       |  FROM enz, range(0, 16) j(j)),
       |eemb AS (SELECT center, j, CAST(sum(tq) AS BIGINT) AS sq FROM eterm GROUP BY 1, 2)""".stripMargin

  /** SQL twin of the graph_semantic_communities composition: the walk
    * corpus, the dim-16 PPMI/JL embeddings assembled into lists
    * (zero-norm dropped, the Spark dot > 0 guard), the md5-banded
    * auto-width kNN machinery at dim 16 (SQ8 verify at rerank 4, exact
    * cosine top-3), then 4 LPA vote rounds and the size rollup —
    * embeddings the engine MADE from pure graph structure, clustered
    * by the same machinery the given-embedding entries use. */
  private lazy val graphSemanticCommunitiesSql = {
    val weight = """(('0x' || substr(md5(p.p::VARCHAR || '_' || i::VARCHAR), 1, 15))::BIGINT
      | / 576460752303423488.0 - 1.0)""".stripMargin
    s"""WITH $randomWalkCtes,
       |$walkEmbeddingCtes,
       |corpus0 AS (
       |  SELECT center AS vec_id, list(CAST(sq AS DOUBLE) / 1e6 ORDER BY j) AS v
       |  FROM eemb GROUP BY center),
       |corpus AS (SELECT vec_id, v FROM corpus0 WHERE list_inner_product(v, v) > 0),
       |${autoRpbCte("corpus")},
       |proj AS (
       |  SELECT c.vec_id, p.p,
       |    list_sum([c.v[i + 1] * $weight FOR i IN range(0, len(c.v))]) AS pr
       |  FROM corpus c, w, range(0, 62) p(p) WHERE p.p < 2 * w.rpb),
       |sig AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS sig
       |  FROM proj GROUP BY vec_id),
       |banded AS (
       |  SELECT vec_id, b.b AS band,
       |    (sig >> (b.b * w.rpb)) & ((1::BIGINT << w.rpb) - 1) AS bucket
       |  FROM sig, w, range(0, 2) b(b)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id, bb.vec_id AS nbr
       |  FROM banded a JOIN banded bb USING (band, bucket)
       |  WHERE a.vec_id <> bb.vec_id),
       |prm AS (
       |  SELECT i, min(v[i]) AS mn, max(v[i]) - min(v[i]) AS wd
       |  FROM corpus CROSS JOIN generate_series(1, 16) AS t(i) GROUP BY i),
       |pm AS (SELECT list(mn ORDER BY i) AS mins, list(wd ORDER BY i) AS wds FROM prm),
       |dq AS (
       |  SELECT vec_id,
       |    list_transform(range(1, 17), i ->
       |      mins[i] + CAST(CASE WHEN wds[i] = 0 THEN 0 ELSE
       |          least(255.0, greatest(0.0,
       |            floor((v[i] - mins[i]) / wds[i] * 255.0 + 0.5)))
       |        END AS DOUBLE) * wds[i] / 255.0) AS cv
       |  FROM corpus CROSS JOIN pm),
       |qs AS (
       |  SELECT cand.id, cand.nbr, ${cosSql("da.cv", "db.cv")} AS qcos
       |  FROM cand
       |  JOIN dq da ON da.vec_id = cand.id
       |  JOIN dq db ON db.vec_id = cand.nbr),
       |sv AS (
       |  SELECT id, nbr FROM (
       |    SELECT id, nbr,
       |      row_number() OVER (PARTITION BY id ORDER BY qcos DESC, nbr) AS qr
       |    FROM qs) WHERE qr <= 12),
       |scored AS (
       |  SELECT id, nbr, ${cosSql("ca.v", "cb.v")} AS cos
       |  FROM sv
       |  JOIN corpus ca ON ca.vec_id = id
       |  JOIN corpus cb ON cb.vec_id = nbr),
       |ranked AS (
       |  SELECT id, nbr, cos,
       |    CAST(row_number() OVER (PARTITION BY id ORDER BY cos DESC, nbr) AS INT) AS rank
       |  FROM scored),
       |cp AS MATERIALIZED (
       |  SELECT DISTINCT least(id, nbr) AS a, greatest(id, nbr) AS b
       |  FROM ranked WHERE rank <= 3 AND id <> nbr),
       |cnodes AS (SELECT a AS node FROM cp UNION SELECT b FROM cp),
       |cadj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM cp
       |  UNION ALL SELECT b, a FROM cp
       |  UNION ALL SELECT node, node FROM cnodes),
       |l0 AS (SELECT node, node AS lbl FROM cnodes),
       |${lpaRoundCtes(4, adj = "cadj")}
       |SELECT lbl AS label, count(*) AS n_members,
       |  min(node) AS min_member, max(node) AS max_member
       |FROM l4 GROUP BY 1 ORDER BY label""".stripMargin
  }

  /** SQL twin of [[graft.operators.Paths.randomWalksBiased]] (2 walks x
    * 3 steps, wReturn=4, wCommon=2, wOut=1): step 1 is the uniform
    * index pick; each later step classifies every neighbor of `cur`
    * against `prev` (return / common-with-prev via the canonical pair
    * table / out), folds cumulative weights over the rank order, and
    * picks the neighbor whose interval contains the md5 draw mod the
    * walker's total weight — exact integer arithmetic end to end. */
  private lazy val randomWalksBiasedSql = {
    def draw(t: Int, src: String) =
      s"('0x' || substr(md5($src.start::VARCHAR || '|' || $src.walk_no::VARCHAR" +
        s" || '|$t|' || $src.cur::VARCHAR), 1, 8))::BIGINT"
    val stepCtes = (2 to 3).map { t =>
      s"""cand$t AS (
         |  SELECT s.start, s.walk_no, s.cur, adj.nbr, adj.idx,
         |    CASE WHEN adj.nbr = s.prev THEN 4
         |         WHEN e.a IS NOT NULL THEN 2 ELSE 1 END AS wt
         |  FROM b${t - 1} s
         |  JOIN adj ON adj.node = s.cur
         |  LEFT JOIN p e ON e.a = least(s.prev, adj.nbr)
         |    AND e.b = greatest(s.prev, adj.nbr)),
         |cum$t AS (
         |  SELECT start, walk_no, cur, nbr, wt,
         |    sum(wt) OVER (PARTITION BY start, walk_no ORDER BY idx) AS cw,
         |    sum(wt) OVER (PARTITION BY start, walk_no) AS tw
         |  FROM cand$t),
         |b$t AS MATERIALIZED (
         |  SELECT start, walk_no, cur AS prev, nbr AS cur FROM cum$t c
         |  WHERE c.cw - c.wt <= ${draw(t, "c")} % c.tw
         |    AND ${draw(t, "c")} % c.tw < c.cw)""".stripMargin
    }.mkString(",\n")
    val selects = (0 to 3).map(t =>
      s"SELECT start, walk_no, CAST($t AS INT) AS step, cur AS node FROM b$t")
      .mkString("\nUNION ALL ")
    s"""WITH $walkGraphCtes,
       |b0 AS MATERIALIZED (
       |  SELECT node AS start, CAST(w.w AS INT) AS walk_no, node AS prev, node AS cur
       |  FROM nodes, range(0, 2) w(w)),
       |b1 AS MATERIALIZED (
       |  SELECT s.start, s.walk_no, s.cur AS prev, adj.nbr AS cur
       |  FROM b0 s JOIN adj ON adj.node = s.cur
       |    AND adj.idx = ${draw(1, "s")} % adj.deg),
       |$stepCtes
       |$selects
       |ORDER BY start, walk_no, step""".stripMargin
  }

  /** SQL twin of the curation_pipeline composition: the text_stats
    * quality/token expressions + the lang_id argmax + the jaccard
    * dropped-set, with the pair stage running over the FILTERED survivors
    * exactly as the Spark side chains them. */
  private lazy val curationPipelineSql = {
    val tk = """regexp_split_to_array(lower(trim(text)), '\s+')"""
    val tkRaw = """regexp_split_to_array(trim(text), '\s+')"""
    def hits(markers: Seq[String]) =
      s"len(list_filter($tk, x -> list_contains([${markers.map("'" + _ + "'").mkString(", ")}], x)))"
    val en = hits(Seq("the", "and", "is", "of", "to"))
    val de = hits(Seq("der", "die", "das", "und", "ist"))
    val fr = hits(Seq("le", "la", "et", "les", "est"))
    val es = hits(Seq("el", "los", "y", "es", "las"))
    s"""WITH langc AS (SELECT doc_id, text, $en AS en, $de AS de, $fr AS fr, $es AS es FROM documents),
       |scored AS (
       |  SELECT doc_id, text,
       |    CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
       |         WHEN en = greatest(en, de, fr, es) THEN 'en'
       |         WHEN de = greatest(en, de, fr, es) THEN 'de'
       |         WHEN fr = greatest(en, de, fr, es) THEN 'fr'
       |         WHEN es = greatest(en, de, fr, es) THEN 'es'
       |         ELSE 'und' END AS lang,
       |    $qualityExprSql AS quality,
       |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($tkRaw) END AS BIGINT) AS n_tokens
       |  FROM langc),
       |kept AS (SELECT * FROM scored WHERE quality >= 0.5 AND n_tokens >= 10),
       |${jaccardCtes("kept")},
       |dropped AS (
       |  SELECT DISTINCT id_b FROM cand
       |  WHERE $jaccardExprSql >= 0.8)
       |SELECT doc_id, lang, quality, n_tokens FROM kept
       |WHERE doc_id NOT IN (SELECT id_b FROM dropped)
       |ORDER BY doc_id""".stripMargin
  }

  /** Exact replica of [[graft.operators.Triangles.kCore]] (k=3) on the
    * sparse co-supply graph: 8 unrolled peel rounds — at or beyond the
    * graph's fixpoint depth, and peeling is idempotent after
    * convergence, so a fixed unroll equals the early-stopping loop. */
  /** Exact replica of [[graft.operators.Communities.labelPropagation]]'s
    * 4 synchronous vote rounds on the sparse co-supply graph — one
    * (votes, argmax) CTE pair per round, MATERIALIZED so DuckDB does
    * not re-inline the round chain exponentially (the kcoreSql rule). */
  /** The LPA vote rounds (one CTE pair per round: per-label vote counts,
    * then the most-votes/smallest-label winner) over whatever `adj` and
    * `l0` the surrounding WITH defines — shared by the co-supply LPA
    * oracles and the semantic_communities composition. */
  private def lpaRoundCtes(n: Int, adj: String = "adj", pfx: String = ""): String =
    (1 to n).map { i =>
      s"""${pfx}v$i AS MATERIALIZED (
         |  SELECT $adj.node, l.lbl, count(*) AS c
         |  FROM $adj JOIN ${pfx}l${i - 1} l ON l.node = $adj.nbr GROUP BY 1, 2),
         |${pfx}l$i AS MATERIALIZED (SELECT node, lbl FROM (
         |  SELECT node, lbl,
         |    row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
         |  FROM ${pfx}v$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** The LOCALIZED LPA vote rounds: identical vote/argmax arithmetic,
    * but votes are counted only FOR frontier nodes (`adjf` = union
    * adjacency restricted to node ∈ fr) and each round's labeling is
    * the frontier winners UNIONed with the untouched labels of
    * everything outside `fr` — the frozen-outside-the-blast-radius
    * semantic of [[graft.operators.Communities.labelPropagationLocal]]. */
  private def lpaLocalRoundCtes(n: Int): String = (1 to n).map { i =>
    s"""v$i AS MATERIALIZED (
       |  SELECT adjf.node, l.lbl, count(*) AS c
       |  FROM adjf JOIN l${i - 1} l ON l.node = adjf.nbr GROUP BY 1, 2),
       |l$i AS MATERIALIZED (
       |  SELECT node, lbl FROM (
       |    SELECT node, lbl,
       |      row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
       |    FROM v$i) WHERE rn = 1
       |  UNION ALL
       |  SELECT node, lbl FROM l${i - 1}
       |  WHERE node NOT IN (SELECT node FROM fr))""".stripMargin
  }.mkString(",\n")

  /** `hops` rounds of frontier expansion over the union `adj` (which
    * carries self-loop rows, so each round is a superset of the last
    * and f`hops` IS the ball). */
  private def frontierCtes(hops: Int): String = (1 to hops).map { i =>
    s"""f$i AS MATERIALIZED (
       |  SELECT DISTINCT adj.node
       |  FROM adj JOIN f${i - 1} f ON f.node = adj.nbr)""".stripMargin
  }.mkString(",\n")

  private lazy val lpaCtes = {
    val rounds = lpaRoundCtes(4)
    s"""hi AS (SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity >= 48),
       |p AS MATERIALIZED (
       |  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
       |  FROM hi x JOIN hi y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey),
       |nodes AS (SELECT a AS node FROM p UNION SELECT b FROM p),
       |adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM p
       |  UNION ALL SELECT b, a FROM p
       |  UNION ALL SELECT node, node FROM nodes),
       |l0 AS (SELECT node, node AS lbl FROM nodes),
       |$rounds""".stripMargin
  }

  private lazy val lpaSql =
    s"""WITH $lpaCtes
       |SELECT node, lbl AS label FROM l4 ORDER BY node""".stripMargin

  /** Newman modularity of the l4 labeling in the exact integer closed
    * form q_num/q_den, q_num = 4m*intra - sum_c(d_c^2), q_den = 4m^2 —
    * one IEEE division then round(6), identical to the Spark twin. */
  private lazy val lpaModularitySql =
    s"""WITH $lpaCtes,
       |mm AS (SELECT count(*) AS m FROM p),
       |intra AS (
       |  SELECT count(*) AS i FROM p
       |  JOIN l4 la ON la.node = p.a
       |  JOIN l4 lb ON lb.node = p.b
       |  WHERE la.lbl = lb.lbl),
       |dsq AS (SELECT CAST(sum(dc * dc) AS BIGINT) AS s FROM (
       |  SELECT l4.lbl, count(*) AS dc
       |  FROM (SELECT a AS node FROM p UNION ALL SELECT b FROM p) t
       |  JOIN l4 ON l4.node = t.node GROUP BY 1))
       |SELECT mm.m AS n_edges, intra.i AS intra_edges,
       |  CAST(4 * mm.m * intra.i - dsq.s AS BIGINT) AS q_num,
       |  CAST(4 * mm.m * mm.m AS BIGINT) AS q_den,
       |  round(CAST(4 * mm.m * intra.i - dsq.s AS DOUBLE)
       |    / (4 * mm.m * mm.m), 6) AS modularity
       |FROM mm, intra, dsq""".stripMargin

  private lazy val kcoreSql = {
    def degKeep(p: String, i: Int) =
      s"""d$i AS MATERIALIZED (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT a AS node FROM $p UNION ALL SELECT b FROM $p)
         |  GROUP BY 1),
         |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= 3),
         |p$i AS MATERIALIZED (
         |  SELECT a, b FROM $p
         |  WHERE a IN (SELECT node FROM k$i) AND b IN (SELECT node FROM k$i))""".stripMargin
    val rounds = (1 to 8).map(i => degKeep(if (i == 1) "p0" else s"p${i - 1}", i)).mkString(",\n")
    s"""WITH hi AS (SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity >= 48),
       |p0 AS MATERIALIZED (
       |  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
       |  FROM hi x JOIN hi y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey),
       |$rounds,
       |fin AS (
       |  SELECT node, count(*) AS core_degree FROM (
       |    SELECT a AS node FROM p8 UNION ALL SELECT b FROM p8)
       |  GROUP BY 1)
       |SELECT node, core_degree FROM fin WHERE core_degree >= 3
       |ORDER BY node""".stripMargin
  }

  /** Exact replica of [[graft.operators.Paths.bfsDistances]] (maxHops=4,
    * seeds = every 10th supplier) on the sparse (quantity = 50)
    * co-supply graph: one (frontier, visited) MATERIALIZED CTE pair per
    * unrolled round; rounds past frontier exhaustion add nothing, so
    * the fixed unroll equals the operator's early-stopping loop. */
  private lazy val bfsHopsSql = {
    val rounds = (1 to 4).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT DISTINCT adj.nbr AS node FROM adj
         |  JOIN f${i - 1} f ON f.node = adj.node
         |  WHERE adj.nbr NOT IN (SELECT node FROM v${i - 1})),
         |v$i AS MATERIALIZED (
         |  SELECT node, dist FROM v${i - 1}
         |  UNION ALL SELECT node, $i AS dist FROM f$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH hi AS (SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity >= 50),
       |p AS MATERIALIZED (
       |  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
       |  FROM hi x JOIN hi y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey),
       |adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM p UNION ALL SELECT b, a FROM p),
       |v0 AS MATERIALIZED (
       |  SELECT s_suppkey AS node, 0 AS dist FROM supplier WHERE s_suppkey % 10 = 0),
       |f0 AS (SELECT node FROM v0),
       |$rounds
       |SELECT node, CAST(dist AS INT) AS dist FROM v4 ORDER BY node""".stripMargin
  }

  /** Exact replica of [[graft.operators.Communities.connectedComponents]]
    * on the sparse (quantity = 50) co-supply graph: min-label
    * propagation over the closed neighborhood, unrolled 20 MATERIALIZED
    * rounds — 2x+ the measured propagation depth (9 rounds at sf0.01);
    * propagation is idempotent at the fixpoint, and the contraction's
    * converged label IS the component minimum, which propagation also
    * converges to — so the two different algorithms meet at the same
    * exact answer (the strongest kind of oracle: independent method,
    * identical fixpoint). */
  private lazy val connectedComponentsSql = {
    val rounds = (1 to 20).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT n.node, least(n.l, coalesce(min(p$i.l), n.l)) AS l
         |  FROM c${i - 1} n
         |  LEFT JOIN adj ON adj.node = n.node
         |  LEFT JOIN c${i - 1} p$i ON p$i.node = adj.nbr
         |  GROUP BY n.node, n.l)""".stripMargin
    }.mkString(",\n")
    s"""WITH hi AS (SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity >= 50),
       |p AS MATERIALIZED (
       |  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
       |  FROM hi x JOIN hi y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey),
       |nodes AS (SELECT a AS node FROM p UNION SELECT b FROM p),
       |adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM p UNION ALL SELECT b, a FROM p),
       |c0 AS (SELECT node, node AS l FROM nodes),
       |$rounds
       |SELECT node, l AS component FROM c20 ORDER BY node""".stripMargin
  }

  /** Exact replica of [[Similarity.mmrRerank]] (candidateK=10, m=5,
    * lambda=0.7) on the planted corpus: the same top-10 exact-cosine
    * candidates, then the 5 greedy steps UNROLLED — step i scores every
    * unselected candidate `0.7*rel - (1.0 - 0.7)*greatest(sims to the
    * i-1 picks)` (sims = dot over the same per-element-normalized
    * vectors) and takes the (score DESC, id ASC) argmax. Identical
    * IEEE op order throughout, so the selection replays exactly. */
  private lazy val mmrRerankSql = {
    val steps = (2 to 5).map { i =>
      val prev = (1 until i).map(j => s"s$j")
      val joins = prev.map(p => s"JOIN $p ON c.query_id = $p.query_id AND c.corpus_id <> $p.corpus_id").mkString("\n  ")
      val sims = prev.map(p => s"list_inner_product(c.vn, $p.vn)").mkString(", ")
      val scoreExpr = s"CAST(0.7 AS DOUBLE) * c.rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * greatest($sims)"
      s"""s$i AS (
         |  SELECT query_id, corpus_id, sc AS mmr, vn FROM (
         |    SELECT c.query_id, c.corpus_id, c.vn, $scoreExpr AS sc,
         |      row_number() OVER (PARTITION BY c.query_id
         |        ORDER BY ($scoreExpr) DESC, c.corpus_id ASC) AS rn
         |    FROM cand c
         |  $joins)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val s1Score = "CAST(0.7 AS DOUBLE) * rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * CAST(0 AS DOUBLE)"
    s"""WITH $plantedCorpusCte,
       |q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 3),
       |sc0 AS (
       |  SELECT query_id, c.vec_id AS corpus_id, ${cosSql("c.v", "qv")} AS rel,
       |    list_transform(c.v, x -> x / sqrt(list_inner_product(c.v, c.v))) AS vn
       |  FROM corpus c JOIN q ON c.vec_id <> query_id),
       |cand AS (
       |  SELECT query_id, corpus_id, rel, vn FROM (
       |    SELECT sc0.*, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, corpus_id ASC) AS rk FROM sc0)
       |  WHERE rk <= 10),
       |s1 AS (
       |  SELECT query_id, corpus_id, $s1Score AS mmr, vn FROM (
       |    SELECT cand.*, row_number() OVER (PARTITION BY query_id
       |      ORDER BY ($s1Score) DESC, corpus_id ASC) AS rn FROM cand)
       |  WHERE rn = 1),
       |$steps,
       |allsel AS (
       |${(1 to 5).map(i => s"  SELECT query_id, corpus_id, mmr, $i AS step FROM s$i").mkString("\n  UNION ALL\n")})
       |SELECT query_id, corpus_id, round(mmr, 6) AS mmr_score, CAST(step AS INTEGER) AS step
       |FROM allsel ORDER BY query_id, step""".stripMargin
  }

  /** Exact replica of the SQ8 pipeline: per-dimension min/width, the
    * clamped floor((x-min)/width*255 + 0.5) quantizer, dequantize
    * min + c*width/255, then the [[topkForQueriesSql]] cosine ranking
    * over the reconstructed vectors. */
  private val sq8Ctes =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |p AS (
       |  SELECT i, min(v[i]) AS mn, max(v[i]) - min(v[i]) AS wd
       |  FROM e CROSS JOIN generate_series(1, 64) AS t(i) GROUP BY i),
       |pm AS (SELECT list(mn ORDER BY i) AS mins, list(wd ORDER BY i) AS wds FROM p),
       |c AS (
       |  SELECT vec_id AS corpus_id,
       |    list_transform(range(1, 65), i ->
       |      mins[i] + CAST(CASE WHEN wds[i] = 0 THEN 0 ELSE
       |          least(255.0, greatest(0.0,
       |            floor((v[i] - mins[i]) / wds[i] * 255.0 + 0.5)))
       |        END AS DOUBLE) * wds[i] / 255.0) AS cv
       |  FROM e CROSS JOIN pm),
       |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |      FROM embeddings WHERE vec_id < 5),
       |s AS (
       |  SELECT query_id, corpus_id, ${cosSql("cv", "qv")} AS cos
       |  FROM c JOIN q ON corpus_id <> query_id),
       |r AS (
       |  SELECT query_id, corpus_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS INTEGER) AS rank
       |  FROM s)""".stripMargin

  private val sq8TopkSql =
    s"""WITH $sq8Ctes
       |SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Retrieval-metrics twin: the sq8 ranked table as results, an exact
    * cosine ranking as truth (k=5 both), then closed-form recall@5 /
    * MRR from integer hit counts and the min matched rank. */
  private lazy val retrievalMetricsSql =
    s"""WITH $sq8Ctes,
       |tr AS (
       |  SELECT query_id, corpus_id FROM (
       |    SELECT query_id, c2.vec_id AS corpus_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY ${cosSql("c2.v", "qv")} DESC, c2.vec_id ASC) AS trk
       |    FROM e c2 JOIN q ON c2.vec_id <> query_id)
       |  WHERE trk <= 5),
       |ts AS (SELECT query_id, count(*) AS n_truth FROM tr GROUP BY 1),
       |h AS (
       |  SELECT r.query_id, count(*) AS n_hits, min(r.rank) AS first_rank
       |  FROM r JOIN tr ON r.query_id = tr.query_id AND r.corpus_id = tr.corpus_id
       |  WHERE r.rank <= 5 GROUP BY 1),
       |m AS (
       |  SELECT ts.query_id,
       |    CAST(coalesce(h.n_hits, 0) AS DOUBLE) / ts.n_truth AS recall,
       |    CASE WHEN h.first_rank IS NOT NULL
       |         THEN CAST(1.0 AS DOUBLE) / h.first_rank ELSE 0.0 END AS mrr
       |  FROM ts LEFT JOIN h ON ts.query_id = h.query_id)
       |SELECT query_id, round(recall, 6) AS recall, round(mrr, 6) AS mrr
       |FROM m ORDER BY query_id""".stripMargin

  private val topkForQueriesSql =
    s"""WITH c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
       |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5),
       |s AS (
       |  SELECT query_id, corpus_id, ${cosSql("cv", "qv")} AS cos
       |  FROM c JOIN q ON corpus_id <> query_id),
       |r AS (
       |  SELECT query_id, corpus_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS INTEGER) AS rank
       |  FROM s)
       |SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** kNN vote twin: same neighbor CTEs as [[topkForQueriesSql]], then a
    * per-query (votes DESC, label ASC) argmax. */
  private val knnClassifySql =
    s"""WITH c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv,
       |    CAST(label AS BIGINT) AS label FROM embeddings),
       |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5),
       |s AS (
       |  SELECT query_id, corpus_id, label, ${cosSql("cv", "qv")} AS cos
       |  FROM c JOIN q ON corpus_id <> query_id),
       |r AS (
       |  SELECT query_id, label,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
       |  FROM s),
       |v AS (
       |  SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes
       |  FROM r WHERE rank <= 5 GROUP BY 1, 2),
       |b AS (
       |  SELECT query_id, label, votes,
       |    row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label ASC) AS rn,
       |    CAST(sum(votes) OVER (PARTITION BY query_id) AS BIGINT) AS n_neighbors
       |  FROM v)
       |SELECT query_id, label, votes, n_neighbors
       |FROM b WHERE rn = 1 ORDER BY query_id""".stripMargin

  private lazy val ivfPqResidualSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cents AS (SELECT vec_id AS cell, v,
      |    list_sum(list_transform(v, x -> x * x)) AS cn
      |  FROM e WHERE vec_id < 8),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |assign AS (
      |  SELECT e.vec_id, c.cell,
      |    c.cn - 2 * list_sum(list_transform(range(1, 65), j -> e.v[j] * c.v[j])) AS d
      |  FROM e, cents c),
      |cellof AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
      |    FROM assign) WHERE rn = 1),
      |probes AS (
      |  SELECT cell FROM (
      |    SELECT c.cell, row_number() OVER (ORDER BY
      |      list_sum(list_transform(range(1, 65), j -> (c.v[j] - q.qv[j]) * (c.v[j] - q.qv[j]))) ASC,
      |      c.cell ASC) AS rn
      |    FROM cents c, q) WHERE rn <= 2),
      |res AS (
      |  SELECT e.vec_id, co.cell,
      |    list_transform(range(1, 65), j -> e.v[j] - c.v[j]) AS rv
      |  FROM e JOIN cellof co ON e.vec_id = co.vec_id JOIN cents c ON co.cell = c.cell),
      |cb AS (SELECT vec_id AS code, rv AS v FROM res WHERE vec_id < 16),
      |subs AS (SELECT i AS sub FROM generate_series(0, 7) t(i)),
      |dist AS (
      |  SELECT r.vec_id, s.sub, c.code,
      |    floor(list_sum(list_transform(range(1, 9),
      |      j -> (r.rv[s.sub*8 + j] - c.v[s.sub*8 + j]) * (r.rv[s.sub*8 + j] - c.v[s.sub*8 + j]))) * 1e9 + 0.5)
      |    / 1e9 AS d
      |  FROM res r, subs s, cb c
      |  WHERE r.cell IN (SELECT cell FROM probes)),
      |enc AS (
      |  SELECT vec_id, sub, code,
      |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, code ASC) AS rn
      |  FROM dist),
      |qres AS (
      |  SELECT c.cell, list_transform(range(1, 65), j -> q.qv[j] - c.v[j]) AS rqv
      |  FROM cents c, q WHERE c.cell IN (SELECT cell FROM probes)),
      |lut AS (
      |  SELECT qr.cell, s.sub, c.code,
      |    floor(list_sum(list_transform(range(1, 9),
      |      j -> (qr.rqv[s.sub*8 + j] - c.v[s.sub*8 + j]) * (qr.rqv[s.sub*8 + j] - c.v[s.sub*8 + j]))) * 1e9 +
      |    0.5) / 1e9 AS d
      |  FROM qres qr, subs s, cb c),
      |adc AS (
      |  SELECT enc.vec_id AS id, round(list_sum(list(lut.d ORDER BY enc.sub)), 6) AS adc
      |  FROM enc
      |  JOIN res r ON enc.vec_id = r.vec_id
      |  JOIN lut ON lut.cell = r.cell AND lut.sub = enc.sub AND lut.code = enc.code
      |  WHERE enc.rn = 1
      |  GROUP BY 1)
      |SELECT id, adc FROM adc ORDER BY adc ASC, id ASC LIMIT 10""".stripMargin

  private lazy val ivfPqSql =
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cell, v,
        |    list_sum(list_transform(v, x -> x * x)) AS cn
        |  FROM e WHERE vec_id < 8),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |assign AS (
        |  SELECT e.vec_id, c.cell,
        |    c.cn - 2 * list_sum(list_transform(range(1, 65), j -> e.v[j] * c.v[j])) AS d
        |  FROM e, cents c),
        |cellof AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
        |    FROM assign) WHERE rn = 1),
        |probes AS (
        |  SELECT cell FROM (
        |    SELECT c.cell, row_number() OVER (ORDER BY
        |      list_sum(list_transform(range(1, 65), j -> (c.v[j] - q.qv[j]) * (c.v[j] - q.qv[j]))) ASC,
        |      c.cell ASC) AS rn
        |    FROM cents c, q) WHERE rn <= 2),
        |cand AS (SELECT vec_id FROM cellof WHERE cell IN (SELECT cell FROM probes)),
        |cb AS (SELECT vec_id AS code, v FROM e WHERE vec_id < 16),
        |subs AS (SELECT i AS sub FROM generate_series(0, 7) t(i)),
        |dist AS (
        |  SELECT e.vec_id, s.sub, c.code,
        |    floor(list_sum(list_transform(range(1, 9),
        |      j -> (e.v[s.sub*8 + j] - c.v[s.sub*8 + j]) * (e.v[s.sub*8 + j] - c.v[s.sub*8 + j]))) * 1e9 + 0.5)
        |    / 1e9 AS d
        |  FROM e, subs s, cb c
        |  WHERE e.vec_id IN (SELECT vec_id FROM cand)),
        |enc AS (
        |  SELECT vec_id, sub, code,
        |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, code ASC) AS rn
        |  FROM dist),
        |lut AS (
        |  SELECT s.sub, c.code,
        |    floor(list_sum(list_transform(range(1, 9),
        |      j -> (q.qv[s.sub*8 + j] - c.v[s.sub*8 + j]) * (q.qv[s.sub*8 + j] - c.v[s.sub*8 + j]))) * 1e9 +
        |    0.5) / 1e9 AS d
        |  FROM q, subs s, cb c),
        |adc AS (
        |  SELECT enc.vec_id AS id, round(list_sum(list(lut.d ORDER BY enc.sub)), 6) AS adc
        |  FROM enc JOIN lut ON enc.sub = lut.sub AND enc.code = lut.code
        |  WHERE enc.rn = 1
        |  GROUP BY 1)
        |SELECT id, adc FROM adc ORDER BY adc ASC, id ASC LIMIT 10""".stripMargin

  /** Shared CTEs of the substring-dedup twins: plant the header, hash
    * positional 20-gram keys (md5-16 — same bytes as Spark's
    * `substring(md5(gram), 1, 16)`), inverted-index self-join, and the
    * diagonal gaps-and-islands merge into maximal spans. */
  private lazy val substringSpanCtes: String =
    s"""planted AS (
       |  SELECT doc_id, CASE WHEN doc_id % 101 = 0
       |    THEN '$LicenseHeader' || ' ' || text ELSE text END AS text
       |  FROM documents),
       |toks AS (SELECT doc_id AS id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM planted),
       |gl AS (
       |  SELECT id, [substr(md5(array_to_string(t[i + 1 : i + 20], ' ')), 1, 16)
       |    FOR i IN range(0, len(t) - 19)] AS gs
       |  FROM toks WHERE len(t) >= 20),
       |grams AS (SELECT id, unnest(range(0, len(gs))) AS pos, unnest(gs) AS g FROM gl),
       |cand AS (
       |  SELECT a.id AS id_a, b.id AS id_b, a.pos AS pos_a, b.pos AS pos_b
       |  FROM grams a JOIN grams b ON a.g = b.g AND a.id < b.id),
       |runs AS (
       |  SELECT id_a, id_b, pos_a - pos_b AS diag, pos_a,
       |    pos_a - row_number() OVER (PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a) AS island
       |  FROM cand),
       |spans AS (
       |  SELECT id_a, id_b,
       |    CAST(min(pos_a) AS BIGINT) AS a_start,
       |    CAST(max(pos_a) + 19 AS BIGINT) AS a_end,
       |    CAST(min(pos_a) - diag AS BIGINT) AS b_start,
       |    CAST(max(pos_a) + 19 - diag AS BIGINT) AS b_end
       |  FROM runs GROUP BY id_a, id_b, diag, island)""".stripMargin

  /** Removal-set CTEs shared by the removal/apply twins: higher-id span
    * occurrences merged per doc into maximal disjoint intervals
    * (running-max gaps-and-islands; RANGE default frame on the island
    * sum = Spark's default, so tie rows land in the same island).
    * Expects [[substringSpanCtes]] bound earlier in the WITH chain. */
  private lazy val substringRemovalCtes: String =
    """bs AS (SELECT id_b AS doc_id, b_start AS s, b_end AS e FROM spans),
      |mm AS (SELECT doc_id, s, e,
      |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM bs),
      |isl AS (SELECT doc_id, s, e,
      |    sum(CASE WHEN pm IS NULL OR s > pm + 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY s, e) AS island
      |  FROM mm),
      |rem AS (SELECT doc_id, min(s) AS s, max(e) AS e
      |  FROM isl GROUP BY doc_id, island)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "split_histogram" -> histSelectSql,
    "cum_counts" -> cumSelectSql,
    "cum_counts_partitioned" -> cumSelectSql,
    "best_split_gain_entropy" -> bestSplitSql(Criterion.Entropy),
    "best_split_gain_gini" -> bestSplitSql(Criterion.Gini),
    "target_encoding" ->
      """SELECT category, CAST(row_number() OVER (ORDER BY avg_t ASC, category ASC) - 1 AS BIGINT) AS code
        |FROM (SELECT l_linestatus AS category, avg(CAST(l_quantity AS DOUBLE)) AS avg_t FROM lineitem GROUP BY 1)
        |ORDER BY code""".stripMargin,
    "majority_class" ->
      "SELECT l_returnflag AS target, count(*) AS n FROM lineitem GROUP BY 1 ORDER BY n DESC, target ASC LIMIT 1",
    "distinct_targets" ->
      "SELECT DISTINCT l_returnflag AS target FROM lineitem ORDER BY target",
    "class_distribution" ->
      "SELECT l_returnflag AS target, count(*) AS n FROM lineitem GROUP BY 1 ORDER BY target",
    "group_percentiles" ->
      """SELECT l_returnflag AS target,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.95), 6) AS p95
        |FROM lineitem GROUP BY 1 ORDER BY target""".stripMargin,
    // The Spark side computes the containment booleans genuinely (approx
    // vs in-plan exact brackets); the oracle's role is to pin them TRUE
    // for every group — any sketch regression flips a boolean and the
    // hash breaks.
    "group_percentiles_approx" ->
      """SELECT l_returnflag AS target,
        |  TRUE AS p50_in_bracket, TRUE AS p95_in_bracket
        |FROM lineitem GROUP BY 1 ORDER BY target""".stripMargin,
    // exact distinct count recomputed in DuckDB; the envelope boolean is
    // pinned TRUE — an HLL regression breaks the hash
    "group_distinct_approx" ->
      """WITH t AS (
        |  SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |  FROM documents)
        |SELECT lang, count(DISTINCT tok) AS exact, TRUE AS within_rsd
        |FROM t WHERE length(tok) > 0 GROUP BY 1 ORDER BY lang""".stripMargin,
    "split_partition_left" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
        |WHERE l_discount <= 0.05 ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""".stripMargin,
    "split_partition_right" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
        |WHERE NOT (l_discount <= 0.05) ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""".stripMargin,
    "predict_union" ->
      s"""SELECT l_orderkey, l_linenumber, $demoCaseSql AS prediction FROM lineitem
         |ORDER BY l_orderkey, l_linenumber, prediction""".stripMargin,
    "predict_expr" ->
      s"""SELECT l_orderkey, l_linenumber, $demoCaseSql AS prediction FROM lineitem
         |ORDER BY l_orderkey, l_linenumber, prediction""".stripMargin,
    "predict_union_rowindex" ->
      s"""SELECT row_number() OVER (ORDER BY ${LineitemCols.mkString(", ")}) - 1 AS temp_prediction_index,
         |  $demoCaseSql AS prediction
         |FROM lineitem ORDER BY temp_prediction_index""".stripMargin,
    "fill_null" ->
      """SELECT l_orderkey, l_linenumber,
        |  coalesce(CASE WHEN l_discount < 0.03 THEN NULL ELSE l_discount END, 0.0) AS d
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, d""".stripMargin,
    "csv_scan" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey, n_name, n_regionkey",
    "csv_target_encoding" ->
      """SELECT category, CAST(row_number() OVER (ORDER BY avg_t ASC, category ASC) - 1 AS BIGINT) AS code
        |FROM (SELECT n_name AS category, avg(CAST(n_regionkey AS DOUBLE)) AS avg_t FROM nation GROUP BY 1)
        |ORDER BY code""".stripMargin,
    "dedup_exact" ->
      ("SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies " +
        "FROM documents GROUP BY 1 ORDER BY text_hash"),
    "jaccard_pairs" -> jaccardSql,
    // the prefix-filtered twin is output-identical by the prefix
    // filtering principle — same oracle
    "jaccard_pairs_prefix" -> jaccardSql,
    // one SELECT per profiled column, unioned — count/distinct/bounds
    // are engine-exact on bigint/varchar
    "profile_columns" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      cols.map { c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_null, count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },
    // two profile blocks (one per snapshot) joined on column name;
    // deltas are exact integers, bounds_changed is IS DISTINCT FROM
    "profile_drift" -> {
      def block(table: String) = Seq("doc_id", "text").map { c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_null, count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS mn, CAST(max($c) AS VARCHAR) AS mx
           |FROM $table""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH docs AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
         |newsnap AS (
         |  SELECT doc_id, text FROM docs WHERE doc_id % 20 >= 5
         |  UNION ALL SELECT doc_id, text || ' rev2' FROM docs WHERE doc_id % 20 IN (3, 4)
         |  UNION ALL SELECT doc_id + 1000000, text FROM docs WHERE doc_id % 20 = 2
         |  UNION ALL SELECT doc_id + 3000000, 'fresh ' || CAST(doc_id AS VARCHAR)
         |    FROM docs WHERE doc_id % 20 = 5),
         |po AS (${block("docs")}),
         |pn AS (${block("newsnap")})
         |SELECT po.column_name,
         |  po.n_rows AS old_n_rows, pn.n_rows AS new_n_rows,
         |  pn.n_rows - po.n_rows AS rows_delta,
         |  po.n_null AS old_n_null, pn.n_null AS new_n_null,
         |  pn.n_null - po.n_null AS null_delta,
         |  po.n_distinct AS old_n_distinct, pn.n_distinct AS new_n_distinct,
         |  pn.n_distinct - po.n_distinct AS distinct_delta,
         |  (po.mn IS DISTINCT FROM pn.mn) OR (po.mx IS DISTINCT FROM pn.mx)
         |    AS bounds_changed
         |FROM po JOIN pn USING (column_name) ORDER BY column_name""".stripMargin
    },
    // quantize -> per-dim integer mean (floor division on shifted-
    // positive values) -> exact-long d2 -> CENTERED DECIMAL variance
    // sum around the floor-div quantized mean (never E[x2]-E[x]2) ->
    // one closed-form double z, identical IEEE op order to the Spark
    // side; zero spread keeps every row with z NULL / is_outlier false
    "embedding_outliers" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |q AS (SELECT vec_id, unnest(range(0, 64)) AS pos,
        |        CAST(floor((CAST(unnest(embedding) AS DOUBLE) + 8.0) * 1e6 + 0.5) AS BIGINT) AS xq
        |      FROM e),
        |m AS (SELECT pos, CAST(sum(xq) AS BIGINT) // count(*) AS mq FROM q GROUP BY 1),
        |d AS (SELECT q.vec_id, CAST(sum((q.xq - m.mq) * (q.xq - m.mq)) AS BIGINT) AS d2
        |      FROM q JOIN m USING (pos) GROUP BY 1),
        |st AS (SELECT count(*) AS cn,
        |         CAST(sum(CAST(d2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1
        |       FROM d),
        |mq2 AS (SELECT CAST(s1 // cn AS BIGINT) AS mq FROM st),
        |vs AS (SELECT CAST(sum(CAST(d2 - mq2.mq AS DECIMAL(38,0))
        |                     * CAST(d2 - mq2.mq AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS vs
        |       FROM d, mq2),
        |stz AS (SELECT cn, CAST(s1 AS DOUBLE) / cn AS mu,
        |         CAST(vs.vs AS DOUBLE) / cn AS varr, vs.vs AS vsum
        |       FROM st, vs)
        |SELECT d.vec_id, d.d2,
        |  CASE WHEN vsum > 0
        |    THEN round((CAST(d.d2 AS DOUBLE) - mu) / sqrt(varr), 6) END AS z,
        |  CASE WHEN vsum > 0
        |    THEN ((CAST(d.d2 AS DOUBLE) - mu) / sqrt(varr)) >= 2.0
        |    ELSE FALSE END AS is_outlier
        |FROM d, stz ORDER BY vec_id""".stripMargin,
    // exact RAKE replica: same stopword list, running-delimiter-count
    // phrase ids, (degree * 1e6) // freq word micros, integer phrase
    // sums, row_number top-3
    "rake_keyphrases" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+') AS tk
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(range(0, len(tk))) AS pos, unnest(tk) AS tok FROM toks),
        |seg AS (
        |  SELECT doc_id, pos, tok,
        |    CASE WHEN tok IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it')
        |         OR tok = '' THEN 1 ELSE 0 END AS is_delim,
        |    sum(CASE WHEN tok IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it')
        |         OR tok = '' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS phrase_id
        |  FROM tok),
        |w AS (SELECT doc_id, pos, tok, phrase_id,
        |        count(*) OVER (PARTITION BY doc_id, phrase_id) AS phrase_len
        |      FROM seg WHERE is_delim = 0),
        |ws AS (SELECT doc_id, tok,
        |         CAST((sum(phrase_len) * 1000000) // count(*) AS BIGINT) AS word_micro
        |       FROM w GROUP BY 1, 2),
        |pt AS (SELECT doc_id, phrase_id, string_agg(tok, ' ' ORDER BY pos) AS phrase
        |       FROM w GROUP BY 1, 2),
        |ps AS (SELECT w.doc_id, w.phrase_id, CAST(sum(ws.word_micro) AS BIGINT) AS score_micro
        |       FROM w JOIN ws ON ws.doc_id = w.doc_id AND ws.tok = w.tok GROUP BY 1, 2),
        |u AS (SELECT pt.doc_id, pt.phrase, min(ps.score_micro) AS score_micro
        |      FROM pt JOIN ps ON ps.doc_id = pt.doc_id AND ps.phrase_id = pt.phrase_id
        |      GROUP BY 1, 2)
        |SELECT doc_id, phrase, score_micro,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_micro DESC, phrase) AS INT) AS rank
        |FROM u QUALIFY rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // same shingle algebra, no candidate join: per-shingle df then a
    // per-doc rollup of the df >= 2 fraction
    "duplication_scores" ->
      """WITH toks AS (
        |  SELECT doc_id AS id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents),
        |sets AS (
        |  SELECT id,
        |    CASE WHEN len(tk) >= 3
        |      THEN list_distinct([array_to_string(tk[i + 1 : i + 3], ' ') FOR i IN range(0, len(tk) - 2)])
        |      ELSE list_distinct([array_to_string(tk, ' ')]) END AS sh
        |  FROM toks),
        |sized AS (SELECT id, len(sh) AS n_shingles, unnest(sh) AS shingle FROM sets),
        |dfreq AS (SELECT shingle, count(*) AS sh_df FROM sized GROUP BY 1)
        |SELECT sized.id AS doc_id, sized.n_shingles,
        |  CAST(sum(CASE WHEN dfreq.sh_df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles,
        |  round(CAST(sum(CASE WHEN dfreq.sh_df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / sized.n_shingles, 6) AS dup_frac
        |FROM sized JOIN dfreq USING (shingle)
        |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    // the mutated re-delivery replayed bucket for bucket, then the
    // md5 full-outer classification + min-witness move resolution
    "corpus_diff" ->
      """WITH docs AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
        |newsnap AS (
        |  SELECT doc_id, text FROM docs WHERE doc_id % 20 >= 5
        |  UNION ALL SELECT doc_id, text || ' rev2' FROM docs WHERE doc_id % 20 IN (3, 4)
        |  UNION ALL SELECT doc_id + 1000000, text FROM docs WHERE doc_id % 20 = 2
        |  UNION ALL SELECT doc_id + 3000000, 'fresh ' || CAST(doc_id AS VARCHAR)
        |    FROM docs WHERE doc_id % 20 = 5),
        |o AS (SELECT doc_id AS id, md5(text) AS old_hash FROM docs),
        |n AS (SELECT doc_id AS id, md5(text) AS new_hash FROM newsnap),
        |j AS (
        |  SELECT coalesce(o.id, n.id) AS id, old_hash, new_hash,
        |    CASE WHEN old_hash IS NULL THEN 'added'
        |         WHEN new_hash IS NULL THEN 'removed'
        |         WHEN old_hash = new_hash THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM o FULL OUTER JOIN n ON o.id = n.id),
        |w AS (SELECT old_hash AS h, min(id) AS moved_from FROM j
        |      WHERE status = 'removed' GROUP BY 1)
        |SELECT j.id, j.status, j.old_hash, j.new_hash,
        |  CASE WHEN j.status = 'added' THEN w.moved_from END AS moved_from
        |FROM j LEFT JOIN w ON j.status = 'added' AND j.new_hash = w.h
        |ORDER BY id""".stripMargin,
    // same shingle/candidate CTEs over documents + the planted excerpts;
    // both directed containments from each unordered candidate
    "containment_pairs" ->
      s"""WITH ccorp AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000,
         |    array_to_string(list_slice(regexp_split_to_array(lower(trim(text)), '\\s+'), 1, 40), ' ')
         |  FROM documents WHERE doc_id < 10),
         |${jaccardCtes("ccorp")},
         |dirs AS (
         |  SELECT id_a AS id_sub, id_b AS id_super, n_common / size_a AS containment FROM cand
         |  UNION ALL
         |  SELECT id_b, id_a, n_common / size_b FROM cand)
         |SELECT id_sub, id_super, round(containment, 6) AS containment
         |FROM dirs WHERE containment >= 0.9
         |ORDER BY id_sub, id_super""".stripMargin,
    // exact top-20 trigram document frequencies — valid against the MG
    // sketch because capacity=32768 > sf0.01's distinct trigram count
    // (the sketch's exact regime; same shingle recipe as jaccardCtes)
    "hot_grams" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents),
        |sets AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 3
        |      THEN list_distinct([array_to_string(tk[i + 1 : i + 3], ' ') FOR i IN range(0, len(tk) - 2)])
        |      ELSE list_distinct([array_to_string(tk, ' ')]) END AS sh
        |  FROM toks),
        |g AS (SELECT unnest(sh) AS gram FROM sets)
        |SELECT gram, count(*) AS df FROM g
        |GROUP BY 1 ORDER BY df DESC, gram ASC LIMIT 20""".stripMargin,
    // exact per-language top-5 terms — valid against the per-group MG
    // sketch in its exact regime (capacity > per-language vocabulary);
    // max_err pinned at 0
    "hot_terms_per_lang" ->
      """WITH toks AS (
        |  SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |c AS (SELECT lang, term, count(*) AS n FROM toks
        |      WHERE length(term) > 0 GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, term, n, CAST(0 AS BIGINT) AS max_err,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, term ASC) AS INTEGER) AS rank
        |  FROM c)
        |SELECT lang, term, n, max_err, rank
        |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
    // independent connected components: brute-force distance-1 pairs,
    // then recursive min-label propagation to fixpoint
    "fuzzy_clusters" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        |  FROM customer a JOIN customer b
        |    ON a.c_custkey < b.c_custkey AND levenshtein(a.c_name, b.c_name) <= 1),
        |e AS (SELECT id_a AS id, id_b AS nbr FROM e0
        |      UNION ALL SELECT id_b AS id, id_a AS nbr FROM e0),
        |cc(id, lbl) AS (
        |  SELECT c_custkey, c_custkey FROM customer
        |  UNION
        |  SELECT e.id, cc.lbl FROM e JOIN cc ON cc.id = e.nbr)
        |SELECT id AS c_custkey, min(lbl) AS cluster_id
        |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin,
    // full interpolated-KN replica: same tokenization, same double-op
    // sequence, per-doc sum ordered by bigram = the Spark side's sorted
    // in-row fold
    "kneser_ney_score" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
        |  FROM documents),
        |b AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2, s.w1 || ' ' || s.w2 AS bg
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |          i -> {'w1': tk[i], 'w2': tk[i + 1]})) AS s
        |        FROM t WHERE len(tk) >= 2)),
        |c AS (SELECT w1, w2, count(*) AS c FROM b GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c) AS c1, count(*) AS n1p FROM c GROUP BY 1),
        |cont AS (SELECT w2, count(*) AS ncont FROM c GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS bt FROM c),
        |p AS (SELECT c.w1 || ' ' || c.w2 AS bg,
        |    ln(greatest(CAST(c.c AS DOUBLE) - 0.75, 0) / CAST(c1.c1 AS DOUBLE)
        |      + (0.75 * CAST(c1.n1p AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
        |        * (CAST(cont.ncont AS DOUBLE) / (SELECT bt FROM tot))) AS logp
        |  FROM c JOIN c1 USING (w1) JOIN cont USING (w2)),
        |db AS (SELECT doc_id, bg, count(*) AS cd FROM b GROUP BY 1, 2),
        |s AS (SELECT doc_id, sum(cd) AS n_bigrams,
        |    sum(cd * logp ORDER BY bg) AS lsum
        |  FROM db JOIN p USING (bg) GROUP BY 1)
        |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |  round(lsum / n_bigrams, 6) AS avg_logp
        |FROM s ORDER BY doc_id""".stripMargin,
    // exact top-20 token counts + constant-true contract booleans (the
    // group_percentiles_approx pattern: DuckDB checks the exact side and
    // the CONTRACT, not the sketch internals)
    "cms_token_counts" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token FROM documents),
        |top AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS n_exact FROM toks
        |  GROUP BY 1 ORDER BY n_exact DESC, token ASC LIMIT 20)
        |SELECT token, n_exact, TRUE AS lower_ok, TRUE AS upper_ok
        |FROM top ORDER BY n_exact DESC, token ASC""".stripMargin,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_incremental_indexed" -> dedupIncrementalSql,
    // brute-force n^2 levenshtein — the exhaustive semantics the blocked
    // FastSS join must reproduce exactly
    "fuzzy_join" ->
      """SELECT a.c_custkey AS a_c_custkey, b.c_custkey AS b_c_custkey,
        |  a.c_name AS a_c_name, b.c_name AS b_c_name,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY a_c_custkey, b_c_custkey""".stripMargin,
    // bloom gate oracle: a batch doc is new iff its normalized-content
    // fingerprint (the same md5 recipe as the Spark side) never appears
    // in the corpus half — the bloom filter only prunes, never decides
    "dedup_incremental_bloom" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS f
        |  FROM documents),
        |batch AS (
        |  SELECT doc_id, f FROM fp WHERE doc_id >= 400
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, f FROM fp
        |  WHERE doc_id < 400 AND doc_id % 13 = 0)
        |SELECT b.doc_id FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM fp c WHERE c.doc_id < 400 AND c.f = b.f)
        |ORDER BY b.doc_id""".stripMargin,
    "substring_dedup_spans" ->
      s"""WITH $substringSpanCtes
         |SELECT id_a, id_b, a_start, a_end, b_start, b_end,
         |  a_end - a_start + 1 AS n_tokens
         |FROM spans ORDER BY id_a, id_b, a_start, b_start""".stripMargin,
    // removal twin: keep the higher-id side of every span, merge
    // overlapping/adjacent intervals per doc with the running-max
    // gaps-and-islands window (RANGE default frame on the island sum =
    // Spark's default, so tie rows land in the same island)
    "substring_dedup_removal" ->
      s"""WITH $substringSpanCtes,
         |$substringRemovalCtes
         |SELECT doc_id, s AS span_start, e AS span_end, e - s + 1 AS n_tokens
         |FROM rem ORDER BY doc_id, span_start""".stripMargin,
    // apply twin: surviving tokens = positions outside every merged
    // removal interval, re-joined in order; docs whose every token is
    // removed (exact-dup tails) survive as empty text via the left join
    "substring_dedup_apply" ->
      s"""WITH $substringSpanCtes,
         |$substringRemovalCtes,
         |tok AS (SELECT id, unnest(range(0, len(t))) AS pos, unnest(t) AS tk FROM toks),
         |kept AS (
         |  SELECT tok.id, tok.pos, tok.tk FROM tok
         |  WHERE NOT EXISTS (SELECT 1 FROM rem
         |    WHERE rem.doc_id = tok.id AND tok.pos BETWEEN rem.s AND rem.e)),
         |agg AS (SELECT id, string_agg(tk, ' ' ORDER BY pos) AS text2, count(*) AS nk
         |  FROM kept GROUP BY id)
         |SELECT toks.id AS doc_id, coalesce(agg.text2, '') AS text,
         |  CAST(len(toks.t) - coalesce(agg.nk, 0) AS BIGINT) AS n_removed
         |FROM toks LEFT JOIN agg ON toks.id = agg.id ORDER BY doc_id""".stripMargin,
    // within-doc line dedup: the planted-lines construction (10-token
    // lines, first line repeated on each 7th doc) is mirrored
    // token-exactly, then line i survives iff it is the first occurrence
    // (list_position = the Spark side's array_position form)
    "dedup_lines_within_doc" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    [array_to_string(toks[i*10+1 : i*10+10], ' ')
        |     FOR i IN range(0, CAST((len(toks) + 9) // 10 AS INT))] AS lines
        |  FROM t),
        |p AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN list_concat(lines, lines[1:1]) ELSE lines END AS lines
        |  FROM l),
        |k AS (
        |  SELECT doc_id, lines,
        |    list_filter(lines, (x, i) -> i = list_position(lines, x)) AS kept
        |  FROM p)
        |SELECT doc_id,
        |  CAST(len(lines) - len(kept) AS BIGINT) AS n_lines_removed,
        |  array_to_string(kept, chr(10)) AS text
        |FROM k ORDER BY doc_id""".stripMargin,
    // cross-doc line dedup: the planted-banner construction (10-token
    // reflow, BoilerLine prepended on each 11th doc) mirrored
    // token-exactly; a line is dropped everywhere iff its corpus-wide
    // DISTINCT-doc frequency >= 2 (raw line equality == the Spark side's
    // xxhash64 grouping key)
    "dedup_lines_cross_doc" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |l AS (
         |  SELECT doc_id,
         |    [array_to_string(toks[i*10+1 : i*10+10], ' ')
         |     FOR i IN range(0, CAST((len(toks) + 9) // 10 AS INT))] AS lines
         |  FROM t),
         |p AS (
         |  SELECT doc_id, CASE WHEN doc_id % 11 = 0
         |    THEN list_concat(['$BoilerLine'], lines) ELSE lines END AS lines
         |  FROM l),
         |e AS (
         |  SELECT doc_id, unnest(range(0, len(lines))) AS pos, unnest(lines) AS line
         |  FROM p),
         |hot AS (
         |  SELECT line FROM (
         |    SELECT line, count(DISTINCT doc_id) AS df FROM e GROUP BY line)
         |  WHERE df >= 2),
         |kept AS (
         |  SELECT e.doc_id, e.pos, e.line FROM e
         |  WHERE e.line NOT IN (SELECT line FROM hot)),
         |agg AS (
         |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text2,
         |    count(*) AS nk
         |  FROM kept GROUP BY doc_id)
         |SELECT p.doc_id,
         |  CAST(len(p.lines) - coalesce(agg.nk, 0) AS BIGINT) AS n_lines_removed,
         |  coalesce(agg.text2, '') AS text
         |FROM p LEFT JOIN agg ON p.doc_id = agg.doc_id ORDER BY p.doc_id""".stripMargin,
    // line-hygiene composition twin: same planted construction (both
    // axes), cross-doc distinct-doc-frequency removal, then within-doc
    // first-occurrence (min pos per (doc, line)) — counts from each
    // stage plus the surviving text
    "line_hygiene_pipeline" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |l AS (
         |  SELECT doc_id,
         |    [array_to_string(toks[i*10+1 : i*10+10], ' ')
         |     FOR i IN range(0, CAST((len(toks) + 9) // 10 AS INT))] AS lines
         |  FROM t),
         |rep AS (
         |  SELECT doc_id, CASE WHEN doc_id % 7 = 0
         |    THEN list_concat(lines, lines[1:1]) ELSE lines END AS lines
         |  FROM l),
         |p AS (
         |  SELECT doc_id, CASE WHEN doc_id % 11 = 0
         |    THEN list_concat(['$BoilerLine'], lines) ELSE lines END AS lines
         |  FROM rep),
         |e AS (
         |  SELECT doc_id, unnest(range(0, len(lines))) AS pos, unnest(lines) AS line
         |  FROM p),
         |hot AS (
         |  SELECT line FROM (
         |    SELECT line, count(DISTINCT doc_id) AS df FROM e GROUP BY line)
         |  WHERE df >= 2),
         |k1 AS (
         |  SELECT e.doc_id, e.pos, e.line FROM e
         |  WHERE e.line NOT IN (SELECT line FROM hot)),
         |k2 AS (
         |  SELECT doc_id, pos, line FROM (
         |    SELECT doc_id, pos, line,
         |      min(pos) OVER (PARTITION BY doc_id, line) AS first_pos
         |    FROM k1)
         |  WHERE pos = first_pos),
         |c1 AS (SELECT doc_id, count(*) AS n1 FROM k1 GROUP BY doc_id),
         |c2 AS (SELECT doc_id, count(*) AS n2,
         |    string_agg(line, chr(10) ORDER BY pos) AS text2
         |  FROM k2 GROUP BY doc_id)
         |SELECT p.doc_id,
         |  CAST(len(p.lines) - coalesce(c1.n1, 0) AS BIGINT) AS n_removed_cross,
         |  CAST(coalesce(c1.n1, 0) - coalesce(c2.n2, 0) AS BIGINT) AS n_removed_within,
         |  coalesce(c2.text2, '') AS text
         |FROM p
         |LEFT JOIN c1 ON p.doc_id = c1.doc_id
         |LEFT JOIN c2 ON p.doc_id = c2.doc_id
         |ORDER BY p.doc_id""".stripMargin,
    // Gopher char-weighted repetition filters over the same planted-line
    // construction as dedup_lines_within_doc; group-by counts here ==
    // the Spark side's sorted-fold runs (set semantics are identical),
    // ties on the top gram break to the lexicographically smallest
    "repetition_signals" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    [array_to_string(toks[i*10+1 : i*10+10], ' ')
        |     FOR i IN range(0, CAST((len(toks) + 9) // 10 AS INT))] AS lines
        |  FROM t),
        |p AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN list_concat(lines, lines[1:1]) ELSE lines END AS lines
        |  FROM l),
        |d AS (SELECT doc_id, lines, array_to_string(lines, chr(10)) AS text FROM p),
        |le AS (SELECT doc_id, unnest(lines) AS line FROM d),
        |lcnt AS (SELECT doc_id, line, count(*) AS cnt FROM le GROUP BY doc_id, line),
        |lm AS (SELECT doc_id, sum(cnt * len(line)) AS line_chars,
        |         sum((cnt - 1) * len(line)) AS dup_chars
        |       FROM lcnt GROUP BY doc_id),
        |tk AS (SELECT doc_id,
        |         -- mirror the Spark side's ALL-whitespace strip (Scoring
        |         -- deliberately avoids trim(), which strips 0x20 only):
        |         -- without this, text with a leading/trailing newline or
        |         -- tab yields a phantom empty token on the oracle side
        |         regexp_split_to_array(
        |           regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS w,
        |         len(text) AS doc_chars FROM d),
        |g2e AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2
        |    THEN [array_to_string(w[i+1 : i+2], ' ') FOR i IN range(0, len(w) - 1)]
        |    ELSE CAST([] AS VARCHAR[]) END) AS g FROM tk),
        |g2c AS (SELECT doc_id, g, count(*) AS cnt FROM g2e GROUP BY doc_id, g),
        |top2 AS (SELECT doc_id, g, cnt FROM (
        |    SELECT doc_id, g, cnt, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY cnt DESC, g ASC) AS rn FROM g2c)
        |  WHERE rn = 1),
        |g3e AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |    THEN [array_to_string(w[i+1 : i+3], ' ') FOR i IN range(0, len(w) - 2)]
        |    ELSE CAST([] AS VARCHAR[]) END) AS g FROM tk),
        |g3c AS (SELECT doc_id, sum((cnt - 1) * len(g)) AS dup_chars FROM (
        |    SELECT doc_id, g, count(*) AS cnt FROM g3e GROUP BY doc_id, g)
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |  round(CASE WHEN coalesce(lm.line_chars, 0) = 0 THEN 0.0
        |    ELSE CAST(lm.dup_chars AS DOUBLE) / lm.line_chars END, 6) AS dup_line_char_frac,
        |  top2.g AS top_2gram,
        |  round(CASE WHEN tk.doc_chars = 0 OR top2.cnt IS NULL THEN 0.0
        |    ELSE CAST(top2.cnt * len(top2.g) AS DOUBLE) / tk.doc_chars END, 6) AS top_2gram_char_frac,
        |  round(CASE WHEN tk.doc_chars = 0 THEN 0.0
        |    ELSE CAST(coalesce(g3c.dup_chars, 0) AS DOUBLE) / tk.doc_chars END, 6) AS dup_3gram_char_frac
        |FROM d
        |LEFT JOIN lm ON d.doc_id = lm.doc_id
        |LEFT JOIN tk ON d.doc_id = tk.doc_id
        |LEFT JOIN top2 ON d.doc_id = top2.doc_id
        |LEFT JOIN g3c ON d.doc_id = g3c.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "winnow_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id AS id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents),
        |g AS (
        |  SELECT id,
        |    CASE WHEN len(tk) >= 3
        |      THEN [array_to_string(tk[i + 1 : i + 3], ' ') FOR i IN range(0, len(tk) - 2)]
        |      ELSE [array_to_string(tk, ' ')] END AS gs
        |  FROM toks),
        |pg AS (SELECT id, len(gs) AS n, unnest(gs) AS gram, unnest(range(0, len(gs))) AS pos FROM g),
        |h AS (SELECT id, n, pos, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hv FROM pg),
        |wmin AS (
        |  SELECT id, n, pos,
        |    min(hv) OVER (PARTITION BY id ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        |  FROM h),
        |fps AS (SELECT DISTINCT id, fp FROM wmin WHERE pos >= 3 OR pos = n - 1),
        |p AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
        |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= 2 ORDER BY id_a, id_b""".stripMargin,
    // verified-LSH pairs reduce to the same exact-Jaccard answer
    "minhash_lsh_pairs" -> jaccardSql,
    "simhash_pairs" -> simhash60Sql,
    "multimodal_real_features" -> multimodalRealFeaturesSql,
    "multimodal_audio_features" -> multimodalAudioFeaturesSql,
    "multimodal_audio_phash" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    CAST(64 + doc_id % 128 AS BIGINT) AS n FROM documents),
        |s AS (SELECT media_id, n, x.i AS i, (media_id*31 + x.i*7) % 2048 - 1024 AS v
        |  FROM d, generate_series(0, 191) x(i) WHERE x.i < n),
        |w AS (SELECT media_id, (i * 61) // n AS win, sum(v*v) AS ss, count(*) AS c
        |  FROM s GROUP BY 1, 2),
        |r AS (SELECT media_id, win,
        |    CAST(sqrt(CAST(ss AS DOUBLE) / c) / 32768.0 AS REAL) AS rms FROM w),
        |g AS (SELECT a.media_id, a.win AS bit, a.rms AS cur, b.rms AS nxt
        |  FROM r a JOIN r b ON a.media_id = b.media_id AND b.win = a.win + 1
        |  WHERE a.win < 60)
        |SELECT media_id,
        |  CAST(sum(CASE WHEN nxt > cur THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS phash
        |FROM g GROUP BY 1 ORDER BY media_id""".stripMargin,
    // video feature twin: closed-form frame means, nearest-resample
    // fm.fr = (dim * nf) // 4, ordered fold over the 4 dims
    "multimodal_video_features" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    CAST(2 + doc_id % 8 AS BIGINT) AS w, CAST(2 + doc_id % 6 AS BIGINT) AS h,
        |    CAST(1 + doc_id % 5 AS BIGINT) AS nf
        |  FROM documents),
        |fm AS (SELECT d.media_id, f.k AS fr,
        |    CAST(CAST(sum((d.media_id*31 + f.k*17 + x.i*7 + y.j*13) % 256) AS DOUBLE)
        |      / (d.w * d.h * 255) AS REAL) AS m
        |  FROM d, generate_series(0, 4) f(k), generate_series(0, 8) x(i), generate_series(0, 6) y(j)
        |  WHERE f.k < d.nf AND x.i < d.w AND y.j < d.h
        |  GROUP BY 1, 2, d.w, d.h),
        |feat AS (SELECT d.media_id, s.i AS dim, fm.m
        |  FROM d CROSS JOIN generate_series(0, 3) s(i)
        |  JOIN fm ON fm.media_id = d.media_id AND fm.fr = (s.i * d.nf) // 4)
        |SELECT media_id,
        |  round(list_sum(list(CAST(m AS DOUBLE) ORDER BY dim)) / 4.0, 6) AS mean_feature
        |FROM feat GROUP BY 1 ORDER BY media_id""".stripMargin,
    "multimodal_pq_topk" -> multimodalPqSql,
    "multimodal_video_phash" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    CAST(2 + doc_id % 8 AS BIGINT) AS w, CAST(2 + doc_id % 6 AS BIGINT) AS h,
        |    CAST(1 + doc_id % 5 AS BIGINT) AS nf
        |  FROM documents),
        |fm AS (SELECT d.media_id, f.k AS fr,
        |    CAST(CAST(sum((d.media_id*31 + f.k*17 + x.i*7 + y.j*13) % 256) AS DOUBLE)
        |      / (d.w * d.h * 255) AS REAL) AS m
        |  FROM d, generate_series(0, 4) f(k), generate_series(0, 8) x(i), generate_series(0, 6) y(j)
        |  WHERE f.k < d.nf AND x.i < d.w AND y.j < d.h
        |  GROUP BY 1, 2, d.w, d.h),
        |feat AS (SELECT d.media_id, s.i AS dim, fm.m
        |  FROM d CROSS JOIN generate_series(0, 60) s(i)
        |  JOIN fm ON fm.media_id = d.media_id AND fm.fr = (s.i * d.nf) // 61),
        |g AS (SELECT a.media_id, a.dim AS bit, a.m AS cur, b.m AS nxt
        |  FROM feat a JOIN feat b ON a.media_id = b.media_id AND b.dim = a.dim + 1
        |  WHERE a.dim < 60)
        |SELECT media_id,
        |  CAST(sum(CASE WHEN nxt > cur THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS phash
        |FROM g GROUP BY 1 ORDER BY media_id""".stripMargin,
    "multimodal_video_decode" -> multimodalVideoDecodeSql,
    "multimodal_image_decode" -> multimodalDecodeSql,
    "multimodal_phash" ->
      s"""WITH $pngPhashCte
         |SELECT media_id, phash FROM ph ORDER BY media_id""".stripMargin,
    // brute-force all-pairs hamming over the replayed hashes — the
    // banded candidate+verify path must reproduce it exactly
    "multimodal_phash_pairs" ->
      s"""WITH $pngPhashCte
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
         |FROM ph a JOIN ph b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.phash, b.phash)) <= 2
         |ORDER BY id_a, id_b""".stripMargin,
    // closed-form twin of the WAV round trip (frame counts bounded at
    // 191, so a fixed series + filter again replaces the lateral)
    "multimodal_audio_decode" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(64 + doc_id % 128 AS BIGINT) AS n FROM documents)
        |SELECT d.media_id, CAST(8000 AS INT) AS sample_rate, d.n AS n_frames,
        |  CAST(sum((d.media_id*31 + x.i*7) % 2048 - 1024) AS BIGINT) AS sample_sum
        |FROM d, generate_series(0, 191) x(i)
        |WHERE x.i < d.n
        |GROUP BY 1, 2, 3 ORDER BY media_id""".stripMargin,
    // PQ twin: replicate seed codebooks (vec_id < 16 sliced into 8
    // subspaces), the r9-rounded argmin encode (row_number ties to the
    // lower code = Spark's strict-< argmin), the query LUT with the same
    // primitive, and an ORDERED fold for the ADC sum (list(... ORDER BY
    // sub) + list_sum = Spark's aggregate over sequence(0, m-1)).
    "pq_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cb AS (SELECT vec_id AS code, v FROM e WHERE vec_id < 16),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |subs AS (SELECT i AS sub FROM generate_series(0, 7) t(i)),
        |dist AS (
        |  SELECT e.vec_id, s.sub, c.code,
        |    floor(list_sum(list_transform(range(1, 9),
        |      j -> (e.v[s.sub*8 + j] - c.v[s.sub*8 + j]) * (e.v[s.sub*8 + j] - c.v[s.sub*8 + j]))) * 1e9 + 0.5)
        |    / 1e9 AS d
        |  FROM e, subs s, cb c),
        |enc AS (
        |  SELECT vec_id, sub, code,
        |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, code ASC) AS rn
        |  FROM dist),
        |lut AS (
        |  SELECT s.sub, c.code,
        |    floor(list_sum(list_transform(range(1, 9),
        |      j -> (q.qv[s.sub*8 + j] - c.v[s.sub*8 + j]) * (q.qv[s.sub*8 + j] - c.v[s.sub*8 + j]))) * 1e9 +
        |    0.5) / 1e9 AS d
        |  FROM q, subs s, cb c),
        |adc AS (
        |  SELECT enc.vec_id AS id, round(list_sum(list(lut.d ORDER BY enc.sub)), 6) AS adc
        |  FROM enc JOIN lut ON enc.sub = lut.sub AND enc.code = lut.code
        |  WHERE enc.rn = 1
        |  GROUP BY 1)
        |SELECT id, adc FROM adc ORDER BY adc ASC, id ASC LIMIT 10""".stripMargin,
    // IVF-ADC twin: seed coarse centroids (vec_id < 8) with BOTH metrics
    // replicated — assignment via |c|^2 - 2 v.c (the in-plan expansion),
    // probe ranking via full squared distance (the driver path) — then
    // the PQ twin restricted to the probed cells' members.
    "ivf_pq_topk" -> ivfPqSql,
    "ivf_pq_residual_topk" -> ivfPqResidualSql,
    "ivf_pq_topk_bucketed" -> ivfPqSql,
    // batch twin: the queries' own code-distance rows ARE their LUTs
    // (dist already holds every corpus-vector x code subdistance), and
    // ranking happens on the ROUNDED adc with id tie-break, matching the
    // Spark side's post-round window.
    "batch_pq_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cb AS (SELECT vec_id AS code, v FROM e WHERE vec_id < 16),
        |subs AS (SELECT i AS sub FROM generate_series(0, 7) t(i)),
        |dist AS (
        |  SELECT e.vec_id, s.sub, c.code,
        |    floor(list_sum(list_transform(range(1, 9),
        |      j -> (e.v[s.sub*8 + j] - c.v[s.sub*8 + j]) * (e.v[s.sub*8 + j] - c.v[s.sub*8 + j]))) * 1e9 + 0.5)
        |    / 1e9 AS d
        |  FROM e, subs s, cb c),
        |enc AS (
        |  SELECT vec_id, sub, code,
        |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, code ASC) AS rn
        |  FROM dist),
        |lutq AS (SELECT vec_id AS query_id, sub, code, d FROM dist WHERE vec_id < 5),
        |adc AS (
        |  SELECT l.query_id, enc.vec_id AS id,
        |    round(list_sum(list(l.d ORDER BY enc.sub)), 6) AS adc
        |  FROM enc JOIN lutq l ON enc.sub = l.sub AND enc.code = l.code
        |  WHERE enc.rn = 1
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, id, adc,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, id ASC) AS INT) AS rank
        |  FROM adc)
        |SELECT query_id, id, adc, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // round trips must deliver the same aggregate the parquet source does
    "orc_roundtrip" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY 1, 2 ORDER BY lang, source""".stripMargin,
    "zorder_scan" ->
      """SELECT count(*) AS n_rows,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_price,
        |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20 AND l_tax BETWEEN 0.02 AND 0.05""".stripMargin,
    "jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_text_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,
    "ann_topk" -> topkSql,
    "ivf_topk" -> topkSql,
    "embedding_neardup" ->
      s"""WITH $plantedCorpusCte,
         |c AS (SELECT * FROM corpus WHERE vec_id < 300 OR vec_id >= 1000000),
         |s AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("a.v", "b.v")} AS cos
         |  FROM c a JOIN c b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, round(cos, 6) AS cosine FROM s
         |WHERE cos >= 0.9 ORDER BY id_a, id_b""".stripMargin,
    "embedding_neardup_lsh" -> embeddingNeardupLshSql,
    "embedding_neardup_auto" -> embeddingNeardupLshSql,
    "embedding_neardup_lsh_wide" -> embeddingNeardupLshWideSql,
    // semantic_dedup*: recall is exact on the planted corpus (see the
    // catalog comment), so the cell pruning is invisible to the oracle
    // and brute force is the exact twin.
    "semantic_dedup_pairs_banded" ->
      s"""WITH $plantedCorpusCte,
         |s AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("a.v", "b.v")} AS cos
         |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, round(cos, 6) AS cosine FROM s
         |WHERE cos >= 0.9 ORDER BY id_a, id_b""".stripMargin,
    "semantic_dedup_pairs" ->
      s"""WITH $plantedCorpusCte,
         |s AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("a.v", "b.v")} AS cos
         |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, round(cos, 6) AS cosine FROM s
         |WHERE cos >= 0.9 ORDER BY id_a, id_b""".stripMargin,
    "semantic_dedup" ->
      s"""WITH $plantedCorpusCte,
         |p AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("a.v", "b.v")} AS cos
         |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id),
         |dropped AS (SELECT DISTINCT id_b FROM p WHERE cos >= 0.9)
         |SELECT vec_id FROM corpus
         |WHERE vec_id NOT IN (SELECT id_b FROM dropped)
         |ORDER BY vec_id""".stripMargin,
    "batch_ann_topk" -> topkForQueriesSql,
    // exact top-1 over the planted corpus — valid against the RP
    // candidate stage because each query's true top-1 is its planted
    // twin, which survives the projection with a ~0.65 cosine margin
    // (RpSpec pins candidate coverage at sf0.01 and sf0.1)
    "rp_ann_topk" ->
      s"""WITH $plantedCorpusCte,
         |q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 5),
         |s AS (
         |  SELECT query_id, c.vec_id AS corpus_id, ${cosSql("c.v", "qv")} AS cos
         |  FROM corpus c JOIN q ON c.vec_id <> query_id),
         |r AS (
         |  SELECT query_id, corpus_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS INTEGER) AS rank
         |  FROM s)
         |SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank
         |FROM r WHERE rank <= 1 ORDER BY query_id, rank""".stripMargin,
    "batch_ann_topk_bucketed" -> topkForQueriesSql,
    "sq8_topk" -> sq8TopkSql,
    "retrieval_metrics" -> retrievalMetricsSql,
    "mmr_rerank" -> mmrRerankSql,
    // three independent rankings replayed exactly (cosine / dot / L2 as
    // the same left folds), RRF terms summed in src order
    "rrf_fusion" ->
      s"""WITH $plantedCorpusCte,
         |q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 5),
         |s AS (SELECT query_id, c.vec_id AS corpus_id,
         |    ${cosSql("c.v", "qv")} AS cosv,
         |    list_inner_product(c.v, qv) AS dotp,
         |    list_sum(list_transform(range(1, 65),
         |      j -> (c.v[j] - qv[j]) * (c.v[j] - qv[j]))) AS l2
         |  FROM corpus c JOIN q ON c.vec_id <> query_id),
         |rc AS (SELECT query_id, corpus_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosv DESC, corpus_id) AS rank FROM s),
         |rd AS (SELECT query_id, corpus_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY dotp DESC, corpus_id) AS rank FROM s),
         |rl AS (SELECT query_id, corpus_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY l2 ASC, corpus_id) AS rank FROM s),
         |u AS (
         |  SELECT query_id, corpus_id, 0 AS src, 1.0/(60 + rank) AS term FROM rc WHERE rank <= 10
         |  UNION ALL
         |  SELECT query_id, corpus_id, 1 AS src, 1.0/(60 + rank) AS term FROM rd WHERE rank <= 10
         |  UNION ALL
         |  SELECT query_id, corpus_id, 2 AS src, 1.0/(60 + rank) AS term FROM rl WHERE rank <= 10),
         |f AS (SELECT query_id, corpus_id, CAST(count(*) AS BIGINT) AS n_lists,
         |    sum(term ORDER BY src) AS score FROM u GROUP BY 1, 2),
         |r AS (SELECT query_id, corpus_id, score, n_lists,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS INTEGER) AS rank
         |  FROM f)
         |SELECT query_id, corpus_id, round(score, 6) AS rrf_score, n_lists, rank
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "batch_ivf_topk" -> topkForQueriesSql,
    "batch_ivf_topk_bucketed" -> topkForQueriesSql,
    // append == full rebuild (frozen quantizer) and nprobe = nlist is
    // exhaustive, so the same exact-cosine twin applies
    "batch_ivf_topk_appended" -> topkForQueriesSql,
    "batch_ivf_topk_kmeans" -> topkForQueriesSql,
    "curation_pipeline" -> curationPipelineSql,
    // dedup_drop_exact: see the catalog comment — clique components make
    // the greedy dropped-set SQL exact for the MIS materialization too.
    "dedup_drop_exact" -> dedupDropSql,
    "dedup_drop" -> dedupDropSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_cluster_sizes" -> dedupClusterSizesSql,
    "containment_incremental" -> containmentIncrementalSql,
    "cluster_representatives" -> clusterRepresentativesSql,
    "text_stats" -> textStatsSql,
    "lang_id" -> langIdSql,
    "quality_signals" -> qualitySignalsSql,
    "scrub_pii" -> scrubPiiSql,
    "domain_rollup" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || ' see http://site' || CAST(doc_id % 13 AS VARCHAR)
        |        || '.example.com/p/' || CAST(doc_id AS VARCHAR)
        |        || ' and https://mirror' || CAST(doc_id % 5 AS VARCHAR)
        |        || '.example.org/x'
        |      ELSE text END AS text
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
        |      FROM planted),
        |d AS (SELECT doc_id, lower(regexp_extract(url, 'https?://([^/\s]+)', 1)) AS domain
        |      FROM u)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM d GROUP BY 1 ORDER BY domain""".stripMargin,
    // entropy twin: SAME sorted-distinct fold (list_reduce is the
    // sequential left fold Spark's aggregate() runs; 0.0+x1 == x1
    // exactly, so the missing explicit zero start is bit-neutral)
    "token_entropy" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0.0
        |    ELSE round(ln(len(tk)) - list_reduce(
        |      list_transform(list_sort(list_distinct(tk)),
        |        x -> len(list_filter(tk, y -> y = x)) * ln(len(list_filter(tk, y -> y = x)))),
        |      (a, b) -> a + b) / len(tk), 6)
        |  END AS token_entropy
        |FROM t ORDER BY doc_id""".stripMargin,
    "normalize_text" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN chr(1) || chr(9) || ' ' || text || ' ' || chr(7) || 'tail' || chr(9) || chr(9) || ' end '
        |      ELSE text END AS text
        |  FROM documents),
        |norm AS (
        |  SELECT doc_id, length(text) AS n_chars_raw,
        |    trim(regexp_replace(
        |      regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |      '\s+', ' ', 'g')) AS text_norm
        |  FROM planted)
        |SELECT doc_id, n_chars_raw, text_norm, length(text_norm) AS n_chars_norm
        |FROM norm ORDER BY doc_id""".stripMargin,
    "tfidf_topk" -> tfidfSql,
    "bm25_topk" -> bm25Sql,
    "bm25_topk_indexed" -> bm25Sql,
    "bm25_snippets" -> bm25SnippetsSql,
    "bm25_topk_merged" -> bm25Sql,
    "hybrid_search" -> hybridSearchSql,
    "decontaminate" -> decontaminateSql,
    "split_leakage" -> splitLeakageSql,
    "contamination_pairs" -> contaminationPairsSql,
    "semantic_decontaminate" -> semanticDecontaminateSql,
    "semantic_decontaminate_flag" -> semanticDecontaminateFlagSql,
    "nb_train_lang" -> nbTrainSql,
    "nb_classify_lang" -> nbClassifySql,
    "nb_confusion_lang" -> nbConfusionSql,
    "nb_train_lang_bigram" -> nbTrainBigramSql,
    "nb_confusion_lang_bigram" -> nbConfusionBigramSql,
    "nb_confusion_order_unigram" -> nbOrderSql(bigram = false),
    "nb_confusion_order_bigram" -> nbOrderSql(bigram = true),
    "hashed_doc_vectors" -> hashedDocVectorsSql,
    "hashed_doc_knn" -> hashedDocKnnSql,
    "global_shuffle" -> globalShuffleSql,
    "dataset_split" -> datasetSplitSql,
    "sample_n_per_stratum" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':5'), doc_id) AS rn
        |  FROM documents) WHERE rn <= 20 ORDER BY doc_id""".stripMargin,
    "robust_scale" ->
      s"""WITH q AS (SELECT doc_id, source, $qualityExprSql AS quality FROM documents),
         |st AS (
         |  SELECT source, quantile_cont(quality, 0.5) AS med,
         |    quantile_cont(quality, 0.75) - quantile_cont(quality, 0.25) AS iqr
         |  FROM q GROUP BY 1)
         |SELECT doc_id, q.source, quality, round((quality - med) / iqr, 6) AS scaled
         |FROM q JOIN st USING (source)
         |WHERE iqr > 0 ORDER BY doc_id""".stripMargin,
    "quality_percentile_norm" ->
      s"""WITH q AS (SELECT doc_id, source, $qualityExprSql AS quality FROM documents)
         |SELECT doc_id, source, quality,
         |  round(percent_rank() OVER w, 6) AS pct,
         |  CAST(ntile(4) OVER w AS INTEGER) AS bucket
         |FROM q
         |WINDOW w AS (PARTITION BY source ORDER BY quality ASC, doc_id ASC)
         |ORDER BY doc_id""".stripMargin,
    "weighted_sample" ->
      """WITH k AS (
        |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS w,
        |    -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8))::BIGINT + 0.5)
        |        / 4294967296.0)
        |      / CAST(length(text) AS DOUBLE) AS k
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND length(text) > 0)
        |SELECT doc_id, CAST(w AS BIGINT) AS w, round(k, 6) AS sample_key
        |FROM k ORDER BY k, doc_id LIMIT 50""".stripMargin,
    "vocab_topk" -> vocabTopkSql,
    "corpus_cube" -> corpusCubeSql,
    "bigram_score" -> bigramScoreSql,
    "pmi_collocations" -> pmiCollocationsSql,
    "dsir_scores" -> dsirScoresSql,
    "bigram_score_topk" -> bigramScoreTopkSql,
    "kmeans_centroids" -> kmeansCentroidsSql,
    "quality_filter_stratified" -> qualityFilterStratifiedSql,
    "source_quality_rollup" -> sourceQualityRollupSql,
    "pack_sequences" -> packSequencesSql,
    // same pack assignment CTEs + ordered per-pack string aggregation
    "pack_manifest" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    coalesce(CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS BIGINT), 0) AS "offset"
        |  FROM t),
        |p AS (SELECT doc_id, n_tokens, "offset" // 2048 AS pack_id,
        |      "offset" % 2048 AS pack_offset FROM c)
        |SELECT pack_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pack_offset, doc_id) AS doc_ids,
        |  string_agg(CAST(pack_offset AS VARCHAR), ',' ORDER BY pack_offset, doc_id) AS doc_offsets
        |FROM p GROUP BY 1 ORDER BY pack_id""".stripMargin,
    "pack_sequences_bpeish" -> packSequencesBpeishSql,
    "brute_force_topk" -> topkSql,
    "topk_for_queries" -> topkForQueriesSql,
    "knn_classify" -> knnClassifySql,
    "sessionize" -> sessionizeSql,
    "event_hourly_rollup" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "event_json_props" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    // exact per-window distinct users via the arithmetic window cover;
    // the contract boolean is pinned TRUE (any sketch regression flips it)
    "event_hopping_distinct" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, user_id FROM events),
        |w AS (
        |  SELECT ((us // 900000000) - j) * 900000000 AS ws, user_id
        |  FROM e CROSS JOIN generate_series(0, 3) AS t(j))
        |SELECT ws AS window_start_us,
        |  count(DISTINCT user_id) AS exact,
        |  TRUE AS within_rsd
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical integer-sum statistics and closed-form z per bucket
    "event_anomaly" ->
      """WITH b AS (
        |  SELECT epoch_us(date_trunc('hour', ts)) AS ws, event_type, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
        |  FROM b GROUP BY 1),
        |z AS (
        |  SELECT b.ws, b.event_type, b.c,
        |    (CAST(b.c AS DOUBLE) - CAST(st.s1 AS DOUBLE) / st.n)
        |      / sqrt(CAST(st.n * st.s2 - st.s1 * st.s1 AS DOUBLE) / (st.n * st.n)) AS z
        |  FROM b JOIN st USING (event_type)
        |  WHERE st.n * st.s2 - st.s1 * st.s1 > 0)
        |SELECT ws AS window_start_us, event_type, c AS n_events, round(z, 6) AS z
        |FROM z WHERE abs(z) >= 1.5 ORDER BY 1, 2""".stripMargin,
    // 4 covering 15-min-aligned windows per event, derived
    // arithmetically (len/hop = 4)
    "event_hopping_rollup" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
        |w AS (
        |  SELECT ((us // 900000000) - j) * 900000000 AS ws, event_type, value
        |  FROM e CROSS JOIN generate_series(0, 3) AS t(j))
        |SELECT ws AS window_start_us, event_type,
        |  count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "event_transitions" ->
      """WITH s AS (
        |  SELECT user_id, list(event_type ORDER BY epoch_us(ts), event_id) AS types
        |  FROM events GROUP BY 1),
        |b AS (
        |  SELECT unnest(list_transform(range(1, len(types)),
        |    i -> types[i] || ' -> ' || types[i + 1])) AS transition
        |  FROM s WHERE len(types) >= 2)
        |SELECT transition, count(*) AS n FROM b
        |GROUP BY 1 ORDER BY n DESC, transition ASC LIMIT 20""".stripMargin,
    // step-wise conditional minima replayed as chained CTEs; null t2
    // makes the t3 CASE null-strict in both engines
    "event_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type AS t FROM events),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE t = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT s1.user_id, s1.t1, min(CASE WHEN e.us > s1.t1 THEN e.us END) AS t2
        |  FROM s1 LEFT JOIN e ON e.user_id = s1.user_id AND e.t = 'click'
        |  GROUP BY 1, 2),
        |s3 AS (
        |  SELECT s2.user_id, t1, t2, min(CASE WHEN e.us > s2.t2 THEN e.us END) AS t3
        |  FROM s2 LEFT JOIN e ON e.user_id = s2.user_id AND e.t = 'purchase'
        |  GROUP BY 1, 2, 3)
        |SELECT user_id, t1 AS t1_us, t2 AS t2_us, t3 AS t3_us,
        |  CAST(CASE WHEN t3 IS NOT NULL THEN 3
        |            WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS INTEGER) AS stage
        |FROM s3 ORDER BY user_id""".stripMargin,
    "cohort_retention" ->
      """WITH b AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS week
        |  FROM events WHERE user_id IS NOT NULL),
        |f AS (SELECT user_id, min(week) AS cohort_week FROM b GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, week FROM b)
        |SELECT cohort_week, week AS active_week, count(*) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // exact replica of the EWMA fold: list_reduce inits with the first
    // element (matching the Spark zero = v_1 over the rest), and beta is
    // REPLAYED as 1.0 - 0.3 in doubles — a 0.7 literal is a different
    // IEEE value than the subtraction the operator computes
    "event_ewma" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |a AS (SELECT user_id, list(v ORDER BY ts, event_id) AS arr FROM e GROUP BY 1)
        |SELECT user_id, CAST(len(arr) AS BIGINT) AS n_events,
        |  round(CASE WHEN len(arr) = 1 THEN arr[1]
        |    ELSE list_reduce(arr, (acc, x) ->
        |      CAST(0.3 AS DOUBLE) * x +
        |      (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * acc) END, 6) AS ewma
        |FROM a ORDER BY user_id""".stripMargin,
    "asof_join" -> asofJoinSql,
    "asof_join_bucketed" -> asofJoinSql,
    "range_join" -> rangeJoinSql,
    // brute per-key interval overlap — the bin-bucketed plan must
    // reproduce it exactly, each pair once
    "overlap_join" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 14400000000 AS e FROM events),
        |l AS (SELECT * FROM ev WHERE event_id % 5 = 0)
        |SELECT l.user_id AS user_id, l.event_id AS event_id,
        |  r.event_id AS r_event_id
        |FROM l JOIN ev r ON l.user_id = r.user_id AND l.event_id < r.event_id
        |  AND l.s <= r.e AND r.s <= l.e
        |ORDER BY user_id, event_id, r_event_id""".stripMargin,
    "chunk_documents" -> chunkDocumentsSql,
    "mixture_weights" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
        |s AS (SELECT source, n_docs,
        |        CAST(floor(sqrt(n_docs) * 1000000) AS BIGINT) AS sm FROM c)
        |SELECT source, n_docs,
        |  CAST(sm * 1000000 // (SELECT sum(sm) FROM s) AS BIGINT) AS weight_micro
        |FROM s ORDER BY source""".stripMargin,
    "mixture_sample" -> mixtureSampleSql,
    "nation_revenue" ->
      """SELECT n_name AS nation,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
        |    * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE), 4) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_quantity >= 25
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    // the UNSALTED join — salting must not change the result
    "salted_join" ->
      """SELECT o_orderpriority AS priority,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
        |    * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE), 4) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY priority""".stripMargin,
    // naive-enumeration triangle oracle: canonical a<b co-supply edges,
    // each triangle found once as x<y<z, then per-corner credit
    "triangle_count" ->
      """WITH hi AS (SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity >= 48),
        |p AS (
        |  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
        |  FROM hi x JOIN hi y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM p e1
        |  JOIN p e2 ON e2.a = e1.b
        |  JOIN p e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri)
        |SELECT node, count(*) AS n_triangles
        |FROM corners GROUP BY 1 ORDER BY node""".stripMargin,
    // 8 unrolled peel rounds (>= the fixpoint depth on this graph;
    // idempotent beyond it), then the surviving-degree filter
    "kcore" -> kcoreSql,
    "bfs_hops" -> bfsHopsSql,
    "connected_components" -> connectedComponentsSql,
    "random_walks" -> randomWalksSql,
    // identical rows by contract: sink mode only changes the delivery
    "random_walks_sink" -> randomWalksSql,
    "walk_skipgram_pairs" -> walkSkipgramPairsSql,
    "walk_node_embeddings" -> walkNodeEmbeddingsSql,
    "graph_semantic_communities" -> graphSemanticCommunitiesSql,
    "random_walks_biased" -> randomWalksBiasedSql,
    "random_walks_biased_sink" -> randomWalksBiasedSql,
    "knn_graph" -> knnGraphSql,
    "knn_graph_quantized" -> knnGraphQuantizedSql,
    "knn_graph_auto" -> knnGraphQuantizedSql,
    "knn_graph_quantized_wide" -> knnGraphQuantizedWideSql,
    "semantic_communities" -> semanticCommunitiesSql,
    "semantic_quota_sample" -> semanticQuotaSampleSql,
    "knn_graph_incremental" -> knnGraphIncrementalSql,
    "knn_graph_incremental_wide" -> knnGraphIncrementalWideSql,
    "semantic_communities_incremental" -> semanticCommunitiesIncrementalSql,
    "semantic_communities_incremental_auto" -> semanticCommunitiesIncrementalAutoSql,
    "dedup_clusters_incremental_auto" -> dedupClustersIncrementalAutoSql,
    // single-micro-batch stream of the SAME ingest == the batch front
    // door, so the streaming entry shares its oracle verbatim
    "dedup_clusters_refresh_stream" -> dedupClustersIncrementalAutoSql,
    "knn_hubness" -> knnHubnessSql,
    "semantic_communities_hubcapped" -> semanticCommunitiesHubcappedSql,
    "knn_graph_mutual" -> knnGraphMutualSql,
    "embedding_drift" -> embeddingDriftSql,
    "embedding_drift_summary" -> embeddingDriftSummarySql,
    // same graph: degree table + naive triangle counts -> 2T/(d(d-1))
    "clustering_coeff" ->
      """WITH hi AS (SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity >= 48),
        |p AS (
        |  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
        |  FROM hi x JOIN hi y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM p UNION ALL SELECT b FROM p)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM p e1
        |  JOIN p e2 ON e2.a = e1.b
        |  JOIN p e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tc AS (
        |  SELECT node, count(*) AS n_triangles FROM (
        |    SELECT x AS node FROM tri
        |    UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri)
        |  GROUP BY 1)
        |SELECT deg.node, deg.deg, coalesce(tc.n_triangles, 0) AS n_triangles,
        |  round(CAST(2.0 AS DOUBLE) * coalesce(tc.n_triangles, 0) / (deg.deg * (deg.deg - 1)), 6) AS coeff
        |FROM deg LEFT JOIN tc ON deg.node = tc.node
        |WHERE deg.deg >= 2 ORDER BY deg.node""".stripMargin,
    // exact replica of the 4 synchronous vote rounds: bidirectional
    // adjacency + one self-loop per node (= the self-vote), argmax by
    // (votes DESC, label ASC) — all integers, generated one CTE pair
    // per round
    "label_propagation" -> lpaSql,
    "lpa_modularity" -> lpaModularitySql,
    // wedge enumeration + pair aggregate, integer RA micro-units
    // (// == div on the positive degrees), existing edges anti-joined
    // out, one rounded division for Jaccard
    "link_prediction" ->
      """WITH hi AS (SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity >= 48),
        |p AS (
        |  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
        |  FROM hi x JOIN hi y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey),
        |adj AS (SELECT a AS node, b AS nbr FROM p UNION ALL SELECT b, a FROM p),
        |deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY 1),
        |w AS (
        |  SELECT l.nbr AS node_a, r.nbr AS node_b, count(*) AS cn,
        |    CAST(sum(1000000 // d.deg) AS BIGINT) AS ra
        |  FROM adj l JOIN adj r ON l.node = r.node AND l.nbr < r.nbr
        |  JOIN deg d ON d.node = l.node
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ne AS (SELECT w.* FROM w LEFT JOIN p ON p.a = w.node_a AND p.b = w.node_b
        |       WHERE p.a IS NULL)
        |SELECT ne.node_a, ne.node_b, ne.cn AS common_neighbors,
        |  ne.ra AS resource_alloc_micro,
        |  round(CAST(ne.cn AS DOUBLE) / (da.deg + db.deg - ne.cn), 6) AS jaccard
        |FROM ne JOIN deg da ON da.node = ne.node_a JOIN deg db ON db.node = ne.node_b
        |ORDER BY resource_alloc_micro DESC, node_a, node_b LIMIT 100""".stripMargin,
    // exact integer-arithmetic replica of the 3 damped PageRank rounds
    // (// is floor division = `div` on the non-negative ranks)
    "pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey + 10000 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (SELECT e.dst AS node, sum(r0.r // deg.d) AS s
        |       FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
        |r1 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.dst AS node, sum(r1.r // deg.d) AS s
        |       FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
        |r2 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c2 USING (node)),
        |c3 AS (SELECT e.dst AS node, sum(r2.r // deg.d) AS s
        |       FROM e JOIN deg USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
        |r3 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c3.s, 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c3 USING (node))
        |SELECT node, r AS rank_micro FROM r3 ORDER BY node""".stripMargin,
    // dangling-redistribution replica: per round, the rank mass of the
    // no-out-edge nodes splits uniformly — contribution sums gain
    // floor(dangling_sum / n) before the damped step, all `//` floors
    // on non-negative integers (exact replica of the Spark `div`s)
    "pagerank_dangling" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey + 10000 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |dang AS (SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM e)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |d1 AS (SELECT COALESCE(sum(r), 0) // (SELECT n FROM nn) AS sh
        |       FROM r0 WHERE node IN (SELECT node FROM dang)),
        |c1 AS (SELECT e.dst AS node, sum(r0.r // deg.d) AS s
        |       FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
        |r1 AS (SELECT n.node,
        |         CAST(150000 + (85 * (COALESCE(c1.s, 0) + (SELECT sh FROM d1))) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c1 USING (node)),
        |d2 AS (SELECT COALESCE(sum(r), 0) // (SELECT n FROM nn) AS sh
        |       FROM r1 WHERE node IN (SELECT node FROM dang)),
        |c2 AS (SELECT e.dst AS node, sum(r1.r // deg.d) AS s
        |       FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
        |r2 AS (SELECT n.node,
        |         CAST(150000 + (85 * (COALESCE(c2.s, 0) + (SELECT sh FROM d2))) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c2 USING (node)),
        |d3 AS (SELECT COALESCE(sum(r), 0) // (SELECT n FROM nn) AS sh
        |       FROM r2 WHERE node IN (SELECT node FROM dang)),
        |c3 AS (SELECT e.dst AS node, sum(r2.r // deg.d) AS s
        |       FROM e JOIN deg USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
        |r3 AS (SELECT n.node,
        |         CAST(150000 + (85 * (COALESCE(c3.s, 0) + (SELECT sh FROM d3))) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c3 USING (node))
        |SELECT node, r AS rank_micro FROM r3 ORDER BY node""".stripMargin,
    // HITS replica: 2 unrolled rounds, auth-from-hubs then
    // hub-from-NEW-auths, L-infinity normalization via scalar-subquery
    // max, all `//` floors on non-negative integers (exact replica of
    // the Spark `div`s; DuckDB's BIGINT sums widen to HUGEINT, so the
    // raw*1e6 product never wraps before the final BIGINT cast)
    "hits_scores" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey + 10000 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |ar1 AS (SELECT e.dst AS node, sum(CAST(1000000 AS BIGINT)) AS raw FROM e GROUP BY 1),
        |a1 AS (SELECT n.node,
        |         CAST(COALESCE(ar1.raw, 0) * 1000000 //
        |           (SELECT greatest(COALESCE(max(raw), 1), 1) FROM ar1) AS BIGINT) AS a
        |       FROM nodes n LEFT JOIN ar1 USING (node)),
        |hr1 AS (SELECT e.src AS node, sum(a1.a) AS raw
        |        FROM e JOIN a1 ON a1.node = e.dst GROUP BY 1),
        |h1 AS (SELECT n.node,
        |         CAST(COALESCE(hr1.raw, 0) * 1000000 //
        |           (SELECT greatest(COALESCE(max(raw), 1), 1) FROM hr1) AS BIGINT) AS h
        |       FROM nodes n LEFT JOIN hr1 USING (node)),
        |ar2 AS (SELECT e.dst AS node, sum(h1.h) AS raw
        |        FROM e JOIN h1 ON h1.node = e.src GROUP BY 1),
        |a2 AS (SELECT n.node,
        |         CAST(COALESCE(ar2.raw, 0) * 1000000 //
        |           (SELECT greatest(COALESCE(max(raw), 1), 1) FROM ar2) AS BIGINT) AS a
        |       FROM nodes n LEFT JOIN ar2 USING (node)),
        |hr2 AS (SELECT e.src AS node, sum(a2.a) AS raw
        |        FROM e JOIN a2 ON a2.node = e.dst GROUP BY 1),
        |h2 AS (SELECT n.node,
        |         CAST(COALESCE(hr2.raw, 0) * 1000000 //
        |           (SELECT greatest(COALESCE(max(raw), 1), 1) FROM hr2) AS BIGINT) AS h
        |       FROM nodes n LEFT JOIN hr2 USING (node))
        |SELECT n.node, h2.h AS hub_micro, a2.a AS auth_micro
        |FROM nodes n JOIN h2 USING (node) JOIN a2 USING (node)
        |ORDER BY node""".stripMargin,
    // weighted replica: per-(src,dst) lineitem counts as weights,
    // contribution (r * w) // W_src, same damped integer rounds
    "pagerank_weighted" ->
      """WITH e AS (
        |  SELECT o_custkey AS src, l_suppkey + 10000 AS dst,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |ws AS (SELECT src, CAST(sum(w) AS BIGINT) AS ww FROM e GROUP BY 1),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (SELECT e.dst AS node, sum((r0.r * e.w) // ws.ww) AS s
        |       FROM e JOIN ws USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
        |r1 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.dst AS node, sum((r1.r * e.w) // ws.ww) AS s
        |       FROM e JOIN ws USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
        |r2 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c2 USING (node)),
        |c3 AS (SELECT e.dst AS node, sum((r2.r * e.w) // ws.ww) AS s
        |       FROM e JOIN ws USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
        |r3 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c3.s, 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c3 USING (node))
        |SELECT node, r AS rank_micro FROM r3 ORDER BY node""".stripMargin,
    // seed-teleport replica: r0 = seed*1e6, each round seed*150000 +
    // damped sum — one CASE away from the uniform oracle
    "pagerank_personalized" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey + 10000 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |sd AS (
        |  SELECT node,
        |    CASE WHEN node IN (SELECT c_custkey FROM customer WHERE c_custkey < 50)
        |         THEN 1 ELSE 0 END AS seed
        |  FROM nodes),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |r0 AS (SELECT node, CAST(seed * 1000000 AS BIGINT) AS r FROM sd),
        |c1 AS (SELECT e.dst AS node, sum(r0.r // deg.d) AS s
        |       FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
        |r1 AS (SELECT n.node, CAST(n.seed * 150000 + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS r
        |       FROM sd n LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.dst AS node, sum(r1.r // deg.d) AS s
        |       FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
        |r2 AS (SELECT n.node, CAST(n.seed * 150000 + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS r
        |       FROM sd n LEFT JOIN c2 USING (node)),
        |c3 AS (SELECT e.dst AS node, sum(r2.r // deg.d) AS s
        |       FROM e JOIN deg USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
        |r3 AS (SELECT n.node, CAST(n.seed * 150000 + (85 * COALESCE(c3.s, 0)) // 100 AS BIGINT) AS r
        |       FROM sd n LEFT JOIN c3 USING (node))
        |SELECT node, r AS rank_micro FROM r3 ORDER BY node""".stripMargin,
    // tie-handled Mann-Whitney replica: per-score (pos, neg) groups,
    // cumulative negatives strictly below, integral 2U rollup, one
    // double division — the exact arithmetic the Spark side commits to
    "score_auc" ->
      """WITH t AS (
        |  SELECT CAST(n_chars % 499 AS DOUBLE) / 499.0 AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS l
        |  FROM documents),
        |g AS (SELECT s, sum(l) AS pos, count(*) - sum(l) AS neg FROM t GROUP BY s),
        |c AS (
        |  SELECT pos, neg,
        |    coalesce(sum(neg) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
        |  FROM g)
        |SELECT CAST(sum(pos) AS BIGINT) AS n_pos, CAST(sum(neg) AS BIGINT) AS n_neg,
        |  round(CAST(sum(pos * (2 * cumneg + neg)) AS DOUBLE)
        |    / (2.0 * sum(pos) * sum(neg)), 6) AS auc
        |FROM c""".stripMargin,
    "calibration_bins" ->
      """WITH t AS (
        |  SELECT CAST(n_chars % 1000 AS DOUBLE) / 1000.0 AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS l
        |  FROM documents),
        |b AS (
        |  SELECT least(floor(s * 10), 9) AS bin, count(*) AS n, sum(l) AS pos,
        |    sum(CAST(floor(s * 1e6) AS BIGINT)) AS micro
        |  FROM t GROUP BY 1)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
        |  CAST(pos AS BIGINT) AS n_pos, CAST(micro AS BIGINT) AS sum_score_micro,
        |  round(CAST(pos AS DOUBLE) / n, 6) AS pos_rate,
        |  round(CAST(micro AS DOUBLE) / 1e6 / n, 6) AS avg_score
        |FROM b ORDER BY bin""".stripMargin,
    // the greedy cut is a plain ordered cumulative sum in SQL — the
    // Spark side's bucketing is an execution strategy, not semantics
    "budget_select" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(n_chars % 499 AS DOUBLE) / 499.0 AS score,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, score, n_tokens,
        |    coalesce(CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |      AS "offset"
        |  FROM t)
        |SELECT doc_id, round(score, 6) AS score, n_tokens, "offset"
        |FROM c WHERE "offset" + n_tokens <= 20000
        |ORDER BY "offset"""".stripMargin,
    // source-pair shingle-set Jaccard: same shingle CTEs as the doc
    // dedup oracles, keyed by source; disjoint pairs joined back at 0
    "source_overlap" ->
      """WITH toks AS (
        |  SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |sets AS (
        |  SELECT source,
        |    CASE WHEN len(tk) >= 3
        |      THEN list_distinct([array_to_string(tk[i + 1 : i + 3], ' ') FOR i IN range(0, len(tk) - 2)])
        |      ELSE list_distinct([array_to_string(tk, ' ')]) END AS sh
        |  FROM toks),
        |ss AS (SELECT DISTINCT source, unnest(sh) AS shingle FROM sets),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS sz FROM ss GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_common
        |  FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa.source AS src_a, sb.source AS src_b,
        |  sa.sz AS size_a, sb.sz AS size_b,
        |  coalesce(n_common, 0) AS n_common,
        |  round(CAST(coalesce(n_common, 0) AS DOUBLE)
        |    / (sa.sz + sb.sz - coalesce(n_common, 0)), 6) AS jaccard
        |FROM sizes sa JOIN sizes sb ON sa.source < sb.source
        |LEFT JOIN inter ON inter.src_a = sa.source AND inter.src_b = sb.source
        |ORDER BY src_a, src_b""".stripMargin,
    // per-bin |pos·1e6 − micro| is exactly |pos_rate − avg_score|·n·1e6,
    // so the ECE rollup is pure integers until the final division
    "calibration_ece" ->
      """WITH t AS (
        |  SELECT CAST(n_chars % 1000 AS DOUBLE) / 1000.0 AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS l
        |  FROM documents),
        |b AS (
        |  SELECT least(floor(s * 10), 9) AS bin, count(*) AS n, sum(l) AS pos,
        |    sum(CAST(floor(s * 1e6) AS BIGINT)) AS micro
        |  FROM t GROUP BY 1)
        |SELECT CAST(sum(n) AS BIGINT) AS n,
        |  round(CAST(sum(abs(pos * 1000000 - micro)) AS DOUBLE) / 1e6 / sum(n), 6)
        |    AS ece
        |FROM b""".stripMargin,
    "score_auc_by_lang" ->
      """WITH t AS (
        |  SELECT lang, CAST(n_chars % 499 AS DOUBLE) / 499.0 AS s,
        |    CASE WHEN source = 'web' THEN 1 ELSE 0 END AS l
        |  FROM documents),
        |g AS (SELECT lang, s, sum(l) AS pos, count(*) - sum(l) AS neg
        |      FROM t GROUP BY 1, 2),
        |c AS (
        |  SELECT lang, pos, neg,
        |    coalesce(sum(neg) OVER (PARTITION BY lang ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
        |  FROM g)
        |SELECT lang, CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(sum(neg) AS BIGINT) AS n_neg,
        |  CASE WHEN sum(pos) > 0 AND sum(neg) > 0 THEN
        |    round(CAST(sum(pos * (2 * cumneg + neg)) AS DOUBLE)
        |      / (2.0 * sum(pos) * sum(neg)), 6) END AS auc
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    // once-quantized floor(ln·1e9) logs weighted by exact counts; the
    // corpus table is a rollup of the (source, token) counts, never a
    // second tokenize pass
    "source_entropy" ->
      """WITH tok AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |  FROM documents),
        |counts AS (
        |  SELECT source, t, count(*) AS c FROM tok WHERE length(t) > 0 GROUP BY 1, 2),
        |corpus AS (SELECT t, sum(c) AS ct FROM counts GROUP BY 1),
        |totals AS (SELECT source, sum(c) AS ts, count(*) AS types FROM counts GROUP BY 1),
        |grand AS (SELECT sum(ct) AS tg FROM corpus),
        |scored AS (
        |  SELECT counts.source, c, ts, types,
        |    CAST(floor(ln(CAST(c AS DOUBLE) / ts) * 1e9) AS BIGINT) AS lp,
        |    CAST(floor(ln(CAST(ct AS DOUBLE) / tg) * 1e9) AS BIGINT) AS lq
        |  FROM counts JOIN corpus USING (t) JOIN totals USING (source), grand),
        |agg AS (
        |  SELECT source, max(ts) AS n_tokens, max(types) AS n_types,
        |    sum(c * lp) AS sp, sum(c * lq) AS sq
        |  FROM scored GROUP BY 1)
        |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_types AS BIGINT) AS n_types,
        |  round(-CAST(sp AS DOUBLE) / 1e9 / n_tokens, 6) AS self_entropy,
        |  round(-CAST(sq AS DOUBLE) / 1e9 / n_tokens, 6) AS cross_entropy,
        |  round(CAST(sp - sq AS DOUBLE) / 1e9 / n_tokens, 6) AS kl_vs_corpus
        |FROM agg ORDER BY source""".stripMargin,
    // HUGEINT moment sums of the same quantized logs; the 1e9 scale
    // cancels in the slope ratio, one explicit 1e9 in the intercept
    "zipf_fit" ->
      ("""WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |  FROM documents),
        |top AS (
        |  SELECT t, count(*) AS c FROM tok WHERE length(t) > 0 GROUP BY 1
        |  ORDER BY c DESC, t ASC LIMIT 100)""".stripMargin + zipfTailSql("t")),
    // same regression tail over the co-supply multi-edge degree table
    "degree_zipf" ->
      ("""WITH li AS (
        |  SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity >= 50),
        |e AS (
        |  SELECT x.l_suppkey AS src, y.l_suppkey AS dst
        |  FROM li x JOIN li y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey),
        |deg AS (
        |  SELECT node, count(*) AS c FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
        |  GROUP BY 1),
        |top AS (SELECT node, c FROM deg ORDER BY c DESC, node ASC LIMIT 50)"""
        .stripMargin + zipfTailSql("node")),
    // old-range equal-width bins, edge-clamped new values, Laplace
    // (c+1)/(N+bins) probabilities, one quantized term per bin
    "quality_psi" -> psiSql(total = false),
    "quality_psi_total" -> psiSql(total = true),
    // suffix confusion counts per distinct score (totals minus
    // strictly-below cumulatives); "precision" quoted — DOUBLE
    // PRECISION makes it a keyword
    "pr_curve" ->
      (prCumSql +
        """
          |SELECT s AS threshold, CAST(P - cumpos AS BIGINT) AS tp,
          |  CAST(N - cumneg AS BIGINT) AS fp,
          |  round(CAST(P - cumpos AS DOUBLE)
          |    / (P - cumpos + (N - cumneg)), 6) AS "precision",
          |  CASE WHEN P > 0
          |    THEN round(CAST(P - cumpos AS DOUBLE) / P, 6) END AS recall,
          |  CASE WHEN P > 0 THEN round(2.0 * (P - cumpos)
          |    / (P - cumpos + (N - cumneg) + P), 6) END AS f1
          |FROM c, tot ORDER BY threshold""".stripMargin),
    // per-group quantized AP terms over the shared cumulative frame
    "average_precision" ->
      (prCumSql +
        """
          |SELECT CAST(sum(g.pos) AS BIGINT) AS n_pos,
          |  CAST(sum(g.neg) AS BIGINT) AS n_neg,
          |  round(CAST(sum(CAST(floor(
          |      g.pos * CAST(P - cumpos AS DOUBLE)
          |        / (P - cumpos + (N - cumneg)) * 1e9) AS BIGINT)) AS DOUBLE)
          |    / 1e9 / sum(g.pos), 6) AS average_precision
          |FROM g JOIN c USING (s), tot""".stripMargin),
    // integer-micro precision gate + arg_min winner; empty filter set
    // aggregates to the same all-NULL single row as the Spark side
    "threshold_for_precision" ->
      (prCumSql +
        """,
          |f AS (
          |  SELECT s, P - cumpos AS tp, P - cumpos + (N - cumneg) AS sel
          |  FROM c, tot
          |  WHERE (P - cumpos) * 1000000 >= (P - cumpos + (N - cumneg)) * 900000)
          |SELECT min(s) AS threshold, CAST(arg_min(tp, s) AS BIGINT) AS tp,
          |  CAST(arg_min(sel, s) AS BIGINT) AS selected,
          |  round(CAST(arg_min(tp, s) AS DOUBLE) / arg_min(sel, s), 6)
          |    AS "precision"
          |FROM f""".stripMargin)
  )

  /** Shared regression tail for the zipf-family oracles: expects a
    * `top` CTE with `(item, c)`; `item` is the tie-break column. */
  private def zipfTailSql(item: String): String =
    s""",
       |pts AS (
       |  SELECT CAST(floor(ln(CAST(row_number() OVER (ORDER BY c DESC, $item ASC)
       |      AS DOUBLE)) * 1e9) AS BIGINT) AS x,
       |    CAST(floor(ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT) AS y
       |  FROM top),
       |s AS (
       |  SELECT count(*) AS k, sum(CAST(x AS HUGEINT)) AS sx,
       |    sum(CAST(y AS HUGEINT)) AS sy,
       |    sum(CAST(x AS HUGEINT) * x) AS sxx,
       |    sum(CAST(x AS HUGEINT) * y) AS sxy
       |  FROM pts),
       |sl AS (
       |  SELECT k, sx, sy,
       |    CAST(k * sxy - sx * sy AS DOUBLE) / CAST(k * sxx - sx * sx AS DOUBLE)
       |      AS slope
       |  FROM s)
       |SELECT CAST(k AS BIGINT) AS k_used, round(slope, 6) AS slope,
       |  round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / (k * 1e9), 6)
       |    AS intercept
       |FROM sl""".stripMargin

  /** Shared CTEs for the PR-family oracles: per-score (pos, neg)
    * groups, strictly-below cumulatives, and class totals over the
    * [[prLabeled]] fixture. */
  private lazy val prCumSql =
    """WITH t AS (
      |  SELECT CAST(n_chars % 499 AS DOUBLE) / 499.0 AS s,
      |    CASE WHEN (n_chars % 499 > 249) != (doc_id % 11 = 0)
      |      THEN 1 ELSE 0 END AS l
      |  FROM documents),
      |g AS (SELECT s, sum(l) AS pos, count(*) - sum(l) AS neg FROM t GROUP BY s),
      |tot AS (SELECT sum(pos) AS P, sum(neg) AS N FROM g),
      |c AS (
      |  SELECT s,
      |    coalesce(sum(pos) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumpos,
      |    coalesce(sum(neg) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
      |  FROM g)""".stripMargin

  /** Shared PSI oracle: per-bin terms or the scalar rollup. */
  private def psiSql(total: Boolean): String = {
    val core =
      """WITH oldsnap AS (SELECT n_chars FROM documents),
        |newsnap AS (
        |  SELECT n_chars + doc_id % 200 AS n_chars FROM documents
        |  WHERE doc_id % 20 >= 2),
        |mm AS (SELECT CAST(min(n_chars) AS DOUBLE) AS lo,
        |              CAST(max(n_chars) AS DOUBLE) AS hi FROM oldsnap),
        |sp AS (SELECT lo, greatest((hi - lo) / 10.0, 2.2250738585072014e-308)
        |         AS span FROM mm),
        |ob AS (
        |  SELECT least(greatest(floor((CAST(n_chars AS DOUBLE) - lo) / span), 0), 9)
        |    AS bin, count(*) AS o FROM oldsnap, sp WHERE n_chars IS NOT NULL
        |  GROUP BY 1),
        |nb AS (
        |  SELECT least(greatest(floor((CAST(n_chars AS DOUBLE) - lo) / span), 0), 9)
        |    AS bin, count(*) AS n FROM newsnap, sp WHERE n_chars IS NOT NULL
        |  GROUP BY 1),
        |spine AS (SELECT unnest(range(10)) AS bin),
        |j AS (
        |  SELECT spine.bin, coalesce(o, 0) AS n_old, coalesce(n, 0) AS n_new
        |  FROM spine LEFT JOIN ob ON ob.bin = spine.bin
        |  LEFT JOIN nb ON nb.bin = spine.bin),
        |t AS (SELECT sum(n_old) AS toT, sum(n_new) AS tn FROM j),
        |terms AS (
        |  SELECT bin, n_old, n_new,
        |    CAST(floor(
        |      (CAST(n_old + 1 AS DOUBLE) / (toT + 10)
        |        - CAST(n_new + 1 AS DOUBLE) / (tn + 10))
        |      * ln((CAST(n_old + 1 AS DOUBLE) / (toT + 10))
        |        / (CAST(n_new + 1 AS DOUBLE) / (tn + 10))) * 1e12)
        |      AS BIGINT) AS psi_term_micro
        |  FROM j, t)""".stripMargin
    if (total)
      core +
        """
          |SELECT CAST(sum(n_old) AS BIGINT) AS n_old,
          |  CAST(sum(n_new) AS BIGINT) AS n_new,
          |  round(CAST(sum(psi_term_micro) AS DOUBLE) / 1e12, 6) AS psi
          |FROM terms""".stripMargin
    else
      core +
        """
          |SELECT CAST(bin AS BIGINT) AS bin, n_old, n_new, psi_term_micro
          |FROM terms ORDER BY bin""".stripMargin
  }

  /** Twin of the 64/16 chunking: same single-space normalization, same
    * 1-based inclusive token slice, same max(1, ceil((n-overlap)/stride))
    * window count (no pure-overlap tail window). */
  private lazy val chunkDocumentsSql = {
    val tk = """regexp_split_to_array(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')"""
    s"""WITH t AS (
       |  SELECT doc_id, $tk AS tk,
       |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($tk) END AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, tk, n,
       |    unnest(range(0, greatest(1, CAST(ceil((n - 16) / 48.0) AS BIGINT)))) AS chunk_idx
       |  FROM t WHERE n > 0)
       |SELECT doc_id, chunk_idx,
       |  array_to_string(tk[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ') AS chunk_text,
       |  least(64, n - chunk_idx * 48) AS chunk_tokens
       |FROM c
       |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** Twin of the deterministic md5 mixture: first 4 md5 hex chars of the
    * id string as an int, thresholded at rate * 65536 per stratum. */
  private lazy val mixtureSampleSql = {
    def keep(rate: Double) =
      s"('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT < ${(rate * 65536).toInt}"
    // n_copies mirrors mixtureSample: floor(rate) + hash-thresholded
    // fractional copy; unnest(range(0, n)) drops zero-copy rows
    s"""WITH l AS ($langSelectSql),
       |m AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN lang = 'en' THEN (CASE WHEN ${keep(0.5)} THEN 1 ELSE 0 END)
       |         WHEN lang = 'und' THEN 2 + (CASE WHEN ${keep(0.25)} THEN 1 ELSE 0 END)
       |         ELSE 0 END AS n_copies
       |  FROM l)
       |SELECT doc_id, lang, CAST(unnest(range(0, n_copies)) AS BIGINT) AS sample_copy
       |FROM m ORDER BY doc_id, sample_copy""".stripMargin
  }

  /** Twin of the range_join query: recompute the session intervals (the
    * sessionize CTE chain) and attach errors with a plain BETWEEN join —
    * exact at oracle scale, where the per-key cartesian is affordable. */
  private lazy val rangeJoinSql =
    """WITH e AS (SELECT event_id, epoch_us(ts) AS us, user_id, event_type FROM events),
      |b AS (
      |  SELECT user_id, us, event_id,
      |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS boundary
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |s AS (
      |  SELECT user_id, us, event_id,
      |    CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS
      |    BIGINT) AS session_idx
      |  FROM b),
      |sess AS (
      |  SELECT user_id, session_idx, min(us) AS start_us, max(us) AS end_us
      |  FROM s GROUP BY user_id, session_idx),
      |err AS (SELECT user_id, us, event_id FROM e WHERE event_type = 'error')
      |SELECT err.user_id, err.us, err.event_id, sess.session_idx
      |FROM err JOIN sess ON err.user_id = sess.user_id
      |  AND err.us BETWEEN sess.start_us AND sess.end_us
      |ORDER BY err.user_id, err.event_id, sess.session_idx""".stripMargin

  /** Twin of the asof_join query via DuckDB's NATIVE ASOF LEFT JOIN — an
    * independent implementation of the temporal-join semantics. */
  private lazy val asofJoinSql =
    """WITH e AS (SELECT event_id, epoch_us(ts) AS us, user_id, event_type, value FROM events),
      |l AS (SELECT user_id, us, event_id FROM e WHERE event_type = 'click'),
      |r AS (
      |  SELECT user_id, us, max(value) AS view_value, us AS view_us
      |  FROM e WHERE event_type = 'view' GROUP BY user_id, us)
      |SELECT l.user_id, l.us, l.event_id,
      |       r.view_value AS asof_view_value, r.view_us AS asof_view_us
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.us >= r.us
      |ORDER BY l.user_id, l.event_id""".stripMargin

  /** Twin of the repetition/symbol signals; DuckDB `/` on integers is
    * float division, matching Spark's double cast. */
  private lazy val qualitySignalsSql = {
    val tk = """regexp_split_to_array(lower(trim(text)), '\s+')"""
    val ln = """regexp_split_to_array(text, '\n')"""
    s"""SELECT doc_id,
       |  round(CASE WHEN length(trim(text)) = 0 THEN 0.0
       |        ELSE 1.0 - len(list_distinct($tk)) / len($tk) END, 6) AS dup_token_frac,
       |  round(CASE WHEN length(text) = 0 THEN 0.0
       |        ELSE 1.0 - len(list_distinct($ln)) / len($ln) END, 6) AS dup_line_frac,
       |  round(CASE WHEN length(text) = 0 THEN 0.0
       |        ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\\s.,!?;:''"()-]', '', 'g')) AS DOUBLE) /
       |    length(text) END, 6) AS symbol_ratio
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Same lookaround-free patterns as [[TextFunctions.scrubPii]], global
    * flag for Spark's replace-all semantics, same email -> URL -> digits
    * pass order. */
  private lazy val scrubPiiSql =
    """SELECT doc_id,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      'https?://[^\s]+', '<URL>', 'g'),
      |    '[0-9]{6,}', '<NUM>', 'g') AS scrubbed
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Twin of [[graft.operators.Tfidf.topTerms]] (k=3, minDf=2): same
    * smoothed idf with the division inside the ln, tf BIGINT * DOUBLE,
    * ties by term ascending. */
  private lazy val tfidfSql =
    """WITH toks AS (
      |  SELECT doc_id AS id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |t AS (SELECT id, term, count(*) AS tf FROM toks WHERE length(term) > 0 GROUP BY 1, 2),
      |d AS (SELECT term, count(*) AS df FROM t GROUP BY 1 HAVING count(*) >= 2),
      |s AS (
      |  SELECT t.id, t.term, t.tf, d.df,
      |    t.tf * (ln(((SELECT count(DISTINCT doc_id) FROM documents) + 1) / (d.df + 1)) + 1.0) AS tfidf
      |  FROM t JOIN d USING (term)),
      |r AS (
      |  SELECT id, term, tf, df, tfidf,
      |    CAST(row_number() OVER (PARTITION BY id ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rank
      |  FROM s)
      |SELECT id, term, tf, df, round(tfidf, 6) AS tfidf, rank
      |FROM r WHERE rank <= 3 ORDER BY id, rank""".stripMargin

  /** Exact replica of [[Tfidf.bm25TopK]] (k1=1.2, b=0.75, k=5) on the
    * three first-8-token probe queries: same tokenization, same idf and
    * saturation expressions with the SAME literal op sequence
    * ((1.2 + 1.0), not 2.2 — the parsed-literal sum must match the JVM's
    * compile-time k1+1.0 bit-for-bit), and the per-(query, doc) score
    * summed with `sum(s ORDER BY term)` — the ordered left fold matching
    * the Spark side's term-sorted in-row `aggregate` (the DSIR rule). */
  /** The bm25 pipeline CTEs through the ranked table `r` (also exposes
    * `qd`, the per-query distinct term sets) — shared by [[bm25Sql]]
    * and the snippets twin. */
  private lazy val bm25Ctes =
    """toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |t AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE length(term) > 0 GROUP BY 1, 2),
      |dl AS (SELECT doc_id, sum(tf) AS dl FROM t GROUP BY 1),
      |st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |qd AS (
      |  SELECT DISTINCT doc_id AS query_id, term FROM (
      |    SELECT doc_id,
      |      unnest(list_slice(regexp_split_to_array(lower(trim(text)), '\s+'), 1, 8)) AS term
      |    FROM documents WHERE doc_id < 3)
      |  WHERE length(term) > 0),
      |dfq AS (
      |  SELECT term, count(*) AS df FROM t
      |  WHERE term IN (SELECT term FROM qd) GROUP BY 1),
      |sc AS (
      |  SELECT qd.query_id, t.doc_id, qd.term,
      |    ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
      |      * (t.tf * (1.2 + 1.0))
      |      / (t.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / st.avgdl)) AS s
      |  FROM qd
      |  JOIN t USING (term)
      |  JOIN dfq USING (term)
      |  JOIN dl ON t.doc_id = dl.doc_id
      |  CROSS JOIN st),
      |agg AS (
      |  SELECT query_id, doc_id, count(*) AS n_terms,
      |    sum(s ORDER BY term) AS score
      |  FROM sc GROUP BY 1, 2),
      |r AS (
      |  SELECT query_id, doc_id, n_terms, score,
      |    CAST(row_number() OVER (
      |      PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
      |  FROM agg)""".stripMargin

  private lazy val bm25Sql =
    s"""WITH $bm25Ctes
       |SELECT query_id, doc_id, n_terms, round(score, 6) AS score, rank
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Snippet twin: top-3 bm25 hits, first query-term position via the
    * same index-lambda scan (list_min skips nulls, like array_min), and
    * the identical greatest/least window arithmetic. */
  private lazy val bm25SnippetsSql =
    s"""WITH $bm25Ctes,
       |hits AS (SELECT query_id, doc_id FROM r WHERE rank <= 3),
       |dtok AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
       |  FROM documents),
       |qt2 AS (SELECT query_id, list(DISTINCT term) AS qt FROM qd GROUP BY 1),
       |p AS (
       |  SELECT h.query_id, h.doc_id, tk,
       |    list_min(list_transform(range(1, len(tk) + 1),
       |      i -> CASE WHEN list_contains(qt, tk[i]) THEN i END)) AS first_pos
       |  FROM hits h JOIN dtok USING (doc_id) JOIN qt2 USING (query_id))
       |SELECT query_id, doc_id, CAST(first_pos AS INTEGER) AS first_pos,
       |  CASE WHEN first_pos IS NOT NULL THEN
       |    array_to_string(list_slice(tk,
       |      greatest(1, first_pos - 3), least(len(tk), first_pos + 3)), ' ')
       |  END AS snippet
       |FROM p ORDER BY query_id, doc_id""".stripMargin

  /** Hybrid-search twin: the bm25 ranked table fused with an
    * exact-cosine ranking over the aligned embeddings by the RRF fold
    * (terms summed in src order — lexical 0, semantic 1). */
  private lazy val hybridSearchSql =
    s"""WITH $bm25Ctes,
       |e AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v
       |      FROM embeddings),
       |eq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
       |es AS (
       |  SELECT query_id, e.vec_id AS corpus_id, ${cosSql("e.v", "qv")} AS cos
       |  FROM e JOIN eq ON e.vec_id <> query_id),
       |er AS (
       |  SELECT query_id, corpus_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank FROM es),
       |u AS (
       |  SELECT query_id, doc_id AS corpus_id, 0 AS src, 1.0/(60 + rank) AS term
       |  FROM r WHERE rank <= 10
       |  UNION ALL
       |  SELECT query_id, corpus_id, 1 AS src, 1.0/(60 + rank) AS term
       |  FROM er WHERE rank <= 10),
       |f AS (
       |  SELECT query_id, corpus_id, CAST(count(*) AS BIGINT) AS n_lists,
       |    sum(term ORDER BY src) AS score FROM u GROUP BY 1, 2),
       |rr AS (
       |  SELECT query_id, corpus_id, score, n_lists,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY score DESC, corpus_id) AS INTEGER) AS rank
       |  FROM f)
       |SELECT query_id, corpus_id, round(score, 6) AS rrf_score, n_lists, rank
       |FROM rr WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Trigram-shingle CTEs for the decontamination twins: corpus/bench
    * split on doc_id % 10, shingles built exactly like [[jaccardCtes]]
    * (same trim/lower/split, same >= 3-token CASE, same list_distinct). */
  private def contaminationCtes(
      keepBenchId: Boolean,
      corpusDef: String = "SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0",
      benchDef: String = "SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0"): String = {
    val benchSets =
      s"""bt AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk FROM bench),
         |bs AS (SELECT doc_id,
         |  CASE WHEN len(tk) >= 3
         |    THEN list_distinct([array_to_string(tk[i + 1 : i + 3], ' ') FOR i IN range(0, len(tk) - 2)])
         |    ELSE list_distinct([array_to_string(tk, ' ')]) END AS sh
         |  FROM bt)""".stripMargin
    val benchShingles =
      if (keepBenchId) "bsh AS (SELECT doc_id AS bench_id, unnest(sh) AS shingle FROM bs)"
      else "bshu AS (SELECT unnest(sh) AS shingle FROM bs),\nbsh AS (SELECT DISTINCT shingle FROM bshu)"
    s"""corpus AS ($corpusDef),
       |bench AS ($benchDef),
       |ct AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk FROM corpus),
       |cs AS (SELECT doc_id,
       |  CASE WHEN len(tk) >= 3
       |    THEN list_distinct([array_to_string(tk[i + 1 : i + 3], ' ') FOR i IN range(0, len(tk) - 2)])
       |    ELSE list_distinct([array_to_string(tk, ' ')]) END AS sh
       |  FROM ct),
       |csh AS (SELECT doc_id, unnest(sh) AS shingle FROM cs),
       |$benchSets,
       |$benchShingles""".stripMargin
  }

  /** Split-leakage twin: the datasetSplitSql hash-fraction buckets
    * replayed as corpus (train) / bench (test) slices, then the same
    * shingle algebra at minOverlap 3. */
  private lazy val splitLeakageSql = {
    val frac = "(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8))::BIGINT / 4294967296.0)"
    s"""WITH ${contaminationCtes(keepBenchId = false,
        corpusDef = s"SELECT doc_id, text FROM documents WHERE $frac < 0.8",
        benchDef = s"SELECT doc_id, text FROM documents WHERE $frac >= 0.9")},
       |rep AS (
       |  SELECT c.doc_id, count(*) AS n_shingles, count(b.shingle) AS n_contaminated
       |  FROM csh c LEFT JOIN bsh b ON c.shingle = b.shingle GROUP BY 1)
       |SELECT doc_id, n_shingles, n_contaminated,
       |  round(CAST(n_contaminated AS DOUBLE) / n_shingles, 6) AS contamination_ratio
       |FROM rep WHERE n_contaminated >= 3 ORDER BY doc_id""".stripMargin
  }

  private lazy val decontaminateSql =
    s"""WITH ${contaminationCtes(keepBenchId = false)},
       |rep AS (
       |  SELECT c.doc_id, count(*) AS n_shingles, count(b.shingle) AS n_contaminated
       |  FROM csh c LEFT JOIN bsh b ON c.shingle = b.shingle GROUP BY 1)
       |SELECT doc_id, n_shingles, n_contaminated,
       |  round(CAST(n_contaminated AS DOUBLE) / n_shingles, 6) AS contamination_ratio
       |FROM rep WHERE n_contaminated >= 1 ORDER BY doc_id""".stripMargin

  private lazy val contaminationPairsSql =
    s"""WITH ${contaminationCtes(keepBenchId = true)},
       |p AS (
       |  SELECT c.doc_id, b.bench_id, count(*) AS n_common
       |  FROM csh c JOIN bsh b ON c.shingle = b.shingle GROUP BY 1, 2)
       |SELECT doc_id, bench_id, n_common FROM p
       |WHERE n_common >= 3 ORDER BY doc_id, bench_id""".stripMargin

  /** Shared CTEs for the semantic-decontamination twins: the planted
    * corpus sliced into bench (base vec_id < 100) and corpus (the rest +
    * twins), md5-plane signatures at the corpus-sized auto width
    * (bands = 2), banded buckets on BOTH sides, distinct cross-side
    * candidates, exact cosine. */
  private lazy val semanticDecontaminateCtes = {
    val weight = """(('0x' || substr(md5(p.p::VARCHAR || '_' || i::VARCHAR), 1, 15))::BIGINT
      | / 576460752303423488.0 - 1.0)""".stripMargin
    s"""$plantedCorpusCte,
       |corp AS (SELECT vec_id, v FROM corpus
       |  WHERE vec_id >= 100 AND list_inner_product(v, v) > 0),
       |bench AS (SELECT vec_id AS bench_id, v FROM corpus
       |  WHERE vec_id < 100 AND list_inner_product(v, v) > 0),
       |${autoRpbCte("corp")},
       |cproj AS (
       |  SELECT c.vec_id, p.p,
       |    list_sum([c.v[i + 1] * $weight FOR i IN range(0, len(c.v))]) AS pr
       |  FROM corp c, w, range(0, 62) p(p) WHERE p.p < 2 * w.rpb),
       |csig AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS sig
       |  FROM cproj GROUP BY vec_id),
       |cbanded AS (
       |  SELECT vec_id, b.b AS band,
       |    (sig >> (b.b * w.rpb)) & ((1::BIGINT << w.rpb) - 1) AS bucket
       |  FROM csig, w, range(0, 2) b(b)),
       |bproj AS (
       |  SELECT c.bench_id, p.p,
       |    list_sum([c.v[i + 1] * $weight FOR i IN range(0, len(c.v))]) AS pr
       |  FROM bench c, w, range(0, 62) p(p) WHERE p.p < 2 * w.rpb),
       |bsig AS (
       |  SELECT bench_id,
       |    CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS sig
       |  FROM bproj GROUP BY bench_id),
       |bbanded AS (
       |  SELECT bench_id, b.b AS band,
       |    (sig >> (b.b * w.rpb)) & ((1::BIGINT << w.rpb) - 1) AS bucket
       |  FROM bsig, w, range(0, 2) b(b)),
       |cand AS (
       |  SELECT DISTINCT c.vec_id, bb.bench_id
       |  FROM cbanded c JOIN bbanded bb USING (band, bucket)),
       |sem AS (
       |  SELECT cand.vec_id, cand.bench_id, ${cosSql("ca.v", "cb.v")} AS cos
       |  FROM cand
       |  JOIN corp ca ON ca.vec_id = cand.vec_id
       |  JOIN bench cb ON cb.bench_id = cand.bench_id)""".stripMargin
  }

  private lazy val semanticDecontaminateSql =
    s"""WITH $semanticDecontaminateCtes
       |SELECT vec_id, bench_id, round(cos, 6) AS cosine
       |FROM sem WHERE cos >= 0.9 ORDER BY vec_id, bench_id""".stripMargin

  private lazy val semanticDecontaminateFlagSql =
    s"""WITH $semanticDecontaminateCtes
       |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_bench_matches,
       |  round(max(cos), 6) AS max_cosine
       |FROM sem WHERE cos >= 0.9 GROUP BY 1 ORDER BY vec_id""".stripMargin

  /** Naive Bayes model CTEs (twin of [[graft.operators.NaiveBayes.train]]
    * on the 2/3 train split predicting lang, vocabSize 500): (label,
    * token) counts, TakeOrdered vocabulary (count desc, token asc), dense
    * labels x vocab grid with Laplace-smoothed quantized log-likelihoods
    * (`floor(ln((cnt+1)/(tot+vused)) * 1e9)`) and quantized log priors. */
  private lazy val nbModelCtes =
    """train AS (SELECT lang AS lbl, text FROM documents WHERE doc_id % 3 <> 0),
      |ntok AS (SELECT lbl, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t FROM train),
      |ntc AS (SELECT lbl, t, count(*) AS c FROM ntok WHERE length(t) > 0 GROUP BY 1, 2),
      |nvocab AS (SELECT t FROM (SELECT t, sum(c) AS ct FROM ntc GROUP BY 1)
      |  ORDER BY ct DESC, t ASC LIMIT 500),
      |ndt AS (SELECT lbl, count(*) AS docs FROM train GROUP BY 1),
      |ngrand AS (SELECT sum(docs) AS alldocs FROM ndt),
      |ndense AS (
      |  SELECT ndt.lbl, v.t, ndt.docs, coalesce(ntc.c, 0) AS cnt
      |  FROM ndt CROSS JOIN nvocab v
      |  LEFT JOIN ntc ON ntc.lbl = ndt.lbl AND ntc.t = v.t),
      |nlt AS (SELECT lbl, sum(cnt) AS tot, count(*) AS vused FROM ndense GROUP BY 1),
      |model AS (
      |  SELECT ndense.lbl AS label, ndense.t AS token, CAST(cnt AS BIGINT) AS cnt,
      |    CAST(floor(ln(CAST(cnt + 1 AS DOUBLE) / CAST(tot + vused AS DOUBLE)) * 1e9) AS BIGINT) AS logp_q,
      |    CAST(floor(ln(CAST(docs AS DOUBLE) / CAST(alldocs AS DOUBLE)) * 1e9) AS BIGINT) AS prior_q
      |  FROM ndense JOIN nlt USING (lbl), ngrand)""".stripMargin

  /** Classification CTEs over the held-out third: per-(doc, label) exact
    * integer score sums, argmax via (score desc, label asc) row_number,
    * prior-argmax fallback for zero-evidence docs. */
  private lazy val nbClassifyCtes =
    """ntest AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
      |nttok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t FROM ntest),
      |npl AS (
      |  SELECT tt.doc_id, m.label, min(m.prior_q) + sum(m.logp_q) AS score, count(*) AS known
      |  FROM (SELECT doc_id, t FROM nttok WHERE length(t) > 0) tt
      |  JOIN model m ON m.token = tt.t
      |  GROUP BY 1, 2),
      |nranked AS (
      |  SELECT doc_id, label, score, known,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label ASC) AS rn
      |  FROM npl),
      |nfb AS (SELECT label AS fl, prior_q AS fn
      |  FROM (SELECT DISTINCT label, prior_q FROM model)
      |  ORDER BY prior_q DESC, label ASC LIMIT 1),
      |cls AS (
      |  SELECT t.doc_id,
      |    coalesce(b.label, nfb.fl) AS predicted,
      |    CAST(coalesce(b.score, nfb.fn) AS BIGINT) AS score_q,
      |    CAST(coalesce(b.known, 0) AS BIGINT) AS n_known
      |  FROM ntest t
      |  LEFT JOIN (SELECT * FROM nranked WHERE rn = 1) b ON b.doc_id = t.doc_id, nfb)""".stripMargin

  private lazy val nbTrainSql =
    s"""WITH $nbModelCtes
       |SELECT label, token, cnt, logp_q, prior_q FROM model
       |ORDER BY label, token""".stripMargin

  /** [[graft.operators.NaiveBayes.features]]'s namespace guard, DuckDB
    * side: in bigram mode a REAL token that looks like a bucket id
    * (`bg#7`) escapes to `t#bg#7` in the emitted unigram stream so it
    * can never merge counts with a synthetic bigram feature. Matches
    * the Spark side's injective form (r19 ADVICE): every token matching
    * `^(t#)*bg#\d+$` — including already-`t#`-prefixed look-alikes like
    * a real corpus token `t#bg#7` — gets one more `t#`, so no two raw
    * tokens map to the same feature name. */
  // def, NOT val: the oracle map val is declared earlier in the file and
  // forces the CTE lazy vals during object init, before later plain vals
  // initialize — a val here interpolates as null into every consumer
  private def escBg =
    """CASE WHEN regexp_matches(x, '^(t#)*bg#\d+$') THEN 't#' || x ELSE x END"""

  /** Bigram-model CTEs: the [[nbModelCtes]] chain with the feature
    * stream extended by hashed bigrams — each adjacent pair of the
    * FILTERED token array hashes via the md5-prefix hash into one of
    * 64 buckets as `bg#<bucket>` (the 60-bit hash is non-negative, so
    * `%` replays Spark's pmod exactly), and the emitted unigrams pass
    * the [[escBg]] namespace guard. */
  private lazy val nbBigramModelCtes = {
    val tk = """list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> length(x) > 0)"""
    val bg = """'bg#' || ((('0x' || substr(md5(tk[i] || ' ' || tk[i + 1]), 1, 15))::BIGINT % 64)::VARCHAR)"""
    s"""train AS (SELECT lang AS lbl, text FROM documents WHERE doc_id % 3 <> 0),
       |ntk AS (SELECT lbl, $tk AS tk FROM train),
       |ntok AS (
       |  SELECT lbl, unnest(list_transform(tk, x -> $escBg)) AS t FROM ntk
       |  UNION ALL
       |  SELECT lbl, unnest(list_transform(range(1, len(tk)), i -> $bg)) AS t FROM ntk),
       |ntc AS (SELECT lbl, t, count(*) AS c FROM ntok GROUP BY 1, 2),
       |nvocab AS (SELECT t FROM (SELECT t, sum(c) AS ct FROM ntc GROUP BY 1)
       |  ORDER BY ct DESC, t ASC LIMIT 500),
       |ndt AS (SELECT lbl, count(*) AS docs FROM train GROUP BY 1),
       |ngrand AS (SELECT sum(docs) AS alldocs FROM ndt),
       |ndense AS (
       |  SELECT ndt.lbl, v.t, ndt.docs, coalesce(ntc.c, 0) AS cnt
       |  FROM ndt CROSS JOIN nvocab v
       |  LEFT JOIN ntc ON ntc.lbl = ndt.lbl AND ntc.t = v.t),
       |nlt AS (SELECT lbl, sum(cnt) AS tot, count(*) AS vused FROM ndense GROUP BY 1),
       |model AS (
       |  SELECT ndense.lbl AS label, ndense.t AS token, CAST(cnt AS BIGINT) AS cnt,
       |    CAST(floor(ln(CAST(cnt + 1 AS DOUBLE) / CAST(tot + vused AS DOUBLE)) * 1e9) AS BIGINT) AS logp_q,
       |    CAST(floor(ln(CAST(docs AS DOUBLE) / CAST(alldocs AS DOUBLE)) * 1e9) AS BIGINT) AS prior_q
       |  FROM ndense JOIN nlt USING (lbl), ngrand)""".stripMargin
  }

  /** Bigram classify CTEs over the held-out third — [[nbClassifyCtes]]
    * with the same extended feature stream. */
  private lazy val nbBigramClassifyCtes = {
    val tk = """list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> length(x) > 0)"""
    val bg = """'bg#' || ((('0x' || substr(md5(tk[i] || ' ' || tk[i + 1]), 1, 15))::BIGINT % 64)::VARCHAR)"""
    s"""ntest AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
       |nttk AS (SELECT doc_id, $tk AS tk FROM ntest),
       |nttok AS (
       |  SELECT doc_id, unnest(list_transform(tk, x -> $escBg)) AS t FROM nttk
       |  UNION ALL
       |  SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> $bg)) AS t FROM nttk),
       |npl AS (
       |  SELECT tt.doc_id, m.label, min(m.prior_q) + sum(m.logp_q) AS score, count(*) AS known
       |  FROM nttok tt
       |  JOIN model m ON m.token = tt.t
       |  GROUP BY 1, 2),
       |nranked AS (
       |  SELECT doc_id, label, score, known,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label ASC) AS rn
       |  FROM npl),
       |nfb AS (SELECT label AS fl, prior_q AS fn
       |  FROM (SELECT DISTINCT label, prior_q FROM model)
       |  ORDER BY prior_q DESC, label ASC LIMIT 1),
       |cls AS (
       |  SELECT t.doc_id,
       |    coalesce(b.label, nfb.fl) AS predicted,
       |    CAST(coalesce(b.score, nfb.fn) AS BIGINT) AS score_q,
       |    CAST(coalesce(b.known, 0) AS BIGINT) AS n_known
       |  FROM ntest t
       |  LEFT JOIN (SELECT * FROM nranked WHERE rn = 1) b ON b.doc_id = t.doc_id, nfb)""".stripMargin
  }

  /** Parameterized NB train + confusion chain over the planted ORDER
    * corpus ([[orderCorpus]]'s CTE twin): `bigram` toggles the hashed-
    * bigram feature stream, everything else — vocabulary cut, dense
    * grid, quantized logs, argmax, fallback — replays the lang-corpus
    * CTEs verbatim at vocabSize 16. */
  private def nbOrderSql(bigram: Boolean): String = {
    val tk = """list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> length(x) > 0)"""
    val bg = """'bg#' || ((('0x' || substr(md5(tk[i] || ' ' || tk[i + 1]), 1, 15))::BIGINT % 64)::VARCHAR)"""
    val trainFeat =
      if (bigram)
        s"""SELECT lbl, unnest(list_transform(tk, x -> $escBg)) AS t FROM ntk
           |  UNION ALL
           |  SELECT lbl, unnest(list_transform(range(1, len(tk)), i -> $bg)) AS t FROM ntk""".stripMargin
      else "SELECT lbl, unnest(tk) AS t FROM ntk"
    val testFeat =
      if (bigram)
        s"""SELECT doc_id, unnest(list_transform(tk, x -> $escBg)) AS t FROM nttk
           |  UNION ALL
           |  SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> $bg)) AS t FROM nttk""".stripMargin
      else "SELECT doc_id, unnest(tk) AS t FROM nttk"
    s"""WITH ocorp AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 2 = 0 THEN 'fwd' ELSE 'rev' END AS cls,
       |    repeat(CASE WHEN doc_id % 2 = 0 THEN 'ord0 ord2 ord3 '
       |           ELSE 'ord3 ord2 ord0 ' END,
       |      CAST(3 + doc_id % 5 AS INT)) AS text
       |  FROM documents),
       |train AS (SELECT cls AS lbl, text FROM ocorp WHERE doc_id % 3 <> 0),
       |ntk AS (SELECT lbl, $tk AS tk FROM train),
       |ntok AS ($trainFeat),
       |ntc AS (SELECT lbl, t, count(*) AS c FROM ntok GROUP BY 1, 2),
       |nvocab AS (SELECT t FROM (SELECT t, sum(c) AS ct FROM ntc GROUP BY 1)
       |  ORDER BY ct DESC, t ASC LIMIT 16),
       |ndt AS (SELECT lbl, count(*) AS docs FROM train GROUP BY 1),
       |ngrand AS (SELECT sum(docs) AS alldocs FROM ndt),
       |ndense AS (
       |  SELECT ndt.lbl, v.t, ndt.docs, coalesce(ntc.c, 0) AS cnt
       |  FROM ndt CROSS JOIN nvocab v
       |  LEFT JOIN ntc ON ntc.lbl = ndt.lbl AND ntc.t = v.t),
       |nlt AS (SELECT lbl, sum(cnt) AS tot, count(*) AS vused FROM ndense GROUP BY 1),
       |model AS (
       |  SELECT ndense.lbl AS label, ndense.t AS token, CAST(cnt AS BIGINT) AS cnt,
       |    CAST(floor(ln(CAST(cnt + 1 AS DOUBLE) / CAST(tot + vused AS DOUBLE)) * 1e9) AS BIGINT) AS logp_q,
       |    CAST(floor(ln(CAST(docs AS DOUBLE) / CAST(alldocs AS DOUBLE)) * 1e9) AS BIGINT) AS prior_q
       |  FROM ndense JOIN nlt USING (lbl), ngrand),
       |ntest AS (SELECT doc_id, text FROM ocorp WHERE doc_id % 3 = 0),
       |nttk AS (SELECT doc_id, $tk AS tk FROM ntest),
       |nttok AS ($testFeat),
       |npl AS (
       |  SELECT tt.doc_id, m.label, min(m.prior_q) + sum(m.logp_q) AS score, count(*) AS known
       |  FROM nttok tt
       |  JOIN model m ON m.token = tt.t
       |  GROUP BY 1, 2),
       |nranked AS (
       |  SELECT doc_id, label, score, known,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label ASC) AS rn
       |  FROM npl),
       |nfb AS (SELECT label AS fl, prior_q AS fn
       |  FROM (SELECT DISTINCT label, prior_q FROM model)
       |  ORDER BY prior_q DESC, label ASC LIMIT 1),
       |clsout AS (
       |  SELECT t.doc_id, coalesce(b.label, nfb.fl) AS predicted
       |  FROM ntest t
       |  LEFT JOIN (SELECT * FROM nranked WHERE rn = 1) b ON b.doc_id = t.doc_id, nfb)
       |SELECT d.cls AS actual, clsout.predicted, count(*) AS n
       |FROM clsout JOIN (SELECT doc_id, cls FROM ocorp WHERE doc_id % 3 = 0) d
       |  USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  private lazy val nbTrainBigramSql =
    s"""WITH $nbBigramModelCtes
       |SELECT label, token, cnt, logp_q, prior_q FROM model
       |ORDER BY label, token""".stripMargin

  private lazy val nbConfusionBigramSql =
    s"""WITH $nbBigramModelCtes,
       |$nbBigramClassifyCtes
       |SELECT d.lang AS actual, cls.predicted, count(*) AS n
       |FROM cls JOIN (SELECT doc_id, lang FROM documents WHERE doc_id % 3 = 0) d
       |  USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private lazy val nbClassifySql =
    s"""WITH $nbModelCtes,
       |$nbClassifyCtes
       |SELECT doc_id, predicted, score_q, n_known FROM cls ORDER BY doc_id""".stripMargin

  private lazy val nbConfusionSql =
    s"""WITH $nbModelCtes,
       |$nbClassifyCtes
       |SELECT d.lang AS actual, cls.predicted, count(*) AS n
       |FROM cls JOIN (SELECT doc_id, lang FROM documents WHERE doc_id % 3 = 0) d
       |  USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Hashed-document-vector CTEs (twin of
    * [[graft.functions.TextFunctions.hashedVector]] at dim 64 with the
    * md5 token hash): signed token buckets, per-(doc, bucket) sums,
    * dense 64-slot grid. */
  private lazy val hashedVectorCtes =
    """hvtok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
      |  FROM documents),
      |hvsg AS (SELECT doc_id,
      |    ('0x' || substr(md5(t), 1, 15))::BIGINT % 64 AS bucket,
      |    CASE WHEN ('0x' || substr(md5(t || '#sgn'), 1, 15))::BIGINT % 2 = 0
      |      THEN 1 ELSE -1 END AS sgn
      |  FROM hvtok WHERE length(t) > 0),
      |hvagg AS (SELECT doc_id, bucket, sum(sgn) AS w FROM hvsg GROUP BY 1, 2),
      |hvgrid AS (SELECT doc_id, j.j AS bucket
      |  FROM (SELECT DISTINCT doc_id FROM documents) d, range(0, 64) j(j)),
      |hvlong AS (
      |  SELECT doc_id, bucket, coalesce(CAST(w AS DOUBLE), 0.0) AS weight
      |  FROM hvgrid LEFT JOIN hvagg USING (doc_id, bucket))""".stripMargin

  private lazy val hashedDocVectorsSql =
    s"""WITH $hashedVectorCtes
       |SELECT doc_id, bucket, weight FROM hvlong ORDER BY doc_id, bucket""".stripMargin

  /** Twin of the hashed_doc_knn composition: the hashed vectors as dense
    * lists (zero vectors dropped, matching the Spark-side dot > 0
    * filter), then the knnGraphSql machinery — md5 plane weights,
    * auto-sized signature, 2 bands, per-node (cos DESC, nbr ASC) top-3. */
  private lazy val hashedDocKnnSql = {
    val weight = """(('0x' || substr(md5(p.p::VARCHAR || '_' || i::VARCHAR), 1, 15))::BIGINT
      | / 576460752303423488.0 - 1.0)""".stripMargin
    s"""WITH $hashedVectorCtes,
       |hvcorpus AS (
       |  SELECT doc_id AS vec_id, list(weight ORDER BY bucket) AS v
       |  FROM hvlong GROUP BY doc_id),
       |corpus AS (SELECT vec_id, v FROM hvcorpus WHERE list_inner_product(v, v) > 0),
       |${autoRpbCte("corpus")},
       |proj AS (
       |  SELECT c.vec_id, p.p,
       |    list_sum([c.v[i + 1] * $weight FOR i IN range(0, len(c.v))]) AS pr
       |  FROM corpus c, w, range(0, 62) p(p) WHERE p.p < 2 * w.rpb),
       |sig AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS sig
       |  FROM proj GROUP BY vec_id),
       |banded AS (
       |  SELECT vec_id, b.b AS band,
       |    (sig >> (b.b * w.rpb)) & ((1::BIGINT << w.rpb) - 1) AS bucket
       |  FROM sig, w, range(0, 2) b(b)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id, bb.vec_id AS nbr
       |  FROM banded a JOIN banded bb USING (band, bucket)
       |  WHERE a.vec_id <> bb.vec_id),
       |scored AS (
       |  SELECT id, nbr, ${cosSql("ca.v", "cb.v")} AS cos
       |  FROM cand
       |  JOIN corpus ca ON ca.vec_id = id
       |  JOIN corpus cb ON cb.vec_id = nbr),
       |ranked AS (
       |  SELECT id, nbr, cos,
       |    CAST(row_number() OVER (PARTITION BY id ORDER BY cos DESC, nbr) AS INT) AS rank
       |  FROM scored)
       |SELECT id, nbr, round(cos, 6) AS cosine, rank FROM ranked
       |WHERE rank <= 3 ORDER BY id, rank""".stripMargin
  }

  private lazy val globalShuffleSql = {
    val key = "md5(CAST(doc_id AS VARCHAR) || ':42')"
    s"""SELECT doc_id, $key AS shuffle_key,
       |  CAST(('0x' || substr($key, 1, 8))::BIGINT % 8 AS INTEGER) AS shard
       |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin
  }

  /** Bounds match assignSplit's double scanLeft (0.8, 0.8+0.1): the
    * hash fraction's 2^-32 granularity cannot land between 0.9 and the
    * computed 0.9000000000000001, so plain literals are exact twins. */
  private lazy val datasetSplitSql = {
    val frac = "(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8))::BIGINT / 4294967296.0)"
    s"""SELECT doc_id,
       |  CASE WHEN $frac < 0.8 THEN 'train'
       |       WHEN $frac < 0.9 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Same single-space normalization as chunking, 1-based list indexing;
    * docs under two tokens produce no bigrams in either engine (Spark:
    * size guard; DuckDB: range(1, 1) is empty). The avg is one double
    * division of two exact integers — deterministic in both engines. */
  private lazy val bigramScoreSql = {
    val tk = """regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')"""
    s"""WITH t AS (SELECT doc_id, $tk AS tk FROM documents),
       |b AS (SELECT doc_id,
       |  unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])) AS bg
       |  FROM t WHERE len(tk) >= 2),
       |c AS (SELECT bg, count(*) AS cnt FROM b GROUP BY 1)
       |SELECT b.doc_id, count(*) AS n_bigrams, CAST(sum(c.cnt) AS BIGINT) AS freq_sum,
       |  round(CAST(sum(c.cnt) AS DOUBLE) / count(*), 6) AS avg_bigram_freq
       |FROM b JOIN c USING (bg) GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  /** DSIR twin: same tokenization as [[bigramScoreSql]], unigram+bigram
    * grams, md5-prefix bucket hash ([[Dedup.md5TokenHash60]] % 1024),
    * Laplace-1 log-ratio table between the lang='de' target and the full
    * corpus, and an ORDERED per-doc sum (bucket order) matching the Spark
    * side's sorted in-row fold bit-for-bit. */
  private lazy val dsirScoresSql = {
    val tk = """regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')"""
    s"""WITH t AS (SELECT doc_id, lang, $tk AS tk FROM documents),
       |g AS (SELECT doc_id, lang, unnest(list_concat(tk,
       |        list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1]))) AS gram
       |      FROM t),
       |b AS (SELECT doc_id, lang,
       |        ('0x' || substr(md5(gram), 1, 15))::BIGINT % 1024 AS bucket FROM g),
       |tc AS (SELECT bucket, count(*) AS tc FROM b WHERE lang = 'de' GROUP BY 1),
       |qc AS (SELECT bucket, count(*) AS qc FROM b GROUP BY 1),
       |r AS (SELECT coalesce(tc.bucket, qc.bucket) AS bucket,
       |        ln((coalesce(tc, 0) + 1.0) / ((SELECT sum(tc) FROM tc) + 1.0 * 1024))
       |      - ln((coalesce(qc, 0) + 1.0) / ((SELECT sum(qc) FROM qc) + 1.0 * 1024)) AS logr
       |      FROM tc FULL JOIN qc ON tc.bucket = qc.bucket),
       |db AS (SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY 1, 2),
       |s AS (SELECT db.doc_id, sum(db.c) AS n_grams,
       |        sum(db.c * r.logr ORDER BY db.bucket) AS log_weight
       |      FROM db JOIN r USING (bucket) GROUP BY 1)
       |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       |  round(log_weight, 6) AS log_weight
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** Exact replica of [[Scoring.pmiCollocations]] (k=40, minCount=5):
    * same tokenization, exact integer gram counts, and the identical
    * closed-form PMI double (counts enter as exact doubles, one op
    * order), totals cast to BIGINT so DuckDB's HUGEINT sum cannot
    * change the arithmetic. */
  private lazy val pmiCollocationsSql = {
    val tk = """regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')"""
    s"""WITH t AS (SELECT doc_id, $tk AS tk FROM documents),
       |u AS (SELECT unnest(tk) AS w FROM t),
       |uc AS (SELECT w, count(*) AS c FROM u WHERE length(w) > 0 GROUP BY 1),
       |bgs AS (
       |  SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])) AS bg
       |  FROM t WHERE len(tk) >= 2),
       |pc AS (SELECT bg, count(*) AS n_pair FROM bgs GROUP BY 1 HAVING count(*) >= 5),
       |px AS (SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2, n_pair FROM pc),
       |tot AS (SELECT CAST((SELECT sum(c) FROM uc) AS BIGINT) AS n,
       |               CAST((SELECT count(*) FROM bgs) AS BIGINT) AS b),
       |s AS (
       |  SELECT w1, w2, n_pair,
       |    ln(CAST(n_pair AS DOUBLE) * n * n / (CAST(b AS DOUBLE) * c1.c * c2.c)) AS pmi
       |  FROM px
       |  JOIN uc c1 ON c1.w = px.w1
       |  JOIN uc c2 ON c2.w = px.w2
       |  CROSS JOIN tot)
       |SELECT w1, w2, n_pair, round(pmi, 6) AS pmi
       |FROM s ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 40""".stripMargin
  }

  /** Same corpus as [[bigramScoreSql]] with the deterministic top-64 cut
    * (count desc, bigram asc) and a frequency floor of 1 for untracked
    * bigrams — the broadcast-variant semantics, exactly. */
  private lazy val bigramScoreTopkSql = {
    val tk = """regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')"""
    s"""WITH t AS (SELECT doc_id, $tk AS tk FROM documents),
       |b AS (SELECT doc_id,
       |  unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])) AS bg
       |  FROM t WHERE len(tk) >= 2),
       |c AS (SELECT bg, count(*) AS cnt FROM b GROUP BY 1
       |      ORDER BY cnt DESC, bg ASC LIMIT 64)
       |SELECT b.doc_id, count(*) AS n_bigrams,
       |  CAST(sum(coalesce(c.cnt, 1)) AS BIGINT) AS freq_sum,
       |  round(CAST(sum(coalesce(c.cnt, 1)) AS DOUBLE) / count(*), 6) AS avg_bigram_freq
       |FROM b LEFT JOIN c USING (bg) GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  /** Exact replica of [[KMeans.lloyd]] (k=8, iters=2, seed=42, dim=64):
    * same hash-ranked seeds, same left-fold squared-L2 (list_sum IS a
    * left fold over doubles — verified against a manual fold), same
    * (distance@9dp, cell) argmin, same DECIMAL(18,6)-exact per-dim sums
    * with ONE double division per mean, and the same floor(x*1e6+0.5)
    * rounding everywhere — engine round() builtins disagree at halfway
    * boundaries, this IEEE op sequence cannot. */
  private lazy val kmeansCentroidsSql = {
    def iter(eTbl: String, cenTbl: String, n: Int) =
      s"""d$n AS (
         |  SELECT e.vec_id, e.v, i.cell,
         |    floor(list_sum(list_transform(range(1, 65),
         |      j -> (e.v[j] - i.v[j]) * (e.v[j] - i.v[j]))) * 1e9 + 0.5) / 1e9 AS d
         |  FROM $eTbl e CROSS JOIN $cenTbl i),
         |a$n AS (
         |  SELECT vec_id, v, cell FROM (
         |    SELECT vec_id, v, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM d$n)
         |  WHERE rn = 1),
         |s$n AS (
         |  SELECT cell, t.j AS j,
         |    floor(CAST(sum(CAST(v[t.j] AS DECIMAL(18,6))) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS c,
         |    count(*) AS n
         |  FROM a$n CROSS JOIN generate_series(1, 64) AS t(j)
         |  GROUP BY cell, t.j),
         |f$n AS (
         |  SELECT i.cell, coalesce(cv.v, i.v) AS v
         |  FROM $cenTbl i LEFT JOIN
         |    (SELECT cell, list(c ORDER BY j) AS v FROM s$n GROUP BY cell) cv USING (cell))""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> floor(x * 1e6 + 0.5) / 1e6) AS v
       |  FROM embeddings),
       |init AS (
       |  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INTEGER) AS cell, v
       |  FROM (SELECT md5(CAST(vec_id AS VARCHAR) || ':42') AS h, vec_id, v
       |        FROM e ORDER BY h, vec_id LIMIT 8)),
       |${iter("e", "init", 1)},
       |${iter("e", "f1", 2)}
       |SELECT f.cell, CAST(t.j - 1 AS INTEGER) AS dim,
       |  coalesce(s.c, f.v[t.j]) AS c, CAST(coalesce(s.n, 0) AS BIGINT) AS n
       |FROM f1 f CROSS JOIN generate_series(1, 64) AS t(j)
       |LEFT JOIN s2 s ON s.cell = f.cell AND s.j = t.j
       |ORDER BY f.cell, dim""".stripMargin
  }

  /** quantile_cont ≡ Spark `percentile` at p=0.5 (the group_percentiles
    * precedent); quality is pre-rounded to 6 dp so the midpoint
    * interpolation is exact in both engines. Strict > drops the at-median
    * documents of odd-sized strata in both engines alike. */
  private lazy val qualityFilterStratifiedSql =
    s"""WITH s AS (SELECT doc_id, lang, $qualityExprSql AS quality FROM documents),
       |t AS (SELECT lang, quantile_cont(quality, 0.5) AS thr FROM s GROUP BY 1)
       |SELECT s.doc_id, s.lang, s.quality FROM s JOIN t USING (lang)
       |WHERE s.quality > t.thr ORDER BY doc_id""".stripMargin

  /** GROUP BY CUBE twin — the driver's canon re-sorts rows engine-side,
    * so Spark/DuckDB NULL-ordering differences never matter. */
  private lazy val corpusCubeSql = {
    val tkRaw = """regexp_split_to_array(trim(text), '\s+')"""
    s"""SELECT lang, source, count(*) AS n_docs,
       |  CAST(sum(tk) AS BIGINT) AS total_tokens,
       |  round(CAST(sum(CAST(q AS DECIMAL(18,10))) AS DOUBLE) / count(*), 6) AS avg_quality
       |FROM (SELECT lang, source, $qualityExprSql AS q,
       |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($tkRaw) END AS BIGINT) AS tk
       |  FROM documents)
       |GROUP BY CUBE (lang, source)
       |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin
  }

  private lazy val vocabTopkSql =
    """WITH toks AS (
      |  SELECT doc_id AS id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |t AS (SELECT id, term, count(*) AS tf FROM toks WHERE length(term) > 0 GROUP BY 1, 2),
      |v AS (SELECT term, CAST(sum(tf) AS BIGINT) AS term_count, count(*) AS doc_freq FROM t GROUP BY 1)
      |SELECT term, term_count, doc_freq FROM v WHERE term_count >= 2
      |ORDER BY term_count DESC, term ASC LIMIT 50""".stripMargin

  private lazy val sourceQualityRollupSql = {
    val tkRaw = """regexp_split_to_array(trim(text), '\s+')"""
    s"""SELECT source, count(*) AS n_docs,
       |  round(CAST(sum(CAST(q AS DECIMAL(18,10))) AS DOUBLE) / count(*), 6) AS avg_quality,
       |  CAST(sum(tk) AS BIGINT) AS total_tokens
       |FROM (SELECT source, $qualityExprSql AS q,
       |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($tkRaw) END AS BIGINT) AS tk
       |  FROM documents)
       |GROUP BY 1 ORDER BY source""".stripMargin
  }

  /** Twin of the distributed exclusive prefix sum + budget chunking: the
    * single ordered window IS the semantic definition; the Spark side
    * computes the same offsets without the one-task window. */
  private lazy val packSequencesSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    coalesce(CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |    AS BIGINT), 0) AS "offset"
      |  FROM t)
      |SELECT doc_id, n_tokens, "offset", "offset" // 2048 AS pack_id, "offset" % 2048 AS pack_offset
      |FROM c ORDER BY doc_id""".stripMargin

  /** Twin of [[graft.functions.TextFunctions.bpeishTokenCount]]: the same
    * letter-run/digit-run/single-symbol alternation in DuckDB's RE2. */
  private lazy val packSequencesBpeishSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    coalesce(CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |    AS BIGINT), 0) AS "offset"
      |  FROM t)
      |SELECT doc_id, n_tokens, "offset", "offset" // 2048 AS pack_id, "offset" % 2048 AS pack_offset
      |FROM c ORDER BY doc_id""".stripMargin

  /** Shared CTE chain for the clique-corpus cluster twins: the common
    * trigram jaccard pairs at 0.8 -> direct-neighbor min per doc. On
    * transitively-closed components the propagation fixpoint equals
    * least(own id, min over DIRECT neighbors) — one join, no recursion.
    * UNCAPPED since r14: the Spark side now generates candidates via
    * the exact prefix-filtered arm, so the oracle is exact jaccard. */
  private lazy val clusterCtes =
    s"""${jaccardCtes("documents")},
       |p AS (SELECT id_a, id_b FROM cand WHERE $jaccardExprSql >= 0.8),
       |e AS (SELECT id_a AS id, id_b AS nbr FROM p UNION ALL SELECT id_b AS id, id_a AS nbr FROM p),
       |m AS (SELECT id, min(nbr) AS mn FROM e GROUP BY id),
       |lab AS (
       |  SELECT doc_id, least(doc_id, coalesce(mn, doc_id)) AS cluster_id
       |  FROM documents LEFT JOIN m ON doc_id = m.id)""".stripMargin

  private lazy val dedupClustersSql =
    s"""WITH $clusterCtes
       |SELECT doc_id, cluster_id FROM lab ORDER BY doc_id""".stripMargin

  private lazy val dedupClusterSizesSql =
    s"""WITH $clusterCtes,
       |cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |       FROM lab GROUP BY 1)
       |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
       |FROM cs GROUP BY 1 ORDER BY cluster_size""".stripMargin

  /** Twin of the incremental containment check: trigram shingle sets on
    * both sides (the jaccardCtes algebra), planted excerpts as the
    * batch, both directed containments from each candidate. */
  private lazy val containmentIncrementalSql = {
    def shingles(src: String, idAs: String, sizeAs: String, t: String) =
      s"""${t}t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk FROM $src),
         |${t}s AS (SELECT doc_id,
         |  CASE WHEN len(tk) >= 3
         |    THEN list_distinct([array_to_string(tk[i + 1 : i + 3], ' ') FOR i IN range(0, len(tk) - 2)])
         |    ELSE list_distinct([array_to_string(tk, ' ')]) END AS sh
         |  FROM ${t}t),
         |${t}sh AS (SELECT doc_id AS $idAs, len(sh) AS $sizeAs, unnest(sh) AS shingle FROM ${t}s)""".stripMargin
    s"""WITH batch AS (
       |  SELECT doc_id + 2000000 AS doc_id,
       |    array_to_string(list_slice(regexp_split_to_array(lower(trim(text)), '\\s+'), 1, 40), ' ') AS text
       |  FROM documents WHERE doc_id < 10),
       |${shingles("documents", "id_corpus", "size_corpus", "c")},
       |${shingles("batch", "id_new", "size_new", "b")},
       |cand AS (
       |  SELECT id_new, id_corpus, size_new, size_corpus, count(*) AS n_common
       |  FROM csh JOIN bsh USING (shingle) GROUP BY 1, 2, 3, 4)
       |SELECT id_new, id_corpus,
       |  round(n_common / size_new, 6) AS containment_new,
       |  round(n_common / size_corpus, 6) AS containment_corpus
       |FROM cand
       |WHERE greatest(n_common / size_new, n_common / size_corpus) >= 0.9
       |ORDER BY id_new, id_corpus""".stripMargin
  }

  /** Twin of [[graft.operators.Dedup.clusterRepresentatives]] with the
    * text_stats quality score as the policy: top quality (round-6, both
    * sides) per cluster, doc_id tie-break. */
  private lazy val clusterRepresentativesSql =
    s"""WITH $clusterCtes,
       |q AS (SELECT doc_id, $qualityExprSql AS quality FROM documents),
       |r AS (
       |  SELECT lab.doc_id, lab.cluster_id, q.quality,
       |    row_number() OVER (PARTITION BY lab.cluster_id ORDER BY q.quality DESC, lab.doc_id ASC) AS rn
       |  FROM lab JOIN q USING (doc_id))
       |SELECT doc_id, cluster_id, quality FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  private lazy val dedupDropSql =
      s"""WITH ${jaccardCtes("documents")},
         |dropped AS (
         |  SELECT DISTINCT id_b FROM cand
         |  WHERE $jaccardExprSql >= 0.8)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id_b FROM dropped)
         |ORDER BY doc_id""".stripMargin
}
