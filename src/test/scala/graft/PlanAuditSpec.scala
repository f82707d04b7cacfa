package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** The PLANS.md invariants as CI assertions: plan regressions (an
  * accidental cartesian, a lost parquet pushdown, a second sessionize
  * shuffle) fail `sbt test` instead of waiting for a human to re-run the
  * `graft.tools.PlanAudit` main. Plans are inspected with AQE disabled —
  * the audit targets the static plan (AQE's pre-runtime wrapper hides
  * exchange reuse and codegen annotations), matching the tool.
  */
class PlanAuditSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.get(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  private def plan(df: DataFrame): String =
    withConf("spark.sql.adaptive.enabled" -> "false") {
      df.queryExecution.explainString(FormattedMode)
    }

  private def q(name: String): DataFrame = QueryCatalog.queries(name)(spark, sfDir)

  /** The SQL executions `body` starts (AQE off), and its result. */
  private def countExecutions[T](body: => T): (Int, T) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => n.incrementAndGet()
        case _ =>
      }
    }
    org.apache.spark.sql.graft.ListenerBridge.waitUntilListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    try withConf("spark.sql.adaptive.enabled" -> "false") {
      val out = body
      org.apache.spark.sql.graft.ListenerBridge.waitUntilListenerBusEmpty(spark)
      (n.get(), out)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Per SQL execution `body` starts under `kv`, in order: the task count
    * of each of its jobs' final stage, in job order. */
  private def jobsPerExecution(kv: (String, String)*)(body: => Unit): Seq[Seq[Int]] = {
    import scala.collection.mutable
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    // touched only on the listener bus thread, read after it drains
    val execs = mutable.LinkedHashMap[Long, mutable.Buffer[Int]]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execs(s.executionId) = mutable.Buffer()
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => execs.get(id.toLong))
          .foreach(_ += j.stageInfos.maxBy(_.stageId).numTasks)
    }
    org.apache.spark.sql.graft.ListenerBridge.waitUntilListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    try withConf(kv: _*) {
      body
      org.apache.spark.sql.graft.ListenerBridge.waitUntilListenerBusEmpty(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    execs.values.map(_.toSeq).toSeq
  }

  test("the cartesian detector fires on an injected crossJoin (suite-red proof)") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(spark.range(3).toDF("a").crossJoin(spark.range(3).toDF("b")))
      assert(p.contains("CartesianProduct"),
        "detector must recognize a cartesian, or every assertion below is vacuous")
    }
  }

  test("no catalog query plans a CartesianProduct") {
    // topk_for_queries' BroadcastNestedLoopJoin is the documented
    // small-query-set brute scorer — a different node, still flagged if it
    // ever degrades to CartesianProduct.
    // Cost note: some builders do driver-side work at construction
    // (quantizer training, checkpoint materialization, the bucketed-table
    // write, the cluster convergence loops) — at sf0.001 that's seconds,
    // accepted for exhaustive sweep coverage.
    QueryCatalog.queries.keys.toSeq.sorted.foreach { name =>
      assert(!plan(q(name)).contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }

  test("split partition filters reach the parquet scan") {
    val p = plan(q("split_partition_left"))
    assert(p.contains("PushedFilters: [IsNotNull(l_discount), LessThanOrEqual(l_discount,0.05)]"),
      s"split filter must push to parquet:\n$p")
    assert(!p.contains("l_partkey"), "scan must prune to the selected columns")
  }

  test("sessionize runs on a single user-keyed shuffle") {
    val p = plan(q("sessionize"))
    assert("Arguments: hashpartitioning".r.findAllIn(p).size == 1,
      s"lag + cumsum + rollup must share one user-keyed exchange:\n$p")
  }

  test("batch ANN candidate join is a hash join, not a nested loop") {
    val p = plan(q("batch_ann_topk"))
    assert(p.contains("HashJoin") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("partitioned prefix sum reuses the histogram exchange and broadcasts offsets") {
    val p = plan(q("cum_counts_partitioned"))
    assert(p.contains("ReusedExchange"), "histogram shuffle must be computed once")
    assert(p.contains("BroadcastHashJoin"), "per-bucket offsets must broadcast back")
  }

  test("each tree level is one job of one stage that shuffles nothing, AQE on and off") {
    import scala.collection.mutable
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import graft.tree.DecisionTreeClassifier
    final class Exec(val site: String) {
      var jobs = 0
      val stages = mutable.Set[Int]()
      var shuffleBytes = 0L
    }
    val rows = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_quantity", "l_discount", "l_tax", "l_extendedprice", "l_returnflag")
    for (aqe <- Seq("false", "true")) {
      // touched only on the listener bus thread, read after it drains
      val execs = mutable.LinkedHashMap[Long, Exec]()
      val stageExec = mutable.Map[Int, Exec]()
      val listener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart => execs(s.executionId) = new Exec(s.description)
          case _ =>
        }
        override def onJobStart(j: SparkListenerJobStart): Unit =
          Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(id => execs.get(id.toLong)).foreach { x =>
              x.jobs += 1
              x.stages ++= j.stageIds
              j.stageIds.foreach(stageExec(_) = x)
            }
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null) stageExec.get(t.stageId)
            .foreach(_.shuffleBytes += t.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      org.apache.spark.sql.graft.ListenerBridge.waitUntilListenerBusEmpty(spark)
      spark.sparkContext.addSparkListener(listener)
      try withConf("spark.sql.adaptive.enabled" -> aqe) {
        for (bins <- Seq(None, Some(8)))
          DecisionTreeClassifier(maxDepth = Some(2), maxBins = bins).fit(rows, "l_returnflag")
        org.apache.spark.sql.graft.ListenerBridge.waitUntilListenerBusEmpty(spark)
      } finally spark.sparkContext.removeSparkListener(listener)
      val levels = execs.values.filter(_.site.contains("Split.scala")).toSeq
      assert(levels.size == 4, s"AQE $aqe: expected 2 exact + 2 binned level executions, saw " +
        execs.values.map(_.site))
      levels.foreach { l =>
        assert(l.jobs == 1 && l.stages.size == 1 && l.shuffleBytes == 0L,
          s"AQE $aqe: ${l.site} ran ${l.jobs} jobs, ${l.stages.size} stages, ${l.shuffleBytes} shuffle bytes")
      }
      // detector proof: the stats pass, a global aggregate, is seen to shuffle
      assert(execs.values.exists(x => x.stages.size >= 2 && x.shuffleBytes > 0L),
        s"AQE $aqe: the listener saw no shuffling execution, so the pins above are vacuous")
    }
  }

  test("a tree fit runs one stats pass, one query per categorical and one per level") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.tree.DecisionTreeClassifier
    val rnd = new scala.util.Random(3)
    val rows = (0 until 400).map { i =>
      val c = i % 3
      Row(c * 1.5 + rnd.nextGaussian(), rnd.nextGaussian() - c, s"g${(i + c) % 5}", c)
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("x", DoubleType), StructField("y", DoubleType),
      StructField("cat", StringType), StructField("target", IntegerType))))
    val d = 3
    val (exact, exactDepth) = countExecutions(DecisionTreeClassifier(maxDepth = Some(d),
      categoricalColumns = Seq("cat")).fit(df, "target").tree.depth)
    assert(exactDepth == d, "the fit must reach the depth cap for the count to pin every level")
    assert(exact == 1 + 1 + d, s"exact fit: 1 categorical + 1 stats pass + $d levels, ran $exact")
    val (binned, binnedDepth) = countExecutions(DecisionTreeClassifier(maxDepth = Some(d),
      maxBins = Some(8)).fit(df.drop("cat"), "target").tree.depth)
    assert(binnedDepth == d, "the fit must reach the depth cap for the count to pin every level")
    assert(binned == 1 + d, s"binned fit: 1 stats pass + $d levels, ran $binned")
  }

  test("duplicate clusters: an edge checkpoint and one star test, one round per clique") {
    import spark.implicits._
    val docs = (1L to 12L).toDF("doc_id")
    def clusters(pairs: (Long, Long)*): Map[Long, Long] =
      graft.operators.Dedup.duplicateClusters(docs, "doc_id", pairs.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (disjoint, pairLabels) = countExecutions(clusters(2L -> 1L, 3L -> 4L, 5L -> 6L))
    assert(pairLabels.filter { case (d, c) => d != c } == Map(2L -> 1L, 4L -> 3L, 6L -> 5L))
    assert(disjoint == 3, s"edge checkpoint + star test + the labels, no round: ran $disjoint")
    val (clique, cliqueLabels) = countExecutions(clusters(7L -> 8L, 8L -> 9L, 7L -> 9L, 9L -> 10L,
      7L -> 10L, 8L -> 10L))
    assert(cliqueLabels.filter { case (d, c) => d != c } == Map(8L -> 7L, 9L -> 7L, 10L -> 7L))
    assert(clique == 3 + 3, s"one round: two checkpoints and a star test more; ran $clique")
  }

  test("MinHash signatures are a narrow projection: no Generate, no id-keyed aggregate") {
    import org.apache.spark.sql.catalyst.expressions.PosExplode
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.{col, explode, lit, min, xxhash64}
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def static(df: DataFrame): SparkPlan =
      withConf("spark.sql.adaptive.enabled" -> "false")(df.queryExecution.executedPlan)
    def generates(p: SparkPlan): Seq[GenerateExec] = p.collect { case g: GenerateExec => g }
    def idAggregates(p: SparkPlan): Seq[BaseAggregateExec] = p.collect {
      case a: BaseAggregateExec if a.groupingExpressions.map(_.name) == Seq("id") => a
    }
    // detector proof: the explode/groupBy signature it replaced
    val sets = docs.select(col("doc_id").as("id"), Dedup.shingleSet(col("text"), 3).as("sh"))
    val exploded = static(sets.select(col("id"), explode(col("sh")).as("s"))
      .groupBy("id").agg(min(xxhash64(col("s"), lit(0)))))
    assert(generates(exploded).nonEmpty && idAggregates(exploded).nonEmpty,
      "Generate/aggregate detectors are vacuous")

    val sigs = static(Dedup.minHashSignatures(docs, "doc_id", "text"))
    assert(generates(sigs).isEmpty && idAggregates(sigs).isEmpty &&
      sigs.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"minHashSignatures is one projection, no shuffle:\n$sigs")
    // the pairs' only Generate is the band explode feeding the band self-join
    val pairs = static(Dedup.minHashLshJaccardPairs(docs, "doc_id", "text"))
    val gens = generates(pairs)
    assert(gens.nonEmpty && gens.forall(g => g.generator.isInstanceOf[PosExplode] &&
      g.generatorOutput.map(_.name) == Seq("band", "bucket")),
      s"no shingle Generate before the band self-join:\n$pairs")
    assert(idAggregates(pairs).isEmpty, s"no id-keyed signature aggregate:\n$pairs")
  }

  test("tfidf construction is lazy: the corpus count is in-plan, not an eager job") {
    // the parquet READ may cost a schema-inference job; the operator must not
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // drain pre-existing events so they can't be attributed to the build,
    // then register; drain again before reading the counter (a fixed
    // sleep can false-pass both ways on a loaded machine)
    org.apache.spark.sql.graft.ListenerBridge.waitUntilListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val built = graft.operators.Tfidf.topTerms(docs, "doc_id", "text", k = 3, minDf = 2)
      org.apache.spark.sql.graft.ListenerBridge.waitUntilListenerBusEmpty(spark)
      assert(jobs.get() == 0, s"building topTerms ran ${jobs.get()} Spark job(s) eagerly")
      // and the N it scores with is a plan-side aggregate, not a baked literal
      assert(built.queryExecution.optimizedPlan.toString.contains("count(distinct"),
        "corpus N must be computed in-plan")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("stratified quality filter broadcasts thresholds onto the corpus") {
    // per-stratum percentile rows are tiny; the corpus side must hash-join
    // against a broadcast, never shuffle for the join
    val p = plan(q("quality_filter_stratified"))
    assert(p.contains("BroadcastHashJoin"),
      s"stratum thresholds must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not shuffle for the threshold join:\n$p")
  }

  test("repetition signals are a pure projection - no exchange, no corpus pass") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(graft.operators.Scoring.repetitionSignals(docs, "doc_id", "text"))
    assert(!p.contains("Exchange"),
      s"char-weighted repetition signals must run at scan speed with no shuffle:\n$p")
  }

  test("dataset_split assignment is a pure projection - no exchange") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(graft.operators.Shuffling.assignSplit(
      docs, "doc_id", Seq("train" -> 0.8, "rest" -> 0.2), seed = 7L))
    assert(!p.contains("Exchange"),
      s"split assignment must run at scan speed with no shuffle:\n$p")
  }

  test("incremental dedup broadcasts the batch index onto the corpus") {
    val p = plan(q("dedup_incremental"))
    assert(p.contains("BroadcastHashJoin"),
      s"the ingest batch must broadcast; the corpus must not shuffle for the join:\n$p")
  }

  test("pair-candidate dedups shuffle ids only (no vector/signature payload)") {
    // embedding_neardup_lsh: the (id_a, id_b) dedup must not carry the
    // va/vb arrays through its exchange (the r4 verdict's #3 finding)
    val p = plan(q("embedding_neardup_lsh"))
    // a payload-free dedup is a HashAggregate node whose Keys are exactly
    // (id_a, id_b) and whose Results are exactly those two columns — a
    // vector-carrying dedup shows Results [4] (first(va), first(vb) tag along)
    val dedupAgg = "Keys \\[2\\]: \\[id_a[\\s\\S]{0,120}?id_b[\\s\\S]{0,300}?Results \\[2\\]".r
    assert(dedupAgg.findFirstIn(p).isDefined,
      s"candidate dedup must group (id_a, id_b) with no carried payload:\n$p")
  }

  test("walk skip-gram reader prunes the sink's step partitions") {
    // the delivery contract of randomWalksToSink: a window consumer
    // reads step IN [lo-w, hi+w] as a PARTITION filter (directory
    // pruning), never as a post-scan filter over the full corpus
    import spark.implicits._
    val e = (1L to 10L).map(i => i -> (i % 10 + 1)).toDF("src", "dst")
    val dir = java.nio.file.Files.createTempDirectory("plan_walk_sg").toString
    graft.operators.Paths.randomWalksToSink(e, "src", "dst",
      walksPerNode = 1, steps = 4, path = dir)
    val p = plan(graft.operators.Paths.walkSkipgramPairs(
      spark, dir, window = 1, centerLo = 2, centerHi = 2))
    val pf = "PartitionFilters: \\[[^\\]]*step[^\\]]*\\]".r.findFirstIn(p)
    assert(pf.isDefined && !pf.get.contains("PartitionFilters: []"),
      s"the sink scan must carry a step partition filter:\n$p")
  }

  test("a quantized kNN graph: three executions, two input scans, one verify shuffle") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayTransform,
      LambdaFunction, ZipWith}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec,
      ShuffleExchangeExec}
    import org.apache.spark.sql.functions.{aggregate, col, lit, transform, zip_with}
    import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType}
    val input = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def hofs(p: SparkPlan): Seq[String] = p.collect { case n => n.expressions }.flatten
      .flatMap(_.collect {
        case e @ (_: ZipWith | _: ArrayAggregate | _: ArrayTransform | _: LambdaFunction) =>
          e.getClass.getSimpleName
      })
    def scans(p: SparkPlan): Int = p.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(
        _.toString.endsWith("embeddings.parquet")) => s
    }.size
    def executions(body: => Unit): Seq[SparkPlan] = {
      val executed = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit = executed.add(qe.executedPlan)
        override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      org.apache.spark.sql.graft.ListenerBridge.waitUntilListenerBusEmpty(spark)
      spark.listenerManager.register(listener)
      try withConf("spark.sql.adaptive.enabled" -> "false") {
        body
        org.apache.spark.sql.graft.ListenerBridge.waitUntilListenerBusEmpty(spark)
      } finally spark.listenerManager.unregister(listener)
      import scala.jdk.CollectionConverters._
      executed.asScala.toSeq
    }
    /** Broadcasts planned (not reused) whose rows carry an `elem` array. */
    def broadcasts(p: SparkPlan, elem: org.apache.spark.sql.types.DataType): Int = p.collect {
      case b: BroadcastExchangeExec if b.output.exists(_.dataType match {
        case ArrayType(`elem`, _) => true
        case _ => false
      }) => b
    }.size
    // detector proofs: the HOF dot product and a transform plan every HOF
    // node, a plain select scans once
    val hofDot = aggregate(zip_with(col("embedding"), col("embedding"), (a, b) => a * b),
      lit(0.0d), (acc, x) => acc + x)
    val proof = executions(input.select(hofDot, transform(col("embedding"), x => x + 1)).collect())
    assert(proof.flatMap(hofs).toSet ==
      Set("ZipWith", "ArrayAggregate", "ArrayTransform", "LambdaFunction"),
      "HOF detector is vacuous")
    assert(proof.map(scans).sum == 1, "scan detector is vacuous")
    val plans = executions(graft.operators.Similarity.knnGraphQuantized(
      input, "vec_id", "embedding", k = 3, dim = 64).collect())
    assert(plans.size == 3 && plans.forall(hofs(_).isEmpty),
      s"stats + checkpoint + verify, every kernel native: ${plans.size} executions, " +
        s"${plans.flatMap(hofs)}")
    assert(plans.map(scans) == Seq(1, 1, 0),
      s"the stats pass and the checkpoint scan the input; saw ${plans.map(scans)}")
    val verify = plans.last
    val shuffles = verify.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1, s"the verify shuffles once, by id:\n$verify")
    val keys = shuffles.head.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        h.references.map(_.name).toSet
      case other => Set(other.toString)
    }
    assert(keys == Set("id"), s"the one shuffle is keyed by id: $keys")
    assert(broadcasts(verify, ByteType) == 1 && broadcasts(verify, DoubleType) == 1,
      s"the codes and the vectors are each broadcast once:\n$verify")
    assert(verify.collect { case r: ReusedExchangeExec => r }.size == 2,
      s"the nbr sides reuse both broadcasts:\n$verify")
  }

  test("a scoring pass over a >128-level categorical is one job, AQE on") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{broadcast, col}
    import org.apache.spark.sql.types._
    import graft.tree.{DecisionTreeClassifier, Predict}
    val rows = (0 until 2000).map(i => Row(s"level${i % 200}", (i % 7).toDouble, (i % 200) / 70))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("cat", StringType), StructField("x", DoubleType),
      StructField("target", IntegerType))))
    val model = DecisionTreeClassifier(maxDepth = Some(2), categoricalColumns = Seq("cat"))
      .fit(df, "target")
    val mapping = model.categoricalMappings("cat")
    assert(mapping.size == 200, s"the mapping must be above the old 128-level when-chain")
    val aqe = "spark.sql.adaptive.enabled" -> "true"
    // detector proof: the broadcast-join recode the kernel replaced runs
    // a broadcast job ahead of the scan in the same execution
    val viaJoin = {
      import spark.implicits._
      df.join(broadcast(mapping.toSeq.toDF("__k", "__code")), col("cat") === col("__k"), "left")
    }
    val joinJobs = jobsPerExecution(aqe)(viaJoin.collect())
    assert(joinJobs.size == 1 && joinJobs.head.size == 2,
      s"the listener must see the broadcast's job, or the pin below is vacuous: $joinJobs")
    val pass = jobsPerExecution(aqe)(Predict.predictMany(model, df).collect())
    assert(pass.size == 1 && pass.head.size == 1,
      s"one predictMany pass: one execution of one job, saw $pass")
  }

  test("the kNN verify runs spark.sql.shuffle.partitions tasks with AQE on") {
    import org.apache.spark.sql.functions.col
    val conf = Seq("spark.sql.adaptive.enabled" -> "true", "spark.sql.shuffle.partitions" -> "4")
    val input = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // detector proof: the id repartition without a width coalesces to
    // fewer tasks under the same conf
    val pairs = input.select(col("vec_id").as("id"), (col("vec_id") % 7).as("nbr"))
    val coalesced = jobsPerExecution(conf: _*)(
      pairs.repartition(col("id")).dropDuplicates("id", "nbr").collect())
    assert(coalesced.size == 1 && coalesced.head.last < 4,
      s"AQE must coalesce the by-column repartition, or the pin below is vacuous: $coalesced")
    for ((name, graph) <- Seq[(String, () => Unit)](
        "knnGraph" -> (() => graft.operators.Similarity.knnGraph(
          input, "vec_id", "embedding", k = 3, dim = 64).collect()),
        "knnGraphQuantized" -> (() => graft.operators.Similarity.knnGraphQuantized(
          input, "vec_id", "embedding", k = 3, dim = 64).collect()))) {
      val verify = jobsPerExecution(conf: _*)(graph()).last
      assert(verify.last == 4, s"$name: the verify's final stage ran ${verify.last} tasks: $verify")
    }
  }
}
