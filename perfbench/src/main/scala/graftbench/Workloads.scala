package graftbench

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.tree._

/** A workload's shape. */
sealed trait Workload {
  def name: String
  def counts: Map[String, Long]
}
final case class ExactMixed(trainRows: Long, testRows: Long, wideRows: Long) extends Workload {
  val name = "exact_mixed"
  def counts = Map("train_rows" -> trainRows, "test_rows" -> testRows, "features" -> 5L,
    "categorical_levels" -> Gen.CatLevels.toLong, "wide_rows" -> wideRows,
    "wide_features" -> Gen.WideFeatures.toLong)
}
final case class CorpusDedup(docs: Long, vectors: Long, twins: Long) extends Workload {
  val name = "corpus_dedup"
  def counts = Map("documents" -> (docs + twins), "vectors" -> (vectors + twins),
    "planted_twins" -> twins, "dim" -> Gen.Dim.toLong)
}

object Workload {
  val Names = Seq("exact_mixed", "corpus_dedup")

  def apply(name: String): Workload = name match {
    case "exact_mixed"  => ExactMixed(trainRows = 40000, testRows = 500000, wideRows = 20000)
    case "corpus_dedup" => CorpusDedup(docs = 3000, vectors = 3000, twins = 100)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${Names.mkString(", ")}")
  }
}

/** Correctness checks: every check is one attempted operation, and a
  * check that is false or throws is one failed operation. */
final class Checks {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()

  def apply(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val r = Try(ok)
    if (!r.getOrElse(false)) {
      failed += 1
      failures += name + r.failed.map(e => s": $e").getOrElse("")
    }
  }
}

/** Times the public library calls of one iteration. In a traced iteration
  * each call is also a span of the tracer. */
final class Calls(tracer: Option[Tracer]) {
  val wall = mutable.LinkedHashMap[String, Double]()
  val spans = mutable.LinkedHashMap[String, Span]()

  def apply[T](name: String)(body: => T): T = tracer match {
    case Some(t) =>
      val (out, s) = t.span(name)(body)
      spans(name) = s
      wall(name) = s.wallS
      out
    case None =>
      val t0 = System.nanoTime()
      val out = body
      wall(name) = (System.nanoTime() - t0) / 1e9
      out
  }
}

/** One workload's iteration, its end-to-end figures, its checks and its
  * per-layer figures. Reading inputs and computing expected outputs
  * happen at construction, outside every timed region. */
trait Runner {
  type Out
  def iteration(calls: Calls): Out
  /** fit_or_dedup_s of one iteration, and its predict_or_knn_rows_per_s
    * samples (one per scoring pass or kNN call); a run reports the median
    * over all its iterations' samples */
  def endToEnd(calls: Calls): (Double, Seq[Double])
  /** `thorough` adds the checks that recompute Spark work */
  def check(out: Out, checks: Checks, thorough: Boolean): Unit
  /** Per-layer figures of a traced iteration; may run traced extra calls. */
  def layers(calls: Calls, out: Out, tracer: Tracer): Map[String, Double]
  /** Digest of the first iteration's output, for the run record. */
  def outputDigest(out: Out): String
}

object Runner {
  def apply(spark: SparkSession, w: Workload, seed: Long, paths: Map[String, String],
      work: String, corrupt: Boolean): Runner = w match {
    case e: ExactMixed  => new ExactMixedRunner(spark, e, seed, paths, work, corrupt)
    case c: CorpusDedup => new CorpusDedupRunner(spark, c, paths, corrupt)
  }

  val Mb = 1024.0 * 1024.0

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Rows whose seeded hash falls in one of `buckets` buckets. */
  def seededSample(df: DataFrame, idCol: String, seed: Long, buckets: Int): Array[Row] =
    df.where(pmod(xxhash64(col(idCol), lit(seed)), lit(buckets.toLong)) === 0).collect()

  /** predictMany agrees with the driver-side walker Predict.predictRow on
    * every sampled row; categorical values are encoded with the model's
    * own mappings before the walk, as predictRow requires. */
  def predictionsAgree(spark: SparkSession, model: DecisionTreeModel, sample: Array[Row],
      schema: org.apache.spark.sql.types.StructType, idCol: String): Boolean = {
    val df = spark.createDataFrame(java.util.Arrays.asList(sample: _*), schema)
    val got = Predict.predictMany(model, df).select(col(idCol), col("prediction")).collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    val features = schema.fieldNames.filterNot(_ == idCol)
    sample.nonEmpty && got.size == sample.length && sample.forall { r =>
      val encoded = features.map { f =>
        val v = r.getAs[Any](f)
        f -> model.categoricalMappings.get(f).map(m => m(v.toString): Any).getOrElse(v)
      }.toMap
      got(r.getAs[Long](idCol)) == Predict.predictRow(model.tree, encoded)
    }
  }

  def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString
}

import Runner._

// ---- exact_mixed ----------------------------------------------------------

/** Exact-threshold fit (entropy, depth 4) with a high-cardinality string
  * categorical, batch scoring of a held-out frame, a ModelIO save/load
  * round trip, and a binned fit (maxBins 32, gini, depth 6) over a wide
  * continuous frame. */
final class ExactMixedRunner(spark: SparkSession, w: ExactMixed, seed: Long,
    paths: Map[String, String], work: String, corrupt: Boolean) extends Runner {
  /** (exact model, its ModelIO round trip, binned model) */
  type Out = (DecisionTreeModel, DecisionTreeModel, DecisionTreeModel)

  private val train = spark.read.parquet(paths("train"))
  private val test = spark.read.parquet(paths("test"))
  private val trainer = DecisionTreeClassifier(maxDepth = Some(4), criterion = Criterion.Entropy,
    categoricalColumns = Seq("cat"))
  private val sample = seededSample(test, "id", seed, 2000)
  private val modelPath = java.nio.file.Paths.get(work, "exact_mixed-model.json").toString
  private val wide = spark.read.parquet(paths("wide"))
  private val binnedTrainer = DecisionTreeClassifier(maxDepth = Some(6), criterion = Criterion.Gini,
    maxBins = Some(32))
  private val PredictPasses = 7
  private val predictSpans = (1 to PredictPasses).map(i => s"predict.$i")

  // Expected outputs on the driver: the reference's ordinal target
  // encoding of `cat`, and the exact tree over the f32-shrunk rows.
  private val rows = train.collect()
  private val names = train.columns.filterNot(_ == "label").toIndexedSeq
  private val expectedMapping: Map[String, Int] = rows
    .groupBy(_.getAs[String]("cat"))
    .map { case (c, rs) => c -> rs.map(_.getAs[Int]("label").toDouble).sum / rs.length }
    .toSeq.sortBy { case (c, avg) => (avg, c) }.map(_._1).zipWithIndex.toMap
  private val expectedTree: TreeNode = {
    val classes = rows.map(_.getAs[Int]("label")).distinct.sorted.toIndexedSeq
    val cols = names.map { f =>
      if (f == "cat") rows.map(r => expectedMapping(r.getAs[String](f)).toDouble)
      else rows.map(r => r.getAs[Double](f).toFloat.toDouble)
    }
    val tree = ExactReference.fit(names, cols, rows.map(r => classes.indexOf(r.getAs[Int]("label"))),
      classes, Criterion.Entropy, maxDepth = 4)
    if (!corrupt) tree
    else tree match {
      case s: SplitNode => s.copy(threshold = s.threshold + 1.0)
      case leaf         => SplitNode(names.head, 0.0, 0.0, 0.0, Nil, leaf, leaf)
    }
  }

  // The binned fit's rows as the trainer sees them (f32-shrunk), column-major.
  private val wideNames = wide.columns.filterNot(_ == "label").toIndexedSeq
  private val (wideCols, wideLabels) = {
    val rs = wide.collect()
    (wideNames.map(f => rs.map(_.getAs[Double](f).toFloat.toDouble)), rs.map(_.getAs[Int]("label")))
  }
  private val wideClasses = wideLabels.distinct.sorted.toSeq
  private var firstBinned: Option[TreeNode] = None

  /** Every split's target_distribution equals the class counts of the
    * training rows routed to it. */
  private def distributionsMatchRouting(tree: TreeNode): Boolean = {
    def go(node: TreeNode, idx: Array[Int]): Boolean = node match {
      case _: LeafNode  => true
      case s: SplitNode =>
        val v = wideCols(wideNames.indexOf(s.feature))
        val counts = wideClasses.map(c => idx.count(wideLabels(_) == c).toLong)
        val (l, r) = idx.partition(v(_) <= s.threshold)
        s.targetDistribution == counts && go(s.left, l) && go(s.right, r)
    }
    go(tree, wideLabels.indices.toArray)
  }

  def iteration(calls: Calls): Out = {
    val model = calls("fit")(trainer.fit(train, "label"))
    // Scoring right after a fit shares the cores with the fit's trailing
    // JIT and block cleanup, so early passes run slower; the run reports
    // the median over all its passes.
    predictSpans.foreach(p => calls(p)(noop(Predict.predictMany(model, test))))
    calls("model_io.save")(ModelIO.save(model, modelPath))
    val loaded = calls("model_io.load")(ModelIO.load(modelPath))
    val binned = calls("fit_binned")(binnedTrainer.fit(wide, "label"))
    (model, loaded, binned)
  }

  def endToEnd(calls: Calls): (Double, Seq[Double]) =
    (calls.wall("fit") + calls.wall("fit_binned"), predictSpans.map(p => w.testRows / calls.wall(p)))

  def check(out: Out, checks: Checks, thorough: Boolean): Unit = {
    val (model, loaded, binned) = out
    checks("exact_mixed.encoding")(model.categoricalMappings == Map("cat" -> expectedMapping))
    checks("exact_mixed.tree_matches_reference")(ExactReference.sameTree(model.tree, expectedTree))
    if (thorough)
      checks("exact_mixed.predictions")(predictionsAgree(spark, model, sample, test.schema, "id"))
    checks("exact_mixed.model_io_round_trip")(loaded == model)
    if (firstBinned.isEmpty) firstBinned = Some(binned.tree)
    checks("exact_mixed.binned_tree_stable")(firstBinned.contains(binned.tree))
    checks("exact_mixed.binned_distributions")(
      binned.tree.depth == 6 && distributionsMatchRouting(binned.tree))
  }

  def layers(calls: Calls, out: Out, tracer: Tracer): Map[String, Double] = {
    val fit = calls.spans("fit")
    val binned = calls.spans("fit_binned")
    val predict = predictSpans.map(calls.spans).sortBy(_.wallS).apply(PredictPasses / 2)
    def isLevel(e: Exec): Boolean = e.file == "Split.scala"
    val levelStages = fit.stagesOf(fit.jobsOf(isLevel))
    val binnedLevelStages = binned.stagesOf(binned.jobsOf(isLevel))
    // direct encoder calls, outside the timed iteration
    val (mapping, encodeFit) =
      tracer.span("encode.fit")(TargetEncoder.fitMappings(train, Seq("cat"), "label"))
    val (_, encodeApply) = tracer.span("encode.apply")(noop(TargetEncoder.applyMappings(test, mapping)))
    Map(
      "tree.fit.jobs" -> fit.jobs.size.toDouble,
      "tree.fit.levels" -> fit.execs.values.count(isLevel).toDouble,
      "tree.fit.driver_s" -> fit.driverS,
      "tree.fit.catalyst_s" -> fit.catalystS,
      "tree.fit.prep_s" -> fit.execs.values.filterNot(isLevel).map(_.wallS).sum,
      "tree.fit.rows_read_per_row" -> fit.scanRows.toDouble / w.trainRows,
      "tree.fit.cached_mb" -> math.max(0L, fit.cachedPeak - fit.cachedBase) / Mb,
      "tree.split.s" -> fit.execs.values.filter(isLevel).map(_.wallS).sum,
      "tree.split.task_cpu_s" -> levelStages.map(_.cpuNs).sum / 1e9,
      "tree.split.shuffle_write_mb" -> levelStages.map(_.shuffleWriteBytes).sum / Mb,
      "tree.split.shuffle_records" -> levelStages.map(_.shuffleWriteRecords).sum.toDouble,
      "tree.split.max_task_share" -> (levelStages.map(_.maxTaskShare) :+ 0.0).max,
      "tree.split.peak_exec_mem_mb" -> (levelStages.map(_.peakExecMem) :+ 0L).max / Mb,
      "tree.split.spill_mb" -> levelStages.map(_.diskSpill).sum / Mb,
      "tree.encode.fit_mappings_s" -> encodeFit.wallS,
      "tree.encode.apply_s" -> encodeApply.wallS,
      "tree.predict.s" -> predict.wallS,
      "tree.predict.cpu_ns_per_row" -> predict.allStages.map(_.cpuNs).sum.toDouble / w.testRows,
      "tree.predict.codegen_fallbacks" -> Tracer.codegenFallbacks(predict).toDouble,
      "tree.model_io.save_ms" -> calls.wall("model_io.save") * 1000,
      "tree.model_io.load_ms" -> calls.wall("model_io.load") * 1000,
      "tree.model_io.bytes" -> java.nio.file.Files.size(java.nio.file.Paths.get(modelPath)).toDouble,
      "tree.fit.binned_s" -> binned.wallS,
      "tree.fit.binned_jobs" -> binned.jobs.size.toDouble,
      "tree.fit.binned_driver_s" -> binned.driverS,
      "tree.fit.binned_prep_s" -> binned.execs.values.filterNot(isLevel).map(_.wallS).sum,
      "tree.split.binned_s" -> binned.execs.values.filter(isLevel).map(_.wallS).sum,
      "tree.split.binned_task_cpu_s" -> binnedLevelStages.map(_.cpuNs).sum / 1e9,
      "tree.split.binned_shuffle_records" ->
        binnedLevelStages.map(_.shuffleWriteRecords).sum.toDouble)
  }

  def outputDigest(out: Out): String =
    sha256(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(modelPath)) ++
      out._3.tree.toString.getBytes("UTF-8"))
}

// ---- corpus_dedup ---------------------------------------------------------

/** MinHash-LSH near-duplicate pairs and their clusters over generated
  * documents, and a kNN graph over generated embeddings; both inputs
  * carry planted twins. No tree code runs here. */
final class CorpusDedupRunner(spark: SparkSession, w: CorpusDedup,
    paths: Map[String, String], corrupt: Boolean) extends Runner {
  type Out = (Array[Row], Array[Row])

  private val docs = spark.read.parquet(paths("docs"))
  private val vecs = spark.read.parquet(paths("vecs"))
  private val K = 10

  /** Planted twin pairs (i, n + i), of the document and of the vector sets. */
  private def twins(n: Long): Seq[(Long, Long)] = {
    val t = (0L until w.twins).map(i => (i, n + i))
    if (corrupt) (t.head._1, t.head._2 + 1) +: t.tail else t
  }
  private val docTwins = twins(w.docs)
  private val vecTwins = twins(w.vectors)

  private def pairs(): DataFrame = Dedup.minHashLshJaccardPairs(docs, "doc_id", "text")

  def iteration(calls: Calls): (Array[Row], Array[Row]) = {
    val clusters = calls("dedup")(
      Dedup.duplicateClusters(docs.select("doc_id"), "doc_id", pairs()).collect())
    val edges = calls("knn")(
      Similarity.knnGraphAuto(vecs, "vec_id", "embedding", k = K, dim = Gen.Dim).collect())
    (clusters, edges)
  }

  def endToEnd(calls: Calls): (Double, Seq[Double]) =
    (calls.wall("dedup"), Seq((w.vectors + w.twins) / calls.wall("knn")))

  private var pairCount = 0L

  def check(out: (Array[Row], Array[Row]), checks: Checks, thorough: Boolean): Unit = {
    val (clusters, edges) = out
    val cluster = clusters.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    checks("corpus_dedup.twins_share_cluster")(
      cluster.size == w.docs + w.twins && docTwins.forall { case (a, b) => cluster(a) == cluster(b) })
    val nearest = edges.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("nbr")).toMap
    checks("corpus_dedup.twins_are_rank1_neighbours")(
      vecTwins.forall { case (a, b) => nearest.get(a).contains(b) && nearest.get(b).contains(a) })
    if (thorough) {
      val found = pairs().collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      pairCount = found.size
      checks("corpus_dedup.twins_in_pairs")(docTwins.forall(found))
    }
  }

  def layers(calls: Calls, out: (Array[Row], Array[Row]), tracer: Tracer): Map[String, Double] = {
    val dedup = calls.spans("dedup")
    val knn = calls.spans("knn")
    def isCheckpoint(e: Exec): Boolean = e.callSite.toLowerCase.contains("checkpoint")
    Map(
      "operators.dedup.s" -> dedup.wallS,
      "operators.dedup.shuffle_write_mb" -> dedup.allStages.map(_.shuffleWriteBytes).sum / Mb,
      "operators.dedup.checkpoint_s" -> dedup.execs.values.filter(isCheckpoint).map(_.wallS).sum,
      "operators.dedup.pairs" -> pairCount.toDouble,
      "operators.similarity.s" -> knn.wallS,
      "operators.similarity.shuffle_records" -> knn.allStages.map(_.shuffleWriteRecords).sum.toDouble,
      "operators.similarity.max_task_share" -> (knn.allStages.map(_.maxTaskShare) :+ 0.0).max,
      "operators.similarity.edges" -> out._2.length.toDouble)
  }

  def outputDigest(out: (Array[Row], Array[Row])): String =
    sha256((out._1.map(_.mkString(",")).sorted ++ out._2.map(_.mkString(",")).sorted)
      .mkString("\n").getBytes("UTF-8"))
}
