package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM: one workload, one seed, one local session.
  *
  * {{{
  * graftbench.Main --workload exact_mixed --seed 1 --seconds 5 --trace 0
  *   --work <dir> [--cpus 4] [--commit <id>] [--corrupt 0|1]
  * }}}
  *
  * Set-up starts the session, generates the inputs (several times; the
  * median counts) and runs one warm-up iteration. The measured window then
  * runs iterations back to back until `--seconds` have passed and at least
  * [[MinIterations]] ran, and reports medians. With `--trace 1`, iterations
  * alternate plain and traced, the per-layer figures come from the traced
  * ones, and `trace.overhead_s` is the traced minus the plain median
  * iteration time.
  *
  * Prints a run record line, then the result line (the last line of
  * stdout). Exit 0 when every check passed, 1 when a check failed (the
  * result line then says so), 2 on any error, with no result line.
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "iter_s" -> "s",
    "fit_or_dedup_s" -> "s",
    "predict_or_knn_rows_per_s" -> "rows/s",
    "setup_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "tree.fit.jobs" -> "count",
    "tree.fit.levels" -> "count",
    "tree.fit.driver_s" -> "s",
    "tree.fit.catalyst_s" -> "s",
    "tree.fit.prep_s" -> "s",
    "tree.fit.rows_read_per_row" -> "ratio",
    "tree.fit.cached_mb" -> "MB",
    "tree.fit.binned_s" -> "s",
    "tree.fit.binned_jobs" -> "count",
    "tree.fit.binned_driver_s" -> "s",
    "tree.fit.binned_prep_s" -> "s",
    "tree.split.s" -> "s",
    "tree.split.task_cpu_s" -> "s",
    "tree.split.shuffle_write_mb" -> "MB",
    "tree.split.shuffle_records" -> "count",
    "tree.split.max_task_share" -> "ratio",
    "tree.split.peak_exec_mem_mb" -> "MB",
    "tree.split.spill_mb" -> "MB",
    "tree.split.binned_s" -> "s",
    "tree.split.binned_task_cpu_s" -> "s",
    "tree.split.binned_shuffle_records" -> "count",
    "tree.encode.fit_mappings_s" -> "s",
    "tree.encode.apply_s" -> "s",
    "tree.predict.s" -> "s",
    "tree.predict.cpu_ns_per_row" -> "ns",
    "tree.predict.codegen_fallbacks" -> "count",
    "tree.model_io.save_ms" -> "ms",
    "tree.model_io.load_ms" -> "ms",
    "tree.model_io.bytes" -> "bytes",
    "operators.dedup.s" -> "s",
    "operators.dedup.shuffle_write_mb" -> "MB",
    "operators.dedup.checkpoint_s" -> "s",
    "operators.dedup.pairs" -> "count",
    "operators.similarity.s" -> "s",
    "operators.similarity.shuffle_records" -> "count",
    "operators.similarity.max_task_share" -> "ratio",
    "operators.similarity.edges" -> "count",
    "jvm.gc_s" -> "s",
    "jvm.jit_s" -> "s",
    "jvm.alloc_gb" -> "GB",
    "setup.session_s" -> "s",
    "setup.gen_s" -> "s",
    "setup.warmup_s" -> "s",
    "trace.overhead_s" -> "s")

  /** Fewest plain iterations a run measures, whatever `--seconds` says. A
    * traced run also needs one traced iteration. One run of the benchmark
    * spends most of its time starting Spark, generating inputs and warming
    * up; the comparison of two commits makes a fixed number of runs within
    * a fixed time, so a run cannot afford a second iteration of the
    * slowest workload. */
  val MinIterations = 1
  /** Input generations per run; set-up counts their median. */
  val Generations = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"arguments come in --name value pairs: ${args.mkString(" ")}")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected --name, got $k")
      k.drop(2) -> v
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parseArgs(args))
      catch {
        case e: Throwable =>
          System.err.println("graftbench: run failed")
          e.printStackTrace()
          2
      }
    System.out.flush()
    System.exit(code)
  }

  private def run(opts: Map[String, String]): Int = {
    val known = Set("workload", "seed", "seconds", "trace", "work", "cpus", "commit", "corrupt")
    val unknown = opts.keySet -- known
    require(unknown.isEmpty, s"unknown options: ${unknown.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val cpus = opts.getOrElse("cpus", "4").toInt
    val corrupt = opts.getOrElse("corrupt", "0") == "1"
    val workload = Workload(opts("workload"))
    new java.io.File(work).mkdirs()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val sessionS = (System.nanoTime() - t0) / 1e9
      measure(spark, opts, workload, seed, seconds, trace, work, corrupt, sessionS)
    } finally spark.stop()
  }

  private def measure(spark: SparkSession, opts: Map[String, String], workload: Workload,
      seed: Long, seconds: Double, trace: Boolean, work: String, corrupt: Boolean,
      sessionS: Double): Int = {
    val dataDir = s"$work/data/${workload.name}"
    val generations = (1 to Generations).map { _ =>
      val g0 = System.nanoTime()
      val paths = Gen.generate(spark, workload, seed, dataDir)
      (paths, (System.nanoTime() - g0) / 1e9)
    }
    val paths = generations.last._1
    val genTimes = generations.map(_._2)
    val p0 = System.nanoTime()
    val digests = paths.map { case (n, p) => n -> Gen.digest(spark.read.parquet(p)) }
    val runner: Runner = Runner(spark, workload, seed, paths, work, corrupt)
    val prepareS = (System.nanoTime() - p0) / 1e9
    val checks = new Checks

    def timedIteration(tracer: Option[Tracer]): (runner.Out, Calls, Double) = {
      System.gc()
      val calls = new Calls(tracer)
      val i0 = System.nanoTime()
      val out = runner.iteration(calls)
      (out, calls, (System.nanoTime() - i0) / 1e9)
    }

    val (warmOut, _, warmupS) = timedIteration(None)
    runner.check(warmOut, checks, thorough = true)
    val outputDigest = runner.outputDigest(warmOut)

    val plain = mutable.ArrayBuffer[(Double, Double, Seq[Double])]() // iter_s, stage 1, stage 2 rates
    val tracedIters = mutable.ArrayBuffer[Double]()
    val layerSamples = mutable.ArrayBuffer[Map[String, Double]]()
    val tracer = new Tracer(spark)
    val m0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - m0) / 1e9
    var i = 0
    while (elapsed < seconds || plain.size < MinIterations || (trace && tracedIters.isEmpty)) {
      val traced = trace && i % 2 == 1
      if (traced) {
        tracer.register()
        try {
          val (out, calls, iterS) = timedIteration(Some(tracer))
          tracedIters += iterS
          runner.check(out, checks, thorough = true)
          val spans = calls.spans.values.toSeq
          layerSamples += runner.layers(calls, out, tracer) ++ Map(
            "jvm.gc_s" -> spans.map(_.gcS).sum,
            "jvm.jit_s" -> spans.map(_.jitS).sum,
            "jvm.alloc_gb" -> spans.map(_.allocBytes).sum / 1e9)
        } finally tracer.unregister()
      } else {
        val (out, calls, iterS) = timedIteration(None)
        val (s1, s2) = runner.endToEnd(calls)
        plain += ((iterS, s1, s2))
        runner.check(out, checks, thorough = false)
      }
      i += 1
    }

    val setupS = sessionS + median(genTimes) + warmupS
    val metrics: Map[String, Double] =
      if (!trace) Map(
        "iter_s" -> median(plain.map(_._1).toSeq),
        "fit_or_dedup_s" -> median(plain.map(_._2).toSeq),
        "predict_or_knn_rows_per_s" -> median(plain.flatMap(_._3).toSeq),
        "setup_s" -> setupS)
      else {
        val names = PerLayer.map(_._1)
        names.map(n => n -> median(layerSamples.map(_.getOrElse(n, 0.0)).toSeq)).toMap ++ Map(
          "setup.session_s" -> sessionS,
          "setup.gen_s" -> median(genTimes),
          "setup.warmup_s" -> warmupS,
          "trace.overhead_s" -> (median(tracedIters.toSeq) - median(plain.map(_._1).toSeq)))
      }
    val units = (if (trace) PerLayer else EndToEnd).toMap
    val missing = units.keySet.filter(n => !metrics.get(n).exists(v => !v.isNaN && !v.isInfinite))
    require(missing.isEmpty, s"metrics missing or not finite: ${missing.mkString(", ")}")

    val conf = spark.conf
    val runtime = ManagementFactory.getRuntimeMXBean
    val record = Map(
      "workload" -> workload.name,
      "seed" -> seed,
      "trace" -> trace,
      "commit" -> opts.getOrElse("commit", "unknown"),
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "adaptive" -> conf.get("spark.sql.adaptive.enabled"),
      "xmx" -> runtime.getInputArguments.asScala.filter(_.startsWith("-Xmx")).mkString(" "),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "counts" -> workload.counts,
      "input_digests" -> digests,
      "output_digest" -> outputDigest,
      "iterations" -> Map("plain" -> plain.size, "traced" -> tracedIters.size),
      "untimed_s" -> Map("prepare" -> prepareS, "measure_window" -> elapsed,
        "jvm_uptime" -> runtime.getUptime / 1000.0),
      "samples" -> Map(
        "iter_s" -> plain.map(_._1).toSeq,
        "fit_or_dedup_s" -> plain.map(_._2).toSeq,
        "predict_or_knn_rows_per_s" -> plain.flatMap(_._3).toSeq,
        "gen_s" -> genTimes,
        "traced_iter_s" -> tracedIters.toSeq),
      "layer_samples" -> layerSamples.toSeq,
      "failures" -> checks.failures.toSeq)
    println(Json(Map("record" -> record)))
    println(Json(Map(
      "correct" -> (checks.failed == 0),
      "attempted" -> checks.attempted,
      "failed" -> checks.failed,
      "metrics" -> units.keys.toSeq.sorted.map(n =>
        n -> Map("value" -> metrics(n), "unit" -> units(n))).toMap)))
    if (checks.failed == 0) 0 else 1
  }
}

/** Minimal JSON rendering of maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => quote(k.toString) + ": " + apply(x) }
        .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case s: String      => quote(s)
    case b: Boolean     => b.toString
    case d: Double      =>
      require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
      d.toString
    case n: Number      => n.toString
    case null           => "null"
    case other          => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"'            => "\\\""
    case '\\'           => "\\\\"
    case c if c < ' '   => f"\\u${c.toInt}%04x"
    case c              => c.toString
  }.mkString("\"", "", "\"")
}
