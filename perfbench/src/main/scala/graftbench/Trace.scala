package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SparkPlanInfo, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-stage task aggregates. */
final class StageAgg {
  val runMs = mutable.ArrayBuffer[Long]()
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var peakExecMem = 0L
  var diskSpill = 0L

  /** Slowest task over the mean task; 1 for a stage of one task. */
  def maxTaskShare: Double = {
    val mean = if (runMs.isEmpty) 0.0 else runMs.sum.toDouble / runMs.size
    if (mean <= 0) 1.0 else runMs.max / mean
  }
}

/** A Spark SQL execution inside a span, named by its call site
  * (`collect at Split.scala:514`): the library file whose code started it. */
final class Exec(val id: Long, val callSite: String, val startMs: Long) {
  var endMs: Long = startMs
  def wallS: Double = (endMs - startMs) / 1000.0
  def file: String = Exec.FileRe.findFirstMatchIn(callSite).map(_.group(1)).getOrElse("")
}
object Exec { val FileRe = """ at ([A-Za-z0-9_$]+\.scala):""".r }

final class Job(val id: Int, val execId: Option[Long], val startMs: Long, val stageIds: Seq[Int]) {
  var endMs: Long = startMs
}

/** One benchmark-owned span: a timed call into a public library entry
  * point. Its children are the executions and jobs Spark ran inside it. */
final class Span(val name: String) {
  var wallS = 0.0
  val execs = mutable.LinkedHashMap[Long, Exec]()
  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.Map[Int, StageAgg]()
  val queries = mutable.ArrayBuffer[QueryExecution]()
  var catalystS = 0.0
  var scanRows = 0L
  var cachedBase = 0L
  var cachedPeak = 0L
  var gcS = 0.0
  var jitS = 0.0
  var allocBytes = 0L

  def jobsOf(pred: Exec => Boolean): Seq[Job] = {
    val ids = execs.values.filter(pred).map(_.id).toSet
    jobs.values.filter(_.execId.exists(ids)).toSeq
  }
  def stagesOf(js: Seq[Job]): Seq[StageAgg] = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  def allStages: Seq[StageAgg] = stages.values.toSeq

  /** Wall time not covered by any running job. */
  def driverS: Double = {
    val ivs = jobs.values.map(j => (j.startMs, j.endMs)).toSeq.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, wallS - covered / 1000.0)
  }
}

/** Tracing for the traced run: a SparkListener and a QueryExecutionListener
  * that file every execution, job, stage and task into the span open when
  * the event is handled. Registered only around traced iterations; each
  * span is closed after draining the listener bus, so every event of a
  * call lands in that call's span.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile private var current: Span = null
  // touched only by the listener bus thread, which delivers events in order
  private val scanRowAccs = mutable.Set[Long]()
  private val rddBlocks = mutable.Map[String, Long]()
  private var rddBytes = 0L

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private def allocated: Long =
    threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def drain(): Unit = org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)

  /** Runs `body` as a span named `name`. */
  def span[T](name: String)(body: => T): (T, Span) = {
    drain()
    val s = new Span(name)
    synchronized { s.cachedBase = rddBytes; s.cachedPeak = rddBytes }
    val gc0 = gcMs
    val jit0 = jit.getTotalCompilationTime
    val alloc0 = allocated
    current = s
    val t0 = System.nanoTime()
    val out = body
    s.wallS = (System.nanoTime() - t0) / 1e9
    s.allocBytes = allocated - alloc0
    s.jitS = (jit.getTotalCompilationTime - jit0) / 1000.0
    s.gcS = (gcMs - gc0) / 1000.0
    drain()
    current = null
    (out, s)
  }

  private def withSpan(f: Span => Unit): Unit = {
    val s = current
    if (s != null) s.synchronized(f(s))
  }

  private def noteScanMetrics(info: SparkPlanInfo): Unit = {
    val isScan = info.nodeName.startsWith("Scan parquet") || info.nodeName == "InMemoryTableScan"
    if (isScan) info.metrics.filter(_.name == "number of output rows")
      .foreach(m => scanRowAccs += m.accumulatorId)
    info.children.foreach(noteScanMetrics)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      noteScanMetrics(e.sparkPlanInfo)
      withSpan(_.execs(e.executionId) = new Exec(e.executionId, e.description, e.time))
    case e: SparkListenerSQLAdaptiveExecutionUpdate =>
      noteScanMetrics(e.sparkPlanInfo)
    case e: SparkListenerSQLExecutionEnd =>
      withSpan(_.execs.get(e.executionId).foreach(_.endMs = e.time))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val execId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    withSpan(_.jobs(e.jobId) = new Job(e.jobId, execId, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    withSpan(_.jobs.get(e.jobId).foreach(_.endMs = e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    withSpan { s =>
      val st = s.stages.getOrElseUpdate(e.stageId, new StageAgg)
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        st.peakExecMem = math.max(st.peakExecMem, m.peakExecutionMemory)
        st.diskSpill += m.diskBytesSpilled
      }
      e.taskInfo.accumulables.foreach { a =>
        if (scanRowAccs(a.id)) a.update.foreach {
          case v: Long => s.scanRows += v
          case _       =>
        }
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val total = synchronized {
        rddBytes += size - rddBlocks.getOrElse(info.blockId.name, 0L)
        if (size == 0) rddBlocks -= info.blockId.name else rddBlocks(info.blockId.name) = size
        rddBytes
      }
      withSpan(s => s.cachedPeak = math.max(s.cachedPeak, total))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    withSpan { s =>
      s.queries += qe
      s.catalystS += Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum / 1000.0
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {

  /** Whole-stage-codegen stages of the span's queries whose generated
    * method exceeds `spark.sql.codegen.hugeMethodLimit` or fails to
    * compile; Spark runs those stages interpreted, through the fallback. */
  def codegenFallbacks(span: Span): Int = {
    val limit = span.queries.headOption
      .map(_.sparkSession.sessionState.conf.hugeMethodLimit).getOrElse(65535)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case other                    => other.children.flatMap(nodes)
    })
    span.queries.toSeq.flatMap(q => nodes(q.executedPlan)).collect {
      case w: WholeStageCodegenExec =>
        val (_, code) = w.doCodeGen()
        val tooLong = scala.util.Try(CodeGenerator.compile(code)._2.maxMethodCodeSize > limit)
        tooLong.getOrElse(true)
    }.count(identity)
  }
}
