package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Marks an op's start and end inside the listener bus, so every Spark
  * event between the two belongs to that op. Ops run one at a time, and
  * jobs from a thread pool inside the program land in the same window.
  */
final case class OpStart(opId: Int, name: String, pass: Int, timeMs: Long) extends SparkListenerEvent
final case class OpEnd(opId: Int, timeMs: Long, wallMs: Double, gcMs: Long) extends SparkListenerEvent

/** One span of the op → job → stage tree. Times are epoch ms. */
final case class Span(id: String, kind: String, name: String, parent: String,
                      op: Int, start: Long, end: Long, var selfMs: Long = 0L)

/** Per-layer counters of one op execution. */
final class OpStats(val opId: Int, val name: String, val pass: Int) {
  var wallMs = 0.0
  var gcMs = 0L
  var jobs, stages, tasks, planExecutions = 0L
  var taskRunMs, taskCpuNs, shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  var inBytes, inRecords, outBytes, cacheBytes = 0L
  var analysisMs, optimizationMs, planningMs, driverGapMs = 0L
  val callSites = mutable.LinkedHashMap.empty[String, Int]
}

/** The benchmark's external tracer: a SparkListener plus a
  * QueryExecutionListener registered on the benchmark's own session.
  * It keeps spans and counters in memory; nothing is written until the
  * run ends.
  */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
  val ops = mutable.ArrayBuffer.empty[OpStats]
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var current: OpStats = _
  private val jobSpan = mutable.HashMap.empty[Int, Span]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageOp = mutable.HashMap.empty[Int, OpStats]
  private val sqlSite = mutable.HashMap.empty[String, String]
  private var nextOp = 0

  private def gcTotal: Long = {
    var t = 0L
    gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    GraftBenchBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Runs `body` as one traced op; returns its wall seconds. */
  def op(name: String, pass: Int)(body: => Unit): Double = {
    val id = nextOp
    nextOp += 1
    val gc0 = gcTotal
    GraftBenchBus.post(sc, OpStart(id, name, pass, System.currentTimeMillis()))
    val t0 = System.nanoTime()
    try body
    finally GraftBenchBus.post(sc, OpEnd(id, System.currentTimeMillis(),
      (System.nanoTime() - t0) / 1e6, gcTotal - gc0))
    (System.nanoTime() - t0) / 1e9
  }

  /** Drains the bus and computes self times; call before reading. */
  def finish(): Unit = {
    GraftBenchBus.drain(sc)
    val byParent = spans.groupBy(_.parent)
    spans.foreach { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      s.selfMs = (s.end - s.start) - covered(kids.toSeq)
    }
    ops.foreach { o =>
      o.driverGapMs = spans.find(s => s.kind == "op" && s.op == o.opId).map(_.selfMs).getOrElse(0L)
    }
  }

  /** Length of the union of [start, end) intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total, reach = 0L
    var first = true
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
      if (first || a >= reach) { total += b - a; reach = b; first = false }
      else if (b > reach) { total += b - reach; reach = b }
    }
    total
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case OpStart(id, name, pass, t) =>
      current = new OpStats(id, name, pass)
      spans += Span(s"op$id", "op", name, null, id, t, t)
    case OpEnd(id, t, wallMs, gcMs) if current != null && current.opId == id =>
      current.wallMs = wallMs
      current.gcMs = gcMs
      ops += current
      val i = spans.lastIndexWhere(s => s.kind == "op" && s.op == id)
      spans(i) = spans(i).copy(end = t)
      current = null
    case e: SparkListenerSQLExecutionStart => sqlSite(e.executionId.toString) = e.description
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (current != null) {
    current.jobs += 1
    // A job is attributed to program code by the call site Spark
    // records: its SQL execution's (the action that started it — jobs
    // adaptive execution submits from its own threads carry a pool frame
    // as their stage name), else its result stage's name.
    val sql = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val site = sql.flatMap(sqlSite.get)
      .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("(no stages)")
    current.callSites(site) = current.callSites.getOrElse(site, 0) + 1
    val s = Span(s"job${e.jobId}", "job", site, s"op${current.opId}", current.opId, e.time, e.time)
    jobSpan(e.jobId) = s
    spans += s
    e.stageIds.foreach { sid => stageJob(sid) = e.jobId; stageOp(sid) = current }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobSpan.remove(e.jobId).foreach { s =>
    val i = spans.lastIndexWhere(_.id == s.id)
    if (i >= 0) spans(i) = s.copy(end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    stageOp.get(info.stageId).foreach { o =>
      o.stages += 1
      val op = o.opId
      val parent = stageJob.get(info.stageId).map(j => s"job$j").orNull
      spans += Span(s"stage${info.stageId}.${info.attemptNumber()}", "stage", info.name, parent, op,
        info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stageOp.get(e.stageId).foreach { o =>
    val m = e.taskMetrics
    o.tasks += 1
    if (m != null) {
      o.taskRunMs += m.executorRunTime
      o.taskCpuNs += m.executorCpuTime
      o.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      o.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      o.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      o.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      o.inBytes += m.inputMetrics.bytesRead
      o.inRecords += m.inputMetrics.recordsRead
      o.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (current != null) {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) current.cacheBytes += b.memSize + b.diskSize
  }

  private def phases(qe: QueryExecution): Unit = if (current != null) {
    current.planExecutions += 1
    val p = qe.tracker.phases
    def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
    current.analysisMs += ms("analysis")
    current.optimizationMs += ms("optimization")
    current.planningMs += ms("planning")
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}
