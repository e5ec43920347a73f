package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: an operation, a public call into the program
  * or a standalone layer probe. Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, opId: Int, name: String, start: Long, end: Long)

/** Spans recorded around the benchmark's own calls into the program,
  * kept in memory and written as JSON at the end of the run. When
  * tracing is off every method runs its body and records nothing. */
final class Tracer(val on: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  @volatile var opId: Int = -1
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()

  /** A span time as epoch milliseconds, the clock Spark's events use. */
  def epochMs(nano: Long): Long = ms0 + (nano - nano0) / 1000000L

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, opId, name, t0, System.nanoTime())
      }
    }

  /** Self time per span name: duration minus the part of the interval
    * its direct child spans cover. */
  def selfTimeMs: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val covered = Intervals.unionLength(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)
        (s.end - s.start - covered) / 1e6
      }.sum
    }
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.opId},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark-side counters for the traced run: a `SparkListener` for jobs,
  * stages and task metrics, and a `QueryExecutionListener` for the
  * rows the scan nodes produced. Events arrive on Spark's listener
  * bus; [[drain]] waits until the counts stop moving. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  import SparkCounters._

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val execModule = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  val stageStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  val taskRecs = new ConcurrentLinkedQueue[TaskRec]()
  val scans = new ConcurrentLinkedQueue[(Long, Long)]() // (end ms, rows scanned)

  /** The program module of the first `graft.` frame in a long call
    * site: `spatial`, `domain`, `warehouse`, `ops` (the index verbs and
    * the `expr` kernels) or `other`. The file readers of `sources` start
    * no job of their own — they parse on the driver, or scan inside the
    * jobs their callers start — so a `sources` frame counts as `other`. */
  def moduleOf(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")).map { l =>
      l.split('.')(1) match {
        case m @ ("spatial" | "domain" | "ops") => m
        case "expr" => "ops"
        case w if w.startsWith("Warehouse") => "warehouse"
        case _ => "other"
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      moduleOf(s.details).foreach(m => execModule.put(s.executionId, m))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val fromStage = e.stageInfos.iterator.flatMap(si => moduleOf(si.details)).nextOption()
    val fromExec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execModule.get(id.toLong)))
    jobs.put(e.jobId, Job(e.jobId, e.time, e.time, fromStage.orElse(fromExec).getOrElse("other")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageStarts.add(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()): Long)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) taskRecs.add(TaskRec(e.taskInfo.launchTime,
      m.executorCpuTime / 1e9, m.jvmGCTime / 1e3, m.shuffleWriteMetrics.bytesWritten / 1e6,
      (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6,
      (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6,
      m.inputMetrics.bytesRead / 1e6, m.outputMetrics.bytesWritten / 1e6))
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val rows = nodes(qe.executedPlan).collect {
      case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case s: BatchScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    scans.add((System.currentTimeMillis(), rows))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def allJobs: Seq[Job] = jobs.values().asScala.toSeq.sortBy(_.id)

  /** Wait for the listener bus: until the job and task counts have not
    * moved for 300 ms (at most 5 s). */
  def drain(): Unit = {
    var last = (-1L, -1L); var stableSince = System.currentTimeMillis()
    val deadline = stableSince + 5000
    while (System.currentTimeMillis() < deadline && System.currentTimeMillis() - stableSince < 300) {
      val now = (jobs.size.toLong, taskRecs.size.toLong)
      if (now != last) { last = now; stableSince = System.currentTimeMillis() }
      Thread.sleep(50)
    }
  }
}

object SparkCounters {
  final case class Job(id: Int, startMs: Long, var endMs: Long, module: String)

  final case class TaskRec(launchMs: Long, cpuS: Double, gcS: Double, shuffleWriteMb: Double,
      shuffleReadMb: Double, spillMb: Double, inputMb: Double, outputMb: Double)

  def install(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}
