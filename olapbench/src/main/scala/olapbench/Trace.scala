package olapbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the id of the span that caused it, -1 at
  * the root; spans of one request share `request`. Times are nanoTime. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, request: Long) {
  def durationNs: Long = endNs - startNs
}

/** In-memory span store, written out when the run ends. */
final class Tracer {
  private val next = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def add(name: String, startNs: Long, endNs: Long, parent: Long, request: Long): Long = {
    val id = next.getAndIncrement()
    spans.add(Span(id, name, startNs, endNs, parent, request))
    id
  }

  /** Times `f` as a span; the span's id is passed in so children can name it. */
  def span[T](name: String, parent: Long, request: Long)(f: Long => T): T = {
    val id = next.getAndIncrement()
    val t0 = System.nanoTime()
    try f(id)
    finally spans.add(Span(id, name, t0, System.nanoTime(), parent, request))
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

object Trace {

  /** Length of the union of `[start, end)` intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover (clipped to the parent). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))).filter(i => i._2 > i._1)
      s.id -> (s.durationNs - covered(kids))
    }.toMap
  }

  /** A listener event's wall-clock millis on the nanoTime scale of spans. */
  def toNano(epochMs: Long): Long =
    System.nanoTime() - (System.currentTimeMillis() - epochMs) * 1000000L

  def toJsonLine(s: Span): String =
    s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""parent":${s.parent},"request":${s.request}}"""
}

/** Job, stage and task totals from the Spark listener bus, plus job
  * intervals (nanoTime) so execution can be subtracted from a span. */
final class SparkMeter extends SparkListener {
  val jobs = new AtomicInteger
  val stages = new AtomicInteger
  val tasks = new AtomicInteger
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val writeBytes = new AtomicLong
  val writeRecords = new AtomicLong
  val schedulerDelaysMs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  /** (start, end) of every finished job, in System.nanoTime. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val endedGroups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val barriers = new AtomicInteger

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, Trace.toNano(e.time))
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(jobGroup.put(e.jobId, _))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStart.remove(e.jobId)).foreach(s => jobIntervals.add((s.longValue, Trace.toNano(e.time))))
    Option(jobGroup.remove(e.jobId)).foreach(endedGroups.add)
  }

  /** Runs a one-task job and waits until this listener has seen it end.
    * Listener events arrive asynchronously, in order, on one queue: after
    * the barrier every earlier job and query event has been delivered. */
  def barrier(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    val group = s"olapbench-barrier-${barriers.incrementAndGet()}"
    sc.setJobGroup(group, "listener barrier")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val t0 = System.nanoTime()
    while (!endedGroups.contains(group) && System.nanoTime() - t0 < 10000000000L) Thread.sleep(2)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      writeBytes.addAndGet(m.outputMetrics.bytesWritten)
      writeRecords.addAndGet(m.outputMetrics.recordsWritten)
      // the Spark UI's definition: task wall time not spent deserializing,
      // running, serializing the result or shipping it back
      val i = e.taskInfo
      val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
      schedulerDelaysMs.add(math.max(0L, delay))
    }
  }

  def jobsWithin(startNs: Long, endNs: Long): Seq[(Long, Long)] =
    jobIntervals.asScala.toSeq.filter { case (s, e) => e > startNs && s < endNs }
      .map { case (s, e) => (math.max(s, startNs), math.min(e, endNs)) }
}

/** Catalyst phase times of every executed query, from `QueryPlanningTracker`. */
final class PlanMeter extends QueryExecutionListener {
  val queries = new AtomicInteger
  val analysisMs = new ConcurrentLinkedQueue[java.lang.Double]()
  val optimizationMs = new ConcurrentLinkedQueue[java.lang.Double]()
  val planningMs = new ConcurrentLinkedQueue[java.lang.Double]()
  /** (start, end) of every phase of every query, in System.nanoTime. */
  val phaseIntervals = new ConcurrentLinkedQueue[(Long, Long)]()

  private def record(qe: QueryExecution): Unit = {
    queries.incrementAndGet()
    val phases = qe.tracker.phases
    def ms(name: String): Double = phases.get(name).map(_.durationMs.toDouble).getOrElse(0.0)
    analysisMs.add(ms("analysis"))
    optimizationMs.add(ms("optimization"))
    planningMs.add(ms("planning"))
    phases.values.foreach(p => phaseIntervals.add((Trace.toNano(p.startTimeMs), Trace.toNano(p.endTimeMs))))
  }

  def phasesWithin(startNs: Long, endNs: Long): Seq[(Long, Long)] =
    phaseIntervals.asScala.toSeq.filter { case (s, e) => e > startNs && s < endNs }
      .map { case (s, e) => (math.max(s, startNs), math.min(e, endNs)) }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}
