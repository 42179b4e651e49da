package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Execution counters for a measured run: SQL queries (top-level
  * executions, one per Dataset action), jobs, stages, tasks, summed
  * task run and GC time, shuffle bytes read and written, run time per
  * stage name, and generated-code compiles with their time. Wall ≫
  * taskMs/cores means scheduling or planning overhead dominates; taskMs ≈
  * wall means one single-threaded stage is the bottleneck. Listener
  * events arrive asynchronously: call [[settle]] after the measured
  * action, before reading. */
final class RunMeter private (sc: SparkContext) extends SparkListener {
  val queries, jobs, stages, tasks, taskMs, gcMs, shuffleRead, shuffleWrite = new AtomicLong
  /** Executor run time (ms) summed per stage name. */
  val stageMs = new ConcurrentHashMap[String, Long]
  /** Janino compiles of generated classes, and their time in ns, as of
    * the last [[settle]]. The codegen counters are JVM-wide: they include
    * compiles of any other session in the JVM. */
  val compiles, compileNs = new AtomicLong
  /** [[compileNs]] in milliseconds. */
  def compileMs: Double = compileNs.get / 1e6
  @volatile private var compileBase = (GraftSqlBridge.codegenCompiles, GraftSqlBridge.codegenCompileNs)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
      queries.incrementAndGet()
    case _ =>
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val si = e.stageInfo
    val ms = Option(si.taskMetrics).map(_.executorRunTime).getOrElse(0L)
    stageMs.merge(si.name.take(120), ms, (a, b) => a + b)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Block until Spark's listener bus has delivered every event posted so
    * far (an action posts its job, stage and task end events before it
    * returns). Throws `TimeoutException` after 30 s. */
  def settle(): Unit = {
    GraftSqlBridge.waitForListeners(sc, 30000L)
    compiles.set(GraftSqlBridge.codegenCompiles - compileBase._1)
    compileNs.set(GraftSqlBridge.codegenCompileNs - compileBase._2)
  }

  def reset(): Unit = {
    Seq(queries, jobs, stages, tasks, taskMs, gcMs, shuffleRead, shuffleWrite,
      compiles, compileNs).foreach(_.set(0))
    stageMs.clear()
    compileBase = (GraftSqlBridge.codegenCompiles, GraftSqlBridge.codegenCompileNs)
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object RunMeter {
  /** A meter registered on `sc`'s listener bus. */
  def attach(sc: SparkContext): RunMeter = {
    val m = new RunMeter(sc)
    sc.addSparkListener(m)
    m
  }
}
