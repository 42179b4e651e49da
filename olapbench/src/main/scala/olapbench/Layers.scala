package olapbench

import scala.jdk.CollectionConverters._
import Main.Metric

/** The per-layer metrics of a traced run. Every workload prints every name
  * in [[Names]]; a layer the workload does not use reads 0. */
object Layers {

  /** The catalog's iterative operators the batch workload runs: one per
    * loop family (graph ranking, density clustering, k-means), chosen so a
    * pass stays near five seconds. */
  val Ops: Seq[String] = Seq("q107_pagerank", "q330_dbscan", "q88_kmeans")

  val Names: Seq[(String, String)] = Seq(
    "server.handle_ms_p50" -> "ms",
    "server.queue_ms_p50" -> "ms",
    "server.aggregate_p50_ms" -> "ms",
    "server.members_p50_ms" -> "ms",
    "server.facts_p50_ms" -> "ms",
    "cells.parse_us_p50" -> "us",
    "browser.build_ms_p50" -> "ms",
    "star.joins_kept_ratio" -> "ratio",
    "plan.analysis_ms_p50" -> "ms",
    "plan.optimization_ms_p50" -> "ms",
    "plan.planning_ms_p50" -> "ms",
    "plan.queries_per_request" -> "count",
    "exec.jobs_per_request" -> "count",
    "exec.stages_per_request" -> "count",
    "exec.tasks_per_request" -> "count",
    "exec.scheduler_delay_ms_p50" -> "ms",
    "exec.busy_share" -> "ratio",
    "exec.task_cpu_s" -> "s",
    "exec.gc_s" -> "s",
    "exec.shuffle_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "formats.render_ms_p50" -> "ms",
    "replay.plan_ms_p50" -> "ms",
    "replay.exec_ms_p50" -> "ms",
    "replay.request_ms_p50" -> "ms",
    "account.waiting_ms_p50" -> "ms",
    "account.explained_share" -> "ratio",
    "materialize.denorm_s" -> "s",
    "materialize.cuboids_s" -> "s",
    "incremental.merge_s" -> "s",
    "write.bytes" -> "bytes",
    "write.files" -> "count",
    "write.records" -> "count",
    "traced.latency_p50_ms" -> "ms",
    "traced.throughput_rps" -> "1/s",
    "traced.batch_wall_s" -> "s",
    "trace.overhead_share" -> "ratio") ++
    Ops.flatMap(q => Seq(s"ops.$q.wall_s" -> "s", s"ops.$q.jobs" -> "count"))

  private def med(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  /** Every name in [[Names]], in order, filled from `m` (value, samples). */
  def complete(m: Map[String, (Double, Int)]): Seq[(String, Metric)] = {
    val unknown = m.keySet -- Names.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the declared list: $unknown")
    Names.map { case (n, unit) =>
      val (v, samples) = m.getOrElse(n, (0.0, 0))
      n -> Metric(v, unit, samples)
    }
  }

  /** Execution totals over a phase of `wallNs`, per operation of `ops`. */
  def exec(meter: SparkMeter, plans: PlanMeter, ops: Int, wallNs: Long): Map[String, (Double, Int)] = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val tasks = meter.tasks.get
    Map(
      "plan.analysis_ms_p50" -> (med(plans.analysisMs.asScala.map(_.doubleValue)), plans.queries.get),
      "plan.optimization_ms_p50" ->
        (med(plans.optimizationMs.asScala.map(_.doubleValue)), plans.queries.get),
      "plan.planning_ms_p50" -> (med(plans.planningMs.asScala.map(_.doubleValue)), plans.queries.get),
      "plan.queries_per_request" -> (plans.queries.get.toDouble / ops, ops),
      "exec.jobs_per_request" -> (meter.jobs.get.toDouble / ops, ops),
      "exec.stages_per_request" -> (meter.stages.get.toDouble / ops, ops),
      "exec.tasks_per_request" -> (tasks.toDouble / ops, ops),
      "exec.scheduler_delay_ms_p50" -> (med(meter.schedulerDelaysMs.asScala.map(_.doubleValue)), tasks),
      "exec.busy_share" -> (meter.runMs.get / (wallNs / 1e6 * cpus), tasks),
      "exec.task_cpu_s" -> (meter.cpuNs.get / 1e9, tasks),
      "exec.gc_s" -> (meter.gcMs.get / 1e3, tasks),
      "exec.shuffle_bytes" -> (meter.shuffleBytes.get.toDouble, tasks),
      "exec.spill_bytes" -> (meter.spillBytes.get.toDouble, tasks))
  }

  /** Slicer layers: the traced window of the HTTP phase (its requests,
    * request log, Spark and planning meters), the untraced requests around
    * it, and the spans of the serial replay and the in-process probes. */
  def slicer(plain: Seq[SlicerBench.Sample], traced: Seq[SlicerBench.Sample], window: (Long, Long),
      log: Seq[Map[String, String]], meter: SparkMeter, plans: PlanMeter, spans: Seq[Span],
      joinsKept: Seq[Double]): Seq[(String, Metric)] = {
    val handleMs = log.map(_("elapsed_time").toDouble * 1000)
    // pair each logged request with a client sample of the same request,
    // first come first served
    def key(verb: String, cut: String, drill: String, page: String, size: String, aggs: String) =
      Seq(verb, cut, drill, page, size, aggs).mkString("\u0001")
    val handled = log.groupBy(r => key(r("method"), r.getOrElse("cell", ""),
      r.getOrElse("drilldown", ""), r.getOrElse("page", ""), r.getOrElse("page_size", ""),
      r.getOrElse("attributes", ""))).map { case (k, rs) =>
      k -> scala.collection.mutable.Queue(rs.map(_("elapsed_time").toDouble * 1000): _*)
    }
    val queueMs = traced.flatMap { s =>
      val r = s.req
      val k = key(r.verb, r.cutString, r.drilldown.mkString("|"), r.page.fold("")(_.toString),
        r.pageSize.fold("")(_.toString), r.aggregates.mkString("|"))
      handled.get(k).filter(_.nonEmpty).map(q => s.ms - q.dequeue())
    }
    def verbMs(v: String) = traced.filter(_.req.verb == v).map(_.ms)

    val self = Trace.selfTimes(spans)
    def selfMs(name: String): Seq[Double] =
      spans.filter(_.name == name).map(s => self(s.id) / 1e6)
    // the time a serial request's children of one kind cover
    def childMs(child: String): Seq[Double] = spans.filter(_.name == "request").map { r =>
      Trace.covered(spans.filter(c => c.parent == r.id && c.name == child)
        .map(c => (c.startNs, c.endNs))) / 1e6
    }
    val requestMs = spans.filter(_.name == "request").map(_.durationNs / 1e6)
    val probes = spans.count(_.name == "probe")
    val latency = traced.map(_.ms)
    val plainLatency = plain.map(_.ms)
    val wallNs = window._2 - window._1
    val rps = SlicerBench.throughput(traced, window._1, window._2)
    // a serial request's self time, planning and execution, and the queue
    // wait measured under load
    val serialMs = med(selfMs("request")) + med(childMs("plan")) + med(childMs("exec"))
    val waitingMs = med(queueMs)

    complete(exec(meter, plans, traced.size, wallNs) ++ Map(
      "server.handle_ms_p50" -> (med(handleMs), handleMs.size),
      "server.queue_ms_p50" -> (med(queueMs), queueMs.size),
      "server.aggregate_p50_ms" -> (med(verbMs("aggregate")), verbMs("aggregate").size),
      "server.members_p50_ms" -> (med(verbMs("members")), verbMs("members").size),
      "server.facts_p50_ms" -> (med(verbMs("facts")), verbMs("facts").size),
      "cells.parse_us_p50" -> (med(selfMs("parse")) * 1000, probes),
      "browser.build_ms_p50" -> (med(selfMs("build")), probes),
      "star.joins_kept_ratio" -> (if (joinsKept.isEmpty) 0.0 else joinsKept.sum / joinsKept.size,
        joinsKept.size),
      "formats.render_ms_p50" -> (med(selfMs("render")), probes),
      "replay.plan_ms_p50" -> (med(childMs("plan")), requestMs.size),
      "replay.exec_ms_p50" -> (med(childMs("exec")), requestMs.size),
      "replay.request_ms_p50" -> (med(requestMs), requestMs.size),
      "account.waiting_ms_p50" -> (waitingMs, queueMs.size),
      "account.explained_share" -> ((serialMs + waitingMs) / med(latency), latency.size),
      "traced.latency_p50_ms" -> (med(latency), latency.size),
      "traced.throughput_rps" -> (rps, traced.size),
      "traced.batch_wall_s" -> (100 / rps, traced.size),
      "trace.overhead_share" -> (med(latency) / med(plainLatency) - 1, latency.size)))
  }
}
