package olapbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.collection.parallel.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.browser.{Browser, TimeCuts}
import graft.cells.Cell
import graft.formats.Formats
import graft.server.{RequestLogHandler, RequestLogger, SlicerServer}
import graft.tpch.TpchModel
import graft.workspace.Workspace
import Main.{Args, Metric, Outcome}

/** `slicer_mix`: a closed loop of one JDK `HttpClient` client per core
  * against an in-process [[SlicerServer]] on the generated `sales` cube,
  * with the server's default settings (response cache off, 8 handler
  * threads), sending distinct requests. */
object SlicerBench {

  val CubeName = "sales"
  /** Column the browser names the fact key in `facts` and `fact` rows. */
  val FactKey = "__fact_key__"
  val Clients: Int = Runtime.getRuntime.availableProcessors()

  /** Requests compared against the browser called in-process. */
  val DifferentialSample = 4
  /** Requests replayed serially through the server, and requests probed
    * in-process, in the traced run. */
  val ReplaySample = 12

  final case class Sample(req: Req, startNs: Long, endNs: Long, status: Int, body: String) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  private def get(url: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(url)).timeout(Duration.ofSeconds(120)).GET()
      .build(), HttpResponse.BodyHandlers.ofString())

  final class Served(val ws: Workspace, val server: SlicerServer, val base: String) {
    def stop(): Unit = server.stop()
  }

  /** Set-up as a user waits for it: load the workspace, start the server,
    * answer the first cube summary. */
  private def setUp(spark: SparkSession, data: String,
      logger: Option[RequestLogger]): (Served, Double) = {
    val t0 = System.nanoTime()
    val ws = new Workspace(spark).registerTableDir(data).registerCube(TpchModel.cube)
    val server = new SlicerServer(ws, requestLogger = logger)
    val s = new Served(ws, server, s"http://127.0.0.1:${server.start()}/cube/$CubeName/")
    val r = get(s.base + "aggregate?aggregates=fact_count")
    require(r.statusCode == 200, s"set-up summary failed: ${r.statusCode} ${r.body.take(300)}")
    (s, (System.nanoTime() - t0) / 1e9)
  }

  private def str(v: JValue): String = v match {
    case JString(s)  => s
    case JInt(i)     => i.toString
    case JLong(l)    => l.toString
    case JDouble(d)  => d.toString
    case JDecimal(d) => d.toString
    case JBool(b)    => b.toString
    case other       => JsonMethods.compact(JsonMethods.render(other))
  }

  private def rows(body: String): List[JValue] = JsonMethods.parse(body) match {
    case JArray(xs) => xs
    case other      => throw new IllegalStateException(s"expected a JSON array: ${body.take(200)}")
  }

  /** Member paths and fact keys, fetched over HTTP like any client would. */
  def pools(base: String): Pools = {
    // one fetch per dimension; a second hierarchy reuses its levels' members
    val fetched = Requests.Dims.filter(_.hierarchy.isEmpty).par.map { d =>
      val r = get(base + s"members/${d.name}?depth=${d.poolDepth}")
      require(r.statusCode == 200, s"members fetch failed: ${d.name} ${r.body.take(300)}")
      d.name -> rows(r.body)
    }.seq.toMap
    val members = Requests.Dims.map { d =>
      d.spec -> fetched(d.name).map(row => d.keys.map(k => str(row \ k))).distinct.toIndexedSeq
    }.toMap
    val keys = Seq(0, 40, 80, 160).flatMap { p =>
      val r = get(base + s"facts?page=$p&pagesize=25&fields=returnflag")
      require(r.statusCode == 200, s"facts fetch failed: ${r.body.take(300)}")
      rows(r.body).map(row => str(row \ FactKey).toLong)
    }.distinct.toIndexedSeq
    Pools(members, keys)
  }

  /** Closed loop: each client sends its next request when the previous one
    * completes, until `seconds` have passed. */
  def drive(base: String, stream: Iterator[Req], seconds: Double): Seq[Sample] = {
    val out = new ConcurrentLinkedQueue[Sample]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val threads = (0 until Clients).map { i =>
      new Thread(() => {
        var done = false
        while (!done && System.nanoTime() < deadline) {
          val next = stream.synchronized(if (stream.hasNext) Some(stream.next()) else None)
          next match {
            case None    => done = true
            case Some(r) => out.add(send(base, r))
          }
        }
      }, s"olapbench-client-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.asScala.toSeq.sortBy(_.startNs)
  }

  private def send(base: String, r: Req): Sample = {
    val t0 = System.nanoTime()
    val (status, body) =
      try { val resp = get(base + r.url); (resp.statusCode, resp.body) }
      catch { case e: Exception => (-1, String.valueOf(e)) }
    Sample(r, t0, System.nanoTime(), status, body)
  }

  // ------------------------------------------------------------- checks

  private def num(v: JValue): Option[Double] = v match {
    case JInt(i)     => Some(i.toDouble)
    case JLong(l)    => Some(l.toDouble)
    case JDouble(d)  => Some(d)
    case JDecimal(d) => Some(d.toDouble)
    case _           => None
  }

  /** JSON equality with a relative tolerance on numbers: floating
    * aggregates may differ in the last bits between two executions. */
  def same(a: JValue, b: JValue): Boolean = (a, b) match {
    case (JObject(x), JObject(y)) =>
      x.size == y.size && x.toMap.keySet == y.toMap.keySet &&
        x.forall { case (k, v) => same(v, y.toMap.apply(k)) }
    case (JArray(x), JArray(y)) => x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => (num(a), num(b)) match {
      case (Some(p), Some(q)) => p == q || math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q))
      case _                  => a == b
    }
  }

  private def sameRows(a: List[JValue], b: List[JValue]): Boolean = {
    def key(v: JValue) = JsonMethods.compact(JsonMethods.render(v.mapField {
      case (k, x) if num(x).isDefined => (k, JString(f"${num(x).get}%.6e"))
      case f => f
    }))
    a.size == b.size && a.sortBy(key).zip(b.sortBy(key)).forall { case (p, q) => same(p, q) }
  }

  /** The output check of one response: None when it holds. */
  def check(s: Sample): Option[String] = {
    val r = s.req
    if (s.status != 200) return Some(s"status ${s.status}: ${s.body.take(200)}")
    try r.verb match {
      case "aggregate" =>
        val j = JsonMethods.parse(s.body)
        val cells = (j \ "cells") match { case JArray(xs) => xs; case _ => Nil }
        r.pageSize match {
          case Some(n) =>
            if (cells.size > n) Some(s"${cells.size} cells on a page of $n") else None
          case None =>
            val total = num(j \ "summary" \ "fact_count").getOrElse(-1.0)
            val sum = cells.flatMap(c => num(c \ "fact_count")).sum
            val count = num(j \ "total_cell_count").getOrElse(-1.0)
            if (sum != total) Some(s"cells' fact_count sum $sum != summary $total")
            else if (count != cells.size) Some(s"total_cell_count $count != ${cells.size} cells")
            else None
        }
      case "facts" =>
        val n = rows(s.body).size
        if (n > r.pageSize.get) Some(s"$n facts on a page of ${r.pageSize.get}") else None
      case "fact" =>
        val xs = rows(s.body)
        if (xs.isEmpty) Some(s"fact ${r.key} not found")
        else if (xs.exists(x => str(x \ FactKey) != r.key.toString))
          Some(s"fact ${r.key} returned another key")
        else None
      case "members" =>
        if (rows(s.body).isEmpty) Some("no members") else None
      case "cell" =>
        val n = rows(s.body).size
        if (n != r.cut.size) Some(s"$n cut details for ${r.cut.size} cuts") else None
    } catch { case e: Exception => Some(s"unparsable response: $e") }
  }

  // ------------------------------------------------- in-process calls

  private def parse(ws: Workspace, r: Req): Cell =
    if (r.cut.isEmpty) Cell.empty else TimeCuts.parseCell(ws.cube(CubeName), r.cutString)

  /** The lazy frames the browser returns for `r`: the verb the server
    * calls (`aggregateFused` or `aggregate`, by the server's rule; `cell`
    * uses the frame twin of the server's eager `cellDetails`), without the
    * server's persist and cell count. An aggregate's cells come first, then
    * its summary. */
  private def build(ws: Workspace, r: Req, cell: Cell): Seq[DataFrame] = {
    val b = ws.browserFor(None, CubeName)
    r.verb match {
      case "aggregate" =>
        val aggs = r.aggregates.map(b.cube.aggregate)
        val fusible = r.drilldown.nonEmpty && aggs.nonEmpty && aggs.forall(_.function.forall(f =>
          !graft.functions.WindowCalcs.isWindowFunction(f))) && !Browser.mixesDistinctAndSketch(aggs)
        val res =
          if (fusible) b.aggregateFused(cell, r.drilldown, r.aggregates, Nil, r.page, r.pageSize)
          else b.aggregate(cell, r.drilldown, r.aggregates, None, Nil, r.page, r.pageSize)
        res.cells +: res.summary.toSeq
      case "members" => Seq(b.members(cell, r.dim, r.depth, r.hierarchy, None, r.page, r.pageSize))
      case "facts"   => Seq(b.facts(cell, Nil, Nil, r.page, r.pageSize))
      case "fact"    => Seq(b.fact(r.key))
      case "cell"    => Seq(b.cellDetailsFrame(cell))
    }
  }

  /** The differential check: `r` answered in-process by the browser must
    * equal the server's response. */
  def differential(ws: Workspace, s: Sample): Option[String] = {
    val r = s.req
    if (s.status != 200 || !Set("aggregate", "members", "facts").contains(r.verb)) return None
    val expected = rows(Formats.toJsonArray(build(ws, r, parse(ws, r)).head))
    val actual = if (r.verb == "aggregate") (JsonMethods.parse(s.body) \ "cells") match {
      case JArray(xs) => xs
      case _          => Nil
    } else rows(s.body)
    if (sameRows(expected, actual)) None
    else Some(s"differs from the in-process browser: ${r.url}")
  }

  // ------------------------------------------------------------ the run

  def run(spark: SparkSession, args: Args): Outcome = {
    val data = new File(args.dir, "data").getAbsolutePath
    Data.write(spark, args.seed, Data.Sales, data)
    Main.log("data written")
    val log = new CapturingLogHandler
    val logger = if (args.trace) Some(new RequestLogger(Seq(log))) else None
    val setups = (1 to 3).map(_ => setUp(spark, data, logger))
    setups.init.foreach(_._1.stop())
    val served = setups.last._1
    val setupS = Stats.median(setups.map(_._2))
    Main.log(f"set up in $setupS%.3fs (median of 3)")
    Main.log(s"host ${Host.record(spark)}")
    // fetching the pools also warms the JIT and the scan path; every
    // request is a new plan, so codegen stays cold by design
    val pools = SlicerBench.pools(served.base)
    Main.log(s"pools ${pools.members.map { case (k, v) => s"$k=${v.size}" }
      .toSeq.sorted.mkString(" ")} fact_keys=${pools.factKeys.size}")
    val stream = Requests.mix(args.seed, pools)
    if (!args.trace) {
      val out = measure(served, stream, args.seconds, setupS, args.seed)
      // after `measure` returned, so the responses held for the checks are
      // garbage and only what the server keeps is counted
      val heap = Main.heapRetainedMb()
      served.stop()
      out.copy(metrics = out.metrics :+ ("heap_retained_mb" -> Metric(heap, "MB", 1)))
    } else {
      // quarters untraced, traced, traced, untraced: the request log and the
      // listeners are on in the middle half, and a warm-up trend cancels
      // out of the overhead (traced against untraced requests)
      val meter = new SparkMeter
      val plans = new PlanMeter
      val quarterMs = args.seconds * 250L
      var window = (0L, 0L)
      val toggler = new Thread(() => {
        Thread.sleep(quarterMs)
        val t0 = System.nanoTime()
        spark.sparkContext.addSparkListener(meter)
        spark.listenerManager.register(plans)
        log.on = true
        Thread.sleep(2 * quarterMs)
        log.on = false
        spark.sparkContext.removeSparkListener(meter)
        spark.listenerManager.unregister(plans)
        window = (t0, System.nanoTime())
      })
      toggler.start()
      val samples = drive(served.base, stream, args.seconds)
      toggler.join()
      val (traced, plain) = samples.partition(s => s.startNs >= window._1 && s.startNs < window._2)
      // requests the stream has not sent yet, so each still plans and
      // compiles new code, as a request under load does
      val tracer = new Tracer
      val replayed = replay(spark, served.base, Seq.fill(ReplaySample)(stream.next()), tracer)
      val joins = probe(spark, served.ws, Seq.fill(ReplaySample)(stream.next()), tracer)
      val out = outcome(samples ++ replayed, served.ws, args.seed)
      served.stop()
      tracer.all.sortBy(_.id).foreach(s => println("[olapbench] span " + Trace.toJsonLine(s)))
      out.copy(metrics = Layers.slicer(plain, traced, window, log.records.asScala.toSeq, meter,
        plans, tracer.all, joins.map(_.toDouble / TpchModel.cube.joins.size)))
    }
  }

  /** The untraced run: drive the stream, check the responses, and return
    * the counts with every end-to-end metric but the heap. */
  private def measure(served: Served, stream: Iterator[Req], seconds: Int, setupS: Double,
      seed: Long): Outcome = {
    val samples = drive(served.base, stream, seconds)
    outcome(samples, served.ws, seed).copy(metrics = endToEnd(samples, seconds, setupS))
  }

  /** Counts and checks of a phase's responses (differential on a seeded
    * sample). */
  private def outcome(samples: Seq[Sample], ws: Workspace, seed: Long): Outcome = {
    val failures = samples.flatMap(s => check(s).map(s.req.url -> _))
    val rnd = new java.util.Random(seed ^ 0x9e3779b97f4a7c15L)
    val diffs = scala.util.Random.javaRandomToRandom(rnd)
      .shuffle(samples.filter(s => Set("aggregate", "members", "facts").contains(s.req.verb)))
      .take(DifferentialSample).flatMap(s => differential(ws, s).map(s.req.url -> _))
    val t0 = samples.map(_.startNs).min
    samples.foreach(s => Main.log(f"request start=${(s.startNs - t0) / 1e9}%.2f ms=${s.ms}%.0f " +
      s"status=${s.status} ${s.req.url}"))
    val failed = (failures ++ diffs).map(_._1).distinct
    (failures ++ diffs).take(10).foreach { case (u, why) => Main.log(s"FAILED $u: $why") }
    val verbs = samples.groupBy(_.req.verb).map { case (v, xs) => s"$v=${xs.size}" }
    Main.log(s"requests ${samples.size} distinct=${samples.map(_.req.url).distinct.size} " +
      verbs.toSeq.sorted.mkString(" "))
    Outcome(samples.size, samples.count(s => failed.contains(s.req.url)), Nil)
  }

  /** Requests per second over the measured window, each request counted by
    * the share of its duration inside the window: requests cut by the
    * window's ends count in part, not as a whole or not at all. */
  def throughput(samples: Seq[Sample], seconds: Double): Double =
    throughput(samples, samples.map(_.startNs).min, samples.map(_.startNs).min +
      (seconds * 1e9).toLong)

  def throughput(samples: Seq[Sample], start: Long, end: Long): Double = {
    val seconds = (end - start) / 1e9
    samples.map { s =>
      (math.min(s.endNs, end) - math.max(s.startNs, start)).max(0L).toDouble /
        math.max(1L, s.endNs - s.startNs)
    }.sum / seconds
  }

  private def endToEnd(samples: Seq[Sample], seconds: Double, setupS: Double)
      : Seq[(String, Metric)] = {
    val ms = samples.map(_.ms)
    val rps = throughput(samples, seconds)
    val (p, tail) = Stats.tail(ms)
    Main.log(f"latency tail percentile p${p * 100}%.1f over ${ms.size} samples")
    Seq(
      "setup_s" -> Metric(setupS, "s", 3),
      "throughput_rps" -> Metric(rps, "1/s", samples.size),
      "latency_p50_ms" -> Metric(Stats.median(ms), "ms", ms.size),
      "latency_p95_ms" -> Metric(tail, "ms", ms.size),
      "batch_wall_s" -> Metric(100 / rps, "s", samples.size))
  }

  /** The serial replay: each request sent alone through the server, with a
    * Spark listener and a query listener on, as spans: request (client
    * latency) > plan (each Catalyst phase of its queries) and exec (each
    * job). The server's own route runs, so its numbers move with it. */
  private def replay(spark: SparkSession, base: String, reqs: Seq[Req], tracer: Tracer)
      : Seq[Sample] = {
    val meter = new SparkMeter
    val plans = new PlanMeter
    spark.sparkContext.addSparkListener(meter)
    spark.listenerManager.register(plans)
    val samples = reqs.map(send(base, _))
    meter.barrier(spark)
    spark.sparkContext.removeSparkListener(meter)
    spark.listenerManager.unregister(plans)
    samples.zipWithIndex.foreach { case (s, i) =>
      val root = tracer.add("request", s.startNs, s.endNs, -1, i)
      plans.phasesWithin(s.startNs, s.endNs).foreach { case (a, b) => tracer.add("plan", a, b, root, i) }
      meter.jobsWithin(s.startNs, s.endNs).foreach { case (a, b) => tracer.add("exec", a, b, root, i) }
    }
    samples
  }

  /** In-process probes of the library calls a request passes through, as
    * spans: probe > parse, build, prepare (`executedPlan`), render > exec
    * (the jobs inside `Formats.toJsonArray`). Returns the join count of
    * each request's optimized plan. */
  private def probe(spark: SparkSession, ws: Workspace, reqs: Seq[Req], tracer: Tracer): Seq[Int] = {
    val meter = new SparkMeter
    spark.sparkContext.addSparkListener(meter)
    val joins = reqs.zipWithIndex.map { case (r, k) =>
      val id = ReplaySample + k
      tracer.span("probe", -1, id) { root =>
        val cell = tracer.span("parse", root, id)(_ => parse(ws, r))
        val built = tracer.span("build", root, id)(_ => build(ws, r, cell))
        tracer.span("prepare", root, id)(_ => built.foreach(_.queryExecution.executedPlan))
        tracer.span("render", root, id)(_ => built.foreach(Formats.toJsonArray(_)))
        joinCount(built.head)
      }
    }
    meter.barrier(spark)
    spark.sparkContext.removeSparkListener(meter)
    tracer.all.filter(_.name == "render").foreach { r =>
      meter.jobsWithin(r.startNs, r.endNs).foreach { case (s, e) => tracer.add("exec", s, e, r.id, r.request) }
    }
    joins
  }

  private def joinCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size

  /** Keeps the request log records in memory while `on`. */
  final class CapturingLogHandler extends RequestLogHandler {
    @volatile var on = false
    val records = new ConcurrentLinkedQueue[Map[String, String]]()
    override def writeRecord(record: Map[String, String]): Unit = if (on) records.add(record)
  }
}
