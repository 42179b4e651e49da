package olapbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.browser.Browser
import graft.materialize.Materialize
import graft.ops.Incremental
import graft.tpch.TpchModel
import graft.workspace.Workspace
import Main.{Args, Metric, Outcome}

/** `batch_pipeline`: one serial batch job, repeated in passes, with the
  * session settings of `graft.Bench`. A pass refreshes the cube into a
  * fresh directory (denormalize, pre-aggregate every cuboid, fold seeded
  * CDC deltas into the incremental aggregate) and then runs the catalog's
  * iterative operators, each executed with `toRdd.count()`. */
object BatchBench {

  /** CDC delta batches folded per pass. */
  val Deltas = 3
  /** Passes run before the window: the first compiles everything, and pass
    * times keep falling through the next two as the JIT catches up, longer
    * on a busy host. */
  val WarmUpPasses = 3
  /** Generated data sets; the seed picks one, so each has recorded
    * operator output digests. */
  val Corpora = 4

  val CuboidDrilldown: Seq[String] = Seq("date:year", "customer:region", "returnflag")
  val CuboidAggregates: Seq[String] = Seq("fact_count", "quantity_sum")

  final case class Step(name: String, ms: Double, jobs: Int)

  def corpus(seed: Long): Int = java.lang.Math.floorMod(seed, Corpora.toLong).toInt

  /** Set-up as a user waits for it: load the workspace and answer the
    * cube summary. */
  private def setUp(spark: SparkSession, data: String): (Browser, Double) = {
    val t0 = System.nanoTime()
    val b = new Workspace(spark).registerTableDir(data).registerCube(TpchModel.cube).browser("sales")
    b.aggregate(aggregates = Seq("fact_count")).summary.get.collect()
    (b, (System.nanoTime() - t0) / 1e9)
  }

  /** Rows of the denormalized table as CDC input: order key, two grouping
    * keys and an integer measure. */
  private def cdcRows(spark: SparkSession, denorm: String): DataFrame =
    spark.read.parquet(denorm).select(col(s"`${SlicerBench.FactKey}`").as("okey"),
      col("`date.year`").as("year"), col("returnflag"), col("quantity").cast("long").as("qty"))

  private val Keys = Seq("year", "returnflag")

  /** Which rows the base load holds, and which each delta inserts and
    * retracts, all chosen by the seed. */
  private final class Cdc(seed: Long) {
    private val salt = java.lang.Math.floorMod(seed, 1000L)
    private def h(c: org.apache.spark.sql.Column) = pmod(c * 31 + salt, lit(4L))
    def base(rows: DataFrame): DataFrame = rows.filter(h(col("okey")) =!= 0)
    def inserts(rows: DataFrame, k: Int): DataFrame =
      rows.filter(h(col("okey")) === 0 && pmod(col("okey"), lit(Deltas.toLong)) === k)
    def retracts(rows: DataFrame, k: Int): DataFrame =
      rows.filter(h(col("okey")) =!= 0 && pmod(col("okey"), lit(7L)) === k + 1)
    def finalRows(rows: DataFrame): DataFrame =
      rows.filter(h(col("okey")) === 0 || pmod(col("okey"), lit(7L)) === 0 ||
        pmod(col("okey"), lit(7L)) > Deltas)
  }

  private def signed(df: DataFrame, sign: Long) = df.withColumn("sign", lit(sign))

  /** One refresh into `dir`; returns the incremental aggregate's path. */
  private def refresh(spark: SparkSession, b: Browser, seed: Long, dir: String,
      timed: (String, => Unit) => Unit): String = {
    timed("materialize.denorm_s", Materialize.writeDenormalized(b, s"$dir/denorm"))
    timed("materialize.cuboids_s", Materialize.preAggregate(b, CuboidDrilldown, CuboidAggregates,
      s"$dir/cuboids", allCuboids = true))
    val cdc = new Cdc(seed)
    timed("incremental.merge_s", {
      val rows = cdcRows(spark, s"$dir/denorm")
      Incremental.aggregateSigned(signed(cdc.base(rows), 1), Keys, "sign", Seq("qty"))
        .write.parquet(s"$dir/inc-0")
      (1 to Deltas).foreach { k =>
        val delta = signed(cdc.inserts(rows, k - 1), 1).unionByName(signed(cdc.retracts(rows, k - 1), -1))
        Incremental.merge(spark.read.parquet(s"$dir/inc-${k - 1}"),
          Incremental.aggregateSigned(delta, Keys, "sign", Seq("qty")), Keys)
          .write.parquet(s"$dir/inc-$k")
      }
    })
    s"$dir/inc-$Deltas"
  }

  /** The refresh's output checks: the merged incremental aggregate equals a
    * from-scratch one, and every cuboid grain rolls up to the base summary. */
  private def checkRefresh(spark: SparkSession, b: Browser, seed: Long, dir: String): Seq[String] = {
    val rows = cdcRows(spark, s"$dir/denorm")
    val scratch = Incremental.aggregateSigned(signed(new Cdc(seed).finalRows(rows), 1), Keys,
      "sign", Seq("qty")).collect().map(_.toString).sorted.toSeq
    val merged = spark.read.parquet(s"$dir/inc-$Deltas").select("year", "returnflag", "n", "qty_sum")
      .collect().map(_.toString).sorted.toSeq
    val summary = b.aggregate(aggregates = CuboidAggregates).summary.get.collect().head
    val (count, qty) = (summary.getAs[Number]("fact_count").longValue,
      summary.getAs[Number]("quantity_sum").doubleValue)
    val cuboids = spark.read.parquet(s"$dir/cuboids")
    val grain = cuboids.columns.filterNot(c => CuboidAggregates.contains(c) || c == "__gid__")
      .map(c => col(s"`$c`").isNull)
    val rollups = cuboids.groupBy(grain: _*)
      .agg(sum("fact_count").as("c"), sum("quantity_sum").as("q")).collect()
    Seq(
      if (scratch == merged) None
      else Some(s"incremental merge differs from scratch: ${merged.take(3)} vs ${scratch.take(3)}"),
      if (rollups.length == 1 << grain.length && rollups.forall(r =>
        r.getAs[Number]("c").longValue == count &&
          math.abs(r.getAs[Number]("q").doubleValue - qty) <= 1e-9 * math.abs(qty))) None
      else Some(s"cuboids do not roll up to the summary ($count, $qty): " +
        s"${cuboids.columns.toSeq} ${rollups.toSeq}")
    ).flatten
  }

  /** Order-insensitive digest of an operator's output; doubles at 9
    * significant digits. */
  def digest(rows: Seq[Row]): String = {
    def cell(v: Any): String = v match {
      case d: Double => f"$d%.9g"
      case f: Float  => f"${f.toDouble}%.6g"
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case null      => "null"
      case o         => o.toString
    }
    val text = rows.map(r => r.toSeq.map(cell).mkString("|")).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
  }

  def run(spark: SparkSession, args: Args): Outcome = {
    val data = new File(args.dir, "data").getAbsolutePath
    // the tables come from the seed's corpus, whose operator digests are
    // recorded; the CDC batches come from the seed itself
    Data.write(spark, 1000L + corpus(args.seed), Data.Batch, data)
    Main.log("data written")
    val setups = (1 to 3).map(_ => setUp(spark, data))
    val b = setups.last._1
    val setupS = Stats.median(setups.map(_._2))
    Main.log(f"set up in $setupS%.3fs (median of 3)")
    Main.log(s"host ${Host.record(spark)}")
    // the traced passes' listener; None while passes run untraced
    var tracing: Option[SparkMeter] = None

    var passNo = 0
    var stepsRun = 0
    // the operators' frames of the latest pass, kept for its output check
    var lastFrames = Seq.empty[(String, DataFrame)]
    /** One pass; steps carry their wall time and, traced, their job count. */
    def pass(): (Seq[Step], Double, String) = {
      passNo += 1
      val dir = new File(args.dir, s"pass-$passNo").getAbsolutePath
      val steps = scala.collection.mutable.ArrayBuffer.empty[Step]
      def timed(name: String, f: => Unit): Unit = {
        tracing.foreach(settle)
        val jobs0 = tracing.fold(0)(_.jobs.get)
        val t0 = System.nanoTime()
        f
        val ms = (System.nanoTime() - t0) / 1e6
        tracing.foreach(settle)
        steps += Step(name, ms, tracing.fold(0)(_.jobs.get - jobs0))
        stepsRun += 1
      }
      val t0 = System.nanoTime()
      refresh(spark, b, args.seed, dir, timed)
      lastFrames = Layers.Ops.map { q =>
        var df: DataFrame = null
        // building the frame is timed too: the iterative operators run
        // their rounds while the frame is built
        timed(s"ops.$q.wall_s", {
          df = SparkEntry.queries(q)(spark, data)
          df.queryExecution.toRdd.count()
        })
        q -> df
      }
      val wall = (System.nanoTime() - t0) / 1e9
      Main.log(f"pass $passNo%d $wall%.3fs " +
        steps.map(st => f"${st.name.stripSuffix("_s").stripSuffix(".wall")}=${st.ms / 1e3}%.3f")
          .mkString(" "))
      (steps.toSeq, wall, dir)
    }

    // untimed checks of the last measured pass: its refresh, and its
    // operators' outputs against the digests recorded for this corpus
    def checkLast(dir: String): Seq[String] = {
      val expected = Digests.Expected.getOrElse(corpus(args.seed), Map.empty)
      val digests = lastFrames.flatMap { case (q, df) =>
        val d = digest(df.collect().toSeq)
        Main.log(s"digest corpus=${corpus(args.seed)} $q $d")
        if (expected.get(q).contains(d)) None
        else Some(s"$q output digest $d, recorded ${expected.getOrElse(q, "none")}")
      }
      lastFrames = Nil
      checkRefresh(spark, b, args.seed, dir) ++ digests
    }

    // JIT and codegen warm-up is not what a batch costs
    (1 to WarmUpPasses).foreach(_ => pass())
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    val (metrics, failures) =
      if (!args.trace) {
        val passes = scala.collection.mutable.ArrayBuffer(pass())
        while (System.nanoTime() < deadline) passes += pass()
        val failures = checkLast(passes.last._3)
        // after the checks dropped the last pass's frames, so only what the
        // program keeps is counted
        val heap = Main.heapRetainedMb()
        (endToEnd(passes.toSeq, setupS) :+ ("heap_retained_mb" -> Metric(heap, "MB", 1)), failures)
      } else {
        // passes untraced, traced, traced, untraced, ...: a warm-up trend
        // cancels out of the overhead (traced against untraced passes)
        val meter = new SparkMeter
        val plans = new PlanMeter
        val passes = scala.collection.mutable.ArrayBuffer.empty[((Seq[Step], Double, String), Boolean)]
        while (System.nanoTime() < deadline || passes.size < 3) {
          val traced = passes.size % 4 == 1 || passes.size % 4 == 2
          if (traced) {
            spark.sparkContext.addSparkListener(meter)
            spark.listenerManager.register(plans)
            tracing = Some(meter)
          }
          passes += (pass() -> traced)
          if (traced) {
            settle(meter)
            tracing = None
            spark.sparkContext.removeSparkListener(meter)
            spark.listenerManager.unregister(plans)
          }
        }
        val (traced, plain) = passes.toSeq.partition(_._2)
        (layers(plain.map(_._1), traced.map(_._1), meter, plans), checkLast(passes.last._1._3))
      }
    failures.foreach(f => Main.log(s"FAILED $f"))
    // operations are the steps run; each failed check fails one
    Outcome(stepsRun, math.min(stepsRun, failures.size), metrics)
  }

  /** Waits until the listener has seen the end of every job it saw start. */
  private def settle(m: SparkMeter): Unit = {
    val t0 = System.nanoTime()
    while (m.jobs.get != m.jobIntervals.size && System.nanoTime() - t0 < 5000000000L)
      Thread.sleep(2)
  }

  /** A pass is the batch's unit of work, as a request is the slicer's, so
    * latencies are pass wall times. Step times would not do: a run's 24 to
    * 30 steps fall in six clusters, and a tail percentile that moves with
    * the step count jumps between them. */
  private def endToEnd(passes: Seq[(Seq[Step], Double, String)], setupS: Double)
      : Seq[(String, Metric)] = {
    val wall = passes.map(_._2)
    val (p, tail) = Stats.tail(wall)
    Main.log(f"passes ${passes.size}, pass tail percentile p${p * 100}%.1f")
    Seq(
      "setup_s" -> Metric(setupS, "s", 3),
      "throughput_rps" -> Metric(Stats.median(passes.map(p => p._1.size / p._2)), "1/s", wall.size),
      "latency_p50_ms" -> Metric(Stats.median(wall) * 1e3, "ms", wall.size),
      "latency_p95_ms" -> Metric(tail * 1e3, "ms", wall.size),
      "batch_wall_s" -> Metric(Stats.median(wall), "s", wall.size))
  }

  private def layers(plain: Seq[(Seq[Step], Double, String)], traced: Seq[(Seq[Step], Double, String)],
      meter: SparkMeter, plans: PlanMeter): Seq[(String, Metric)] = {
    val wallNs = (traced.map(_._2).sum * 1e9).toLong
    val steps = traced.flatMap(_._1)
    val byStep = steps.groupBy(_.name)
    val stepMs = byStep.map { case (n, xs) => n -> (Stats.median(xs.map(_.ms)) / 1e3, xs.size) }
    val jobs = byStep.collect { case (n, xs) if n.startsWith("ops.") =>
      n.stripSuffix(".wall_s") + ".jobs" -> (Stats.median(xs.map(_.jobs.toDouble)), xs.size)
    }
    val files = traced.map(t => countFiles(new File(t._3))).sum
    val wall = traced.map(_._2)
    Layers.complete(Layers.exec(meter, plans, steps.size, wallNs) ++ stepMs ++ jobs ++ Map(
      "write.bytes" -> (meter.writeBytes.get.toDouble / traced.size, traced.size),
      "write.records" -> (meter.writeRecords.get.toDouble / traced.size, traced.size),
      "write.files" -> (files.toDouble / traced.size, traced.size),
      "traced.latency_p50_ms" -> (Stats.median(wall) * 1e3, wall.size),
      "traced.throughput_rps" -> (Stats.median(traced.map(p => p._1.size / p._2)), wall.size),
      "traced.batch_wall_s" -> (Stats.median(wall), wall.size),
      "trace.overhead_share" -> (Stats.median(wall) / Stats.median(plain.map(_._2)) - 1, wall.size)))
  }

  private def countFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(countFiles).sum
    else if (f.getName.startsWith("part-")) 1 else 0
}
