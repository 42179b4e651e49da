package olapbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** One run of the benchmark:
  *
  * {{{
  * olapbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <run-dir>
  * }}}
  *
  * Generates the workload's inputs from the seed under the run directory,
  * sets the program up, measures for the given seconds, checks every output,
  * and prints as its last line one JSON object: `correct`, `attempted`,
  * `failed` and `metrics` (end-to-end metrics untraced, per-layer metrics
  * traced). `olapbench/run.py` builds, launches and cleans up after it.
  */
object Main {

  val Workloads: Seq[String] = Seq("slicer_mix", "batch_pipeline")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, dir: File)

  /** A metric as printed: value, unit, and the sample count behind it. */
  final case class Metric(value: Double, unit: String, samples: Int)

  /** What a workload returns: counts of operations, and its metrics. */
  final case class Outcome(attempted: Int, failed: Int, metrics: Seq[(String, Metric)])

  def parse(args: Seq[String]): Args = {
    val m = args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = get("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val seconds = get("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    val trace = get("trace") match {
      case "0" => false
      case "1" => true
      case t   => throw new IllegalArgumentException(s"--trace must be 0 or 1, got '$t'")
    }
    Args(workload, get("seed").toLong, seconds, trace, new File(get("dir")))
  }

  private val started = System.nanoTime()

  /** A progress line on standard output, with the seconds since start. */
  def log(msg: String): Unit =
    println(f"[olapbench] +${(System.nanoTime() - started) / 1e9}%.1fs $msg")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq)
    val spark = session(args)
    spark.sparkContext.setLogLevel("ERROR")
    val outcome =
      try {
        if (args.workload == "batch_pipeline") BatchBench.run(spark, args)
        else SlicerBench.run(spark, args)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          sys.exit(1)
      } finally spark.stop()
    report(outcome)
    // idle HTTP client and server threads would hold the JVM open
    sys.exit(0)
  }

  /** Session settings per workload: `slicer_mix` mirrors
    * `graft.Slicer serve`, `batch_pipeline` mirrors `graft.Bench`. Scratch
    * and warehouse directories live in the run directory. */
  def session(args: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(args.dir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(args.dir, "warehouse").getAbsolutePath)
    (if (args.workload == "batch_pipeline")
      b.master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.sql.codegen.cache.maxEntries", "10000")
    else
      b.master("local[*]").config("spark.sql.shuffle.partitions", "32")
    ).getOrCreate()
  }

  /** Heap in use after an explicit full collection, in MB: the least of
    * five collections a moment apart, so garbage that background threads
    * (Spark's cleaner, idle connections) release late is not counted. */
  def heapRetainedMb(): Double = (1 to 5).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def report(o: Outcome): Unit = {
    o.metrics.foreach { case (n, m) =>
      println(f"[olapbench] $n%-32s ${m.value}%14.6f ${m.unit}%-6s n=${m.samples}")
    }
    println(f"[olapbench] failed_share ${o.failed.toDouble / math.max(1, o.attempted)}%.6f " +
      s"(${o.failed} of ${o.attempted})")
    val metrics = o.metrics.map { case (n, m) =>
      s""""$n": {"value": ${fmt(m.value)}, "unit": "${m.unit}"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${o.failed == 0}, "attempted": ${o.attempted}, """ +
      s""""failed": ${o.failed}, "metrics": $metrics}""")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** What the host looked like during a run, so a contended run shows. */
object Host {
  private def read(path: String): String =
    try {
      val s = scala.io.Source.fromFile(path)
      try s.getLines().next().trim finally s.close()
    } catch { case _: Exception => "" }

  /** Fixed CPU-bound probe (the idea behind `graft.Bench`'s calibration):
    * identical work on every run, so its time measures the host. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 5000000L, 1, 4)
      .selectExpr("sum((id * 2654435761) % 1000000007) as s").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def record(spark: SparkSession): String = {
    val rt = Runtime.getRuntime
    Seq(
      s"nproc=${rt.availableProcessors()}",
      f"xmx_mb=${rt.maxMemory() / 1048576.0}%.0f",
      s"jvm=${System.getProperty("java.vm.version")}",
      s"spark=${spark.version}",
      s"loadavg=${read("/proc/loadavg").split("\\s+").take(3).mkString(",")}",
      f"calibration_s=${calibrate(spark)}%.4f").mkString(" ")
  }
}
