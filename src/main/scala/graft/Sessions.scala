package graft

import org.apache.spark.sql.SparkSession

/** The one place Spark session settings live: every main and spec gets
  * its session here, so the bench, the correctness gate and the dev
  * timers always measure the same configuration. `getOrCreate` applies:
  * in a JVM that already holds a session only runtime SQL settings of a
  * later call take effect. */
object Sessions {

  /** Core count for [[local]]: `SPARK_GRAFT_CPUS`, default every core of
    * this host. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Catalog runners (Bench, Verify, Smoke, TimeQ, PlanDump, ScaleStress)
    * and tests: `local[cpus]` with one shuffle partition per core. */
  def local(cpus: Int): SparkSession =
    SparkSession.builder().config(localSettings(cpus)).getOrCreate()

  /** The settings [[local]] builds with. */
  private[graft] def localSettings(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // the gate's calendar bucketing is UTC; a host-TZ session would time
    // and verify a different workload than the DuckDB oracle replays
    "spark.sql.session.timeZone" -> "UTC",
    // route small-R no-map-side-agg shuffles through the sort writer (ONE
    // output file per map task) instead of the bypass-merge writer (R
    // files per map task + an NIO concat). On containerized/overlay
    // filesystems file creation is expensive and thread dumps showed
    // executor workers pinned in FileChannel map/transferTo; measured
    // 3-5× task-time drop on join-heavy queries (q374 213→51 CPU-s, q330
    // 37→11, q369 51→10). Scale-neutral: production shuffles have R > 200
    // and never took the bypass path anyway.
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    CodegenCache -> CodegenCacheEntries,
    "spark.ui.enabled" -> "false")

  /** The JVM-wide whole-stage-codegen class cache, for every session. Its
    * default of 100 entries thrashes on a 387-query catalog (and on
    * per-round literal variants in the iterative ops): executor tasks
    * re-run Janino per stage (thread dumps showed workers pinned in
    * UnitCompiler.compile; q359 task time 58→17 s with the raise). A
    * serving JVM recompiles evicted request shapes the same way. ~10k
    * entries covers the catalog across bench passes; class metadata cost
    * is ~100-250 MB, fine for any long-lived executor. */
  private[graft] val CodegenCache = "spark.sql.codegen.cache.maxEntries"
  private[graft] val CodegenCacheEntries = "10000"

  /** The slicer CLI and server runners. Master and shuffle partitions are
    * deployment settings: `SPARK_MASTER` (default `local[*]`) and
    * `SPARK_SHUFFLE_PARTITIONS` (default 32). */
  def serving(): SparkSession =
    SparkSession.builder().config(servingSettings).getOrCreate()

  /** The settings [[serving]] builds with. */
  private[graft] def servingSettings: Map[String, String] = Map(
    "spark.master" -> sys.env.getOrElse("SPARK_MASTER", "local[*]"),
    "spark.sql.shuffle.partitions" -> sys.env.getOrElse("SPARK_SHUFFLE_PARTITIONS", "32"),
    "spark.sql.session.timeZone" -> "UTC",
    CodegenCache -> CodegenCacheEntries,
    "spark.ui.enabled" -> "false")
}
