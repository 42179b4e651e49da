package graft

/** Dev timing harness for individual catalog queries — the quick A/B
  * loop [[Bench]] is too heavy for (it runs the full catalog, 3+
  * passes). Same measurement discipline as Bench: `toRdd.count()` so
  * the full plan executes without driver materialization, min over
  * `iters` back-to-back runs, caches released between runs.
  *
  * Usage: `runMain graft.TimeQ <sfDir> <q1,q2,...> [iters]`
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val iters = if (args.length > 2) args(2).toInt else 3
    val spark = Sessions.local(Sessions.cpus)
    spark.sparkContext.setLogLevel("WARN")
    val meter = RunMeter.attach(spark.sparkContext)
    names.foreach { n =>
      val q = SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query $n"))
      val secs = (1 to iters).map { _ =>
        meter.reset()
        val t0 = System.nanoTime()
        q(spark, sfDir).queryExecution.toRdd.count()
        val s = (System.nanoTime() - t0) / 1e9
        graft.ops.Caches.releaseAll()
        meter.settle()
        s
      }
      println(f"[timeq] $n%-28s min=${secs.min}%.3f  all=" +
        secs.map(s => f"$s%.2f").mkString(",") +
        f"  jobs=${meter.jobs.get} stages=${meter.stages.get} tasks=${meter.tasks.get} " +
        f"taskSec=${meter.taskMs.get / 1000.0}%.2f gcSec=${meter.gcMs.get / 1000.0}%.2f " +
        f"shufMB=${(meter.shuffleRead.get + meter.shuffleWrite.get) / 2097152.0}%.1f " +
        f"compiles=${meter.compiles.get} compileMs=${meter.compileMs}%.1f")
      if (sys.env.contains("TIMEQ_STAGES")) {
        import scala.jdk.CollectionConverters._
        meter.stageMs.asScala.toSeq.sortBy(-_._2).take(8).foreach {
          case (nm, ms) =>
            println(f"[timeq-stage] ${ms / 1000.0}%8.2fs  $nm")
        }
      }
    }
    spark.stop()
  }
}
