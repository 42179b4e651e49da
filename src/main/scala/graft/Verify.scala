package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Names of container-typed (array/map/struct) columns in a gate
    * query's output schema. Gate contract: none allowed — the driver's
    * pandas checker cannot hash container cells (round-9 q94/q98/q116
    * 'unhashable numpy.ndarray'); operators may return arrays, gate
    * queries must export them via array_join/to_json. */
  def containerColumns(schema: org.apache.spark.sql.types.StructType): Seq[String] =
    schema.fields.toSeq.collect {
      case f if (f.dataType match {
        case _: org.apache.spark.sql.types.ArrayType => true
        case _: org.apache.spark.sql.types.MapType => true
        case _: org.apache.spark.sql.types.StructType => true
        case _ => false
      }) => f.name
    }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter for fast local
    // iteration on one gate query (the driver always passes exactly two)
    val Array(sfDir, outDir) = args.take(2)
    // "--sql-only": dump oracle_sql.json for ALL queries without running
    // any Spark query — feeds tools/oracle_lint.py, which DESCRIBEs every
    // oracle in DuckDB and fails on dtypes pandas renders differently
    // from the Spark parquet export (the recurring HUGEINT hash-mismatch
    // class from rounds 9 and 10).
    val sqlOnly = args.length > 2 && args(2) == "--sql-only"
    val only: Option[Set[String]] =
      if (args.length > 2 && !sqlOnly) Some(args(2).split(",").toSet)
      else None
    def keepOracle(name: String) = only.forall(_.contains(name))
    new java.io.File(outDir).mkdirs()
    // the oracle dump needs no session: --sql-only starts no Spark
    if (!sqlOnly) runQueries(sfDir, outDir, keepOracle)
    // keys sorted: two runs of one commit write the same bytes; every
    // control char in the SQL is escaped, or a reader's json.load fails
    import graft.formats.Formats.jsonString
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .filter(kv => keepOracle(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  /** Each kept gate query's result → parquet under `outDir`. */
  private def runQueries(sfDir: String, outDir: String,
      keep: String => Boolean): Unit = {
    val spark = Sessions.local(Sessions.cpus)
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val bad = containerColumns(df.schema)
        require(bad.isEmpty, s"gate query $name exports container-typed " +
          s"columns ${bad.mkString(",")} — stringify them " +
          "(array_join/to_json) before export")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failing query must leave NO stale output (a previous run's
        // parquet would silently PASS the compare) — but it must also not
        // VANISH from the artifact: the round-8 driver compare dropped
        // the three failed events queries entirely and the round read as
        // all-green. Overwrite with a one-row sentinel whose schema can
        // never match an oracle, so the failure is recorded as an
        // explicit mismatch with the message in the artifact.
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(new java.io.File(s"$outDir/$name"))
        try {
          import spark.implicits._
          Seq(("" + e.getMessage).take(500)).toDF("__verify_error__")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
      finally graft.ops.Caches.releaseAll()
    }
    spark.stop()
  }
}
