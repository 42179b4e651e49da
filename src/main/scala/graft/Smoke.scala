package graft

/** Ad-hoc local smoke runner: runs the flagship entry + every catalog query
  * at a small SF and prints row counts (and optionally plans). Not part of
  * the driver contract. Usage: runMain graft.Smoke [sfDir] [--explain q01] */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.filterNot(_.startsWith("--"))
      .getOrElse("/root/testdata/sf0.001")
    val explain = args.sliding(2).collectFirst {
      case Array("--explain", q) => q
    }
    val only = args.sliding(2).collectFirst {
      case Array("--only", q) => q
    }
    val spark = Sessions.local(Sessions.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    if (only.isEmpty) {
      val e = SparkEntry.entry(spark)
      println(s"[smoke] entry rows=${e.count()}")
      e.show(5, truncate = false)
    }

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(name.contains) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        if (explain.contains(name)) df.explain("formatted")
        val t0 = System.nanoTime()
        // full-plan execution (count() would prune computed columns and
        // time an empty scan for projection-shaped queries — see Bench)
        val n = df.queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[smoke] $name%-28s rows=$n%-8d ${dt}%.2fs")
      } catch {
        case e: Throwable =>
          println(s"[smoke] $name FAILED: ${e.getMessage}")
          e.printStackTrace()
      } finally graft.ops.Caches.releaseAll()
    }
    if (only.nonEmpty) { spark.stop(); return }

    // library-surface sample: report fan-out, relative time cuts,
    // materialized denormalized view, cuboid pre-aggregation, formats
    try {
      import graft.cells._
      import graft.browser.ReportItem
      val b = graft.tpch.TpchModel.browser(spark, sfDir)
      val r = b.report(Cell(PointCut("customer", Seq("ASIA"))), Map(
        "agg" -> ReportItem("aggregate", drilldown = Seq("returnflag"),
          aggregates = Seq("quantity_sum")),
        "members" -> ReportItem("members", dim = Some("customer"), depth = Some(1))))
      println(s"[smoke] report: agg=${r("agg").count()} members=${r("members").count()}")
      val tc = graft.browser.TimeCuts.parseCell(graft.tpch.TpchModel.cube,
        "shipdate:yesterday", java.time.LocalDateTime.of(1996, 5, 5, 0, 0))
      println(s"[smoke] timecut: ${tc.toCutString} rows=" +
        b.aggregate(cell = tc, aggregates = Seq("fact_count"))
          .cells.collect()(0).getAs[Long]("fact_count"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_smoke").toString
      graft.materialize.Materialize.createView(b, "smoke_denorm")
      println(s"[smoke] denorm view rows=" +
        spark.table("smoke_denorm").where("`customer.region_name` = 'ASIA'").count())
      graft.materialize.Materialize.preAggregate(b, Seq("returnflag"),
        Seq("quantity_sum"), s"$tmp/agg")
      graft.formats.Formats.writeCsv(spark.read.parquet(s"$tmp/agg"), s"$tmp/csv")
      println(s"[smoke] preagg+csv rows=" +
        spark.read.option("header", "true").csv(s"$tmp/csv").count())
      // authorization: restriction cell ANDed onto every browse
      val restricted = new graft.browser.Browser(
        graft.tpch.TpchModel.cube, b.star, spark,
        restrictionCell = Cell(PointCut("customer", Seq("EUROPE"))))
      println(s"[smoke] restricted count=" +
        restricted.aggregate(aggregates = Seq("fact_count"))
          .cells.collect()(0).getAs[Long]("fact_count") +
        " vs open=" +
        b.aggregate(aggregates = Seq("fact_count"))
          .cells.collect()(0).getAs[Long]("fact_count"))
      // streaming: windowed agg over the events parquet via memory sink
      val ev = graft.tpch.EventsModel.eventsTable(spark, sfDir)
      ev.write.mode("overwrite").parquet(s"$tmp/events_in")
      val stream = spark.readStream.schema(ev.schema).parquet(s"$tmp/events_in")
      val q = graft.streaming.Streaming.hourlyCounts(stream)
        .writeStream.outputMode("complete").format("memory")
        .queryName("smoke_hourly").start()
      q.processAllAvailable()
      println(s"[smoke] streaming hourly rows=${spark.table("smoke_hourly").count()}")
      q.stop()
    } catch {
      case e: Throwable =>
        println(s"[smoke] library sample FAILED: ${e.getMessage}")
        e.printStackTrace()
    }
    spark.stop()
  }
}
