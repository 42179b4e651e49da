package graft.server

import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URI

/** Dev runner: boot the slicer on the testdata workspace, hit a few
  * endpoints, print each response and the Spark work it cost (SQL
  * queries, jobs, tasks, generated-code compiles and their time). `runMain graft.server.ServerSmoke [sfDir]
  * [--serve]` — with `--serve` it stays up for manual curls. */
object ServerSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.filterNot(_.startsWith("--"))
      .getOrElse("/root/testdata/sf0.001")
    val spark = graft.Sessions.serving()
    spark.sparkContext.setLogLevel("ERROR")
    val ws = new graft.workspace.Workspace(spark)
      .registerCube(graft.tpch.TpchModel.cube)
      .registerCube(graft.tpch.EventsModel.cube)
      .registerTableDir(sfDir)
    val server = new SlicerServer(ws)
    val port = server.start()
    println(s"[server] listening on 127.0.0.1:$port")
    if (args.contains("--serve")) {
      Thread.currentThread().join()
    } else {
      val client = HttpClient.newHttpClient()
      val meter = graft.RunMeter.attach(spark.sparkContext)
      def get(p: String): Unit = {
        meter.settle()
        meter.reset()
        val r = client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$p")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        meter.settle()
        println(s"[server] GET $p -> ${r.statusCode()} ${r.body().take(300)}")
        println(s"[server]   queries=${meter.queries.get} jobs=${meter.jobs.get} " +
          s"tasks=${meter.tasks.get} compiles=${meter.compiles.get} " +
          f"compileMs=${meter.compileMs}%.1f")
      }
      get("/cubes")
      get("/cube/sales/aggregate?cut=customer:ASIA&drilldown=returnflag&aggregates=quantity_sum%7Cfact_count")
      get("/cube/sales/aggregate?drilldown=returnflag")
      get("/cube/sales/members/customer?depth=1")
      get("/cube/sales/aggregate?drilldown=returnflag&aggregates=fact_count&format=csv")
      server.stop()
      spark.stop()
    }
  }
}
