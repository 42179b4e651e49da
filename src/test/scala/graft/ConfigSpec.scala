package graft

import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import graft.workspace.WorkspaceConfig

/** Workspace-from-config + server-from-config (reference `slicer serve
  * --config slicer.ini`, `slicer/commands.py:52-67`, config format
  * `examples/hello_world/slicer.ini`). */
class ConfigSpec extends AnyFunSuite with SharedSpark {

  private val modelJson =
    """{
      |  "cubes": [{
      |    "name": "mini",
      |    "fact": "lineitem",
      |    "dimensions": ["returnflag", "linestatus"],
      |    "measures": [{"name": "quantity", "aggregates": ["sum"]}],
      |    "mappings": {
      |      "returnflag": "lineitem.l_returnflag",
      |      "linestatus": "lineitem.l_linestatus",
      |      "quantity": "lineitem.l_quantity"}
      |  }]
      |}""".stripMargin

  private lazy val configDir = {
    val dir = Files.createTempDirectory("graft_cfg")
    Files.writeString(dir.resolve("model.json"), modelJson)
    Files.writeString(dir.resolve("slicer.ini"),
      """; graft slicer configuration
        |[workspace]
        |log_level: info
        |
        |[server]
        |host: 127.0.0.1
        |port: 0
        |
        |[store]
        |type: parquet_dir
        |path: /root/testdata/sf0.001
        |
        |[models]
        |main: model.json
        |""".stripMargin)
    dir
  }

  test("INI parsing: sections, both separators, comments") {
    val cfg = WorkspaceConfig.parseIni(
      "[a]\nx: 1\ny = 2\n; comment\n# comment\n[b]\nz: c:/path")
    assert(cfg("a") == Map("x" -> "1", "y" -> "2"))
    assert(cfg("b")("z") == "c:/path") // first separator wins, value intact
  }

  test("[server] allow_cors_origin + visualizer parse for the serve wiring") {
    // reference blueprint.py:109-110 — both are plain [server] strings,
    // absent by default (no CORS, visualizer 404s)
    val cfg = WorkspaceConfig.parseIni(
      "[server]\nallow_cors_origin: *\nvisualizer: https://viz.example\n")
    assert(cfg("server").get("allow_cors_origin").contains("*"))
    assert(cfg("server").get("visualizer").contains("https://viz.example"))
    val none = WorkspaceConfig.parseIni("[server]\nport: 0\n")
    assert(none("server").get("allow_cors_origin").isEmpty)
    assert(none("server").get("visualizer").isEmpty)
  }

  test("store use_denormalization flips cubes to their materialized views") {
    // reference store options use_denormalization + denormalized_prefix
    // (sql/store.py:138-144, naming mapper.py:163-168): the browser reads
    // the view named prefix+cube instead of fold-joining the star
    val dir = Files.createTempDirectory("graft_cfg_denorm")
    val storeDir = dir.resolve("store")
    Files.createDirectories(storeDir)
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .write.parquet(storeDir.resolve("lineitem.parquet").toString)
    Files.writeString(dir.resolve("model.json"), modelJson)
    val ws0 = new graft.workspace.Workspace(spark)
      .importModel(modelJson).registerTableDir(storeDir.toString)
    graft.materialize.Materialize.writeDenormalized(ws0.browser("mini"),
      storeDir.resolve("denorm_mini.parquet").toString)
    Files.writeString(dir.resolve("slicer.ini"),
      s"""[store]
         |type: parquet_dir
         |path: $storeDir
         |use_denormalization: true
         |denormalized_prefix: denorm_
         |
         |[models]
         |main: model.json
         |""".stripMargin)
    val ws = WorkspaceConfig.load(spark, dir.resolve("slicer.ini").toString)
    val denorm = ws.browser("mini").aggregate(
      drilldown = Seq("returnflag"), aggregates = Seq("quantity_sum"))
    // the browse reads the materialized view, not the fact table
    val scans = denorm.cells.queryExecution.executedPlan.toString
    assert(scans.contains("denorm_mini"), scans)
    val star = ws0.browser("mini").aggregate(
      drilldown = Seq("returnflag"), aggregates = Seq("quantity_sum"))
    assert(denorm.cells.collect().toSeq == star.cells.collect().toSeq)
  }

  test("workspace loads store + models from a config file") {
    val ws = WorkspaceConfig.load(spark, configDir.resolve("slicer.ini").toString)
    assert(ws.cubeNames == Seq("mini"))
    val cells = ws.browser("mini").aggregate(
      drilldown = Seq("returnflag"), aggregates = Seq("quantity_sum")).cells
    assert(cells.count() == 3)
  }

  test("slicer list and slicer test drive every cube from a config workspace") {
    val ws = WorkspaceConfig.load(spark, configDir.resolve("slicer.ini").toString)
    val listed = new StringBuilder
    Slicer.listCubes(ws, out = s => listed.append(s).append('\n'))
    assert(listed.toString.trim == "mini - mini")

    val tested = new StringBuilder
    val errs = Slicer.testCubes(ws, out = s => tested.append(s).append('\n'))
    assert(errs == 0)
    assert(tested.toString.contains("testing mini: ok"))
    assert(tested.toString.contains("tested 1 cubes"))
    assert(tested.toString.contains("test passed"))
    // the aggregate probe exercises the browse path too
    assert(Slicer.testCubes(ws, aggregate = true, out = _ => ()) == 0)

    // a cube whose fact table is missing reports the error and keeps going
    val broken = graft.model.ModelJson.loadString(
      """{"cubes": [{"name": "ghost", "fact": "missing_table",
        |  "measures": ["quantity"]}]}""".stripMargin).head
    ws.registerCube(broken)
    val sink = new StringBuilder
    val errs2 = Slicer.testCubes(ws, out = s => sink.append(s).append('\n'))
    assert(errs2 == 1)
    assert(sink.toString.contains("testing mini: ok"))
    assert(sink.toString.contains("testing ghost: ERROR"))
    assert(sink.toString.contains("1 ERRORS:"))
  }

  test("server smoke from the config file") {
    val ws = WorkspaceConfig.load(spark, configDir.resolve("slicer.ini").toString)
    val cfg = WorkspaceConfig.parseIni(
      Files.readString(configDir.resolve("slicer.ini")))
    assert(WorkspaceConfig.serverPort(cfg) == 0) // port 0 = ephemeral
    val server = new graft.server.SlicerServer(ws, WorkspaceConfig.serverPort(cfg))
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(p: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$p")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val cubes = get("/cubes")
      assert(cubes.statusCode() == 200 && cubes.body().contains("\"mini\""))
      val agg = get("/cube/mini/aggregate?drilldown=returnflag&aggregates=quantity_sum")
      assert(agg.statusCode() == 200 && agg.body().contains("quantity_sum"))
    } finally server.stop()
  }

  test("namespaced cubes are addressed by their dotted reference") {
    val ws = WorkspaceConfig.load(spark, configDir.resolve("slicer.ini").toString)
    val mini = graft.model.ModelJson.loadString(modelJson).head
    ws.registerCube(mini, "lab")
    assert(ws.cubeNames.contains("lab.mini"))
    assert(ws.cube("lab.mini").name == "lab.mini")
    val cells = ws.browser("lab.mini").aggregate(
      drilldown = Seq("returnflag"), aggregates = Seq("quantity_sum")).cells
    assert(cells.count() == 3)
  }

  test("multi-store config: named stores bind cubes to their own tables") {
    import spark.implicits._
    // lab store: a DIFFERENT lineitem (2 flags, 1 row each) than sf0.001's
    val labDir = Files.createTempDirectory("graft_lab_store")
    Seq(("X", "O", 1.0), ("Y", "O", 2.0))
      .toDF("l_returnflag", "l_linestatus", "l_quantity")
      .write.mode("overwrite")
      .parquet(labDir.resolve("lineitem.parquet").toString)
    val dir = Files.createTempDirectory("graft_cfg_multi")
    Files.writeString(dir.resolve("model.json"), modelJson)
    Files.writeString(dir.resolve("slicer.ini"),
      s"""[store]
         |type: parquet_dir
         |path: /root/testdata/sf0.001
         |
         |[store_lab]
         |type: parquet_dir
         |path: $labDir
         |model: model.json
         |
         |[models]
         |main: model.json
         |""".stripMargin)
    val ws = WorkspaceConfig.load(spark, dir.resolve("slicer.ini").toString)
    assert(ws.cubeNames.toSet == Set("mini", "lab.mini"))
    // default-store cube reads sf0.001 (3 returnflags)...
    assert(ws.browser("mini").aggregate(
      drilldown = Seq("returnflag"), aggregates = Seq("quantity_sum"))
      .cells.count() == 3)
    // ...the namespaced cube reads the LAB store's lineitem (2 flags)
    val lab = ws.browser("lab.mini").aggregate(
      drilldown = Seq("returnflag"), aggregates = Seq("quantity_sum"))
      .cells.collect()
    assert(lab.map(_.getAs[String]("returnflag")).sorted.toSeq == Seq("X", "Y"))
  }

  test("server /cubes lists both namespaces; namespaced aggregate served") {
    import spark.implicits._
    val labDir = Files.createTempDirectory("graft_lab_store2")
    Seq(("X", "O", 1.0)).toDF("l_returnflag", "l_linestatus", "l_quantity")
      .write.mode("overwrite")
      .parquet(labDir.resolve("lineitem.parquet").toString)
    val dir = Files.createTempDirectory("graft_cfg_srv")
    Files.writeString(dir.resolve("model.json"), modelJson)
    Files.writeString(dir.resolve("slicer.ini"),
      s"""[store]
         |type: parquet_dir
         |path: /root/testdata/sf0.001
         |
         |[store_lab]
         |type: parquet_dir
         |path: $labDir
         |model: model.json
         |
         |[models]
         |main: model.json
         |""".stripMargin)
    val ws = WorkspaceConfig.load(spark, dir.resolve("slicer.ini").toString)
    val server = new graft.server.SlicerServer(ws, 0)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(p: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$p")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val cubes = get("/cubes")
      assert(cubes.statusCode() == 200)
      assert(cubes.body().contains("\"mini\"") && cubes.body().contains("\"lab.mini\""))
      val agg = get("/cube/lab.mini/aggregate?drilldown=returnflag&aggregates=quantity_sum")
      assert(agg.statusCode() == 200 && agg.body().contains("\"X\""))
    } finally server.stop()
  }

  test("sections merely starting with 'store' are not store sections") {
    val dir = Files.createTempDirectory("graft_cfg_storage")
    Files.writeString(dir.resolve("model.json"), modelJson)
    Files.writeString(dir.resolve("slicer.ini"),
      """[store]
        |type: parquet_dir
        |path: /root/testdata/sf0.001
        |
        |[storage]
        |type: s3
        |path: /nope
        |
        |[models]
        |main: model.json
        |""".stripMargin)
    // [storage] must be ignored, not registered as store "age" (and its
    // type: s3 must not abort the load)
    val ws = WorkspaceConfig.load(spark, dir.resolve("slicer.ini").toString)
    assert(ws.cubeNames == Seq("mini"))
  }

  test("[query_log] sections + [server] logging keys configure the request logger") {
    import graft.server.{AsyncRequestLogger, RequestLog}
    val dir = Files.createTempDirectory("graft_cfg_reqlog")
    val cfg = WorkspaceConfig.parseIni(
      s"""[server]
         |log: ${dir.resolve("server.log")}
         |asynchronous_logging: true
         |
         |[query_log]
         |type: default
         |
         |[query_log_csv]
         |type: csv_file
         |path: ${dir.resolve("req.csv")}
         |
         |[query_log_json]
         |type: json
         |path: ${dir.resolve("req.jsonl")}
         |""".stripMargin)
    val logger = RequestLog.configuredLogger(cfg).get
    assert(logger.isInstanceOf[AsyncRequestLogger])
    logger.log("aggregate", "mini", "returnflag:R", Some("alice"), 0.25)
    logger.flush()
    // default handler routed to [server] log; csv + json files each got
    // the record
    assert(Files.readString(dir.resolve("server.log"))
      .contains("method:aggregate cube:mini cell:'returnflag:R' identity:'alice'"))
    assert(Files.readString(dir.resolve("req.csv")).contains("aggregate,mini,"))
    assert(Files.readString(dir.resolve("req.jsonl"))
      .contains(""""identity": "alice""""))
    // no query_log sections → no logger (reference default: logging off)
    assert(RequestLog.configuredLogger(
      WorkspaceConfig.parseIni("[server]\nport: 1\n")).isEmpty)
    // unknown handler type is a loud error, not a silent drop
    intercept[IllegalArgumentException] {
      RequestLog.configuredLogger(
        WorkspaceConfig.parseIni("[query_log]\ntype: bogus\n"))
    }
  }

  test("registerTableDir ingests csv and jsonl tables next to parquet") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_mixed_store")
    // csv with a quoted comma + embedded newline — the round trip must
    // not split the field; inferSchema must type n as a number
    Files.writeString(dir.resolve("people.csv"),
      "id,name,n\n1,\"Doe, Jane\",10\n2,\"two\nlines\",20\n")
    Files.writeString(dir.resolve("tags.jsonl"),
      """{"id":1,"tag":"a"}""" + "\n" + """{"id":2,"tag":"b"}""" + "\n")
    val ws = new graft.workspace.Workspace(spark)
      .registerTableDir(dir.toString)
    val people = ws.table("people")
    assert(people.count() == 2)
    assert(people.schema("n").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(people.filter(col("name") === "Doe, Jane").count() == 1)
    assert(people.filter(col("name").contains("\n")).count() == 1)
    val joined = people.join(ws.table("tags"), "id")
    assert(joined.agg(sum(col("n"))).collect().head.getLong(0) == 30L)
  }

  test("registerTableDir ingests orc tables with schema intact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_orc_store")
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "k", "n")
      .write.orc(dir.resolve("facts.orc").toString)
    val ws = new graft.workspace.Workspace(spark)
      .registerTableDir(dir.toString)
    val facts = ws.table("facts")
    assert(facts.schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(facts.agg(sum(col("n"))).collect().head.getLong(0) == 30L)
  }

  test("materialization verbs run against the config-loaded workspace") {
    val ws = WorkspaceConfig.load(spark, configDir.resolve("slicer.ini").toString)
    val target = Files.createTempDirectory("graft_cli_agg").toString
    graft.materialize.Materialize.preAggregate(ws.browser("mini"),
      Seq("returnflag", "linestatus"), Nil, target)
    assert(spark.read.parquet(target).count() > 0)
  }
}
