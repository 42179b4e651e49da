package graft

import org.scalatest.funsuite.AnyFunSuite
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URI
import graft.workspace.Workspace
import graft.server.SlicerServer
import graft.tpch.TpchModel

/** Drives the slicer HTTP server over a real socket with a real Spark
  * session — the reference's server test tier (`tests/test_server.py`). */
class ServerSpec extends AnyFunSuite with SharedSpark {

  lazy val ws: Workspace = new Workspace(spark)
    .registerCube(TpchModel.cube)
    .registerTableDir("/root/testdata/sf0.001")

  lazy val (server, port) = {
    val s = new SlicerServer(ws)
    (s, s.start())
  }

  private val client = HttpClient.newHttpClient()

  private def get(path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(path: String, body: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("/ index: info block, has_about, API surface (reference show_index)") {
    val (code, body) = get("/")
    assert(code == 200)
    assert(body.contains(""""slicer": "cubesspark""""))
    assert(body.contains(""""has_about": false""")) // no serverInfo configured here
    assert(body.contains(""""info": {"""))
    assert(body.contains("/cube/<cube>/aggregate"))
  }

  test("/info serves the full reference key set (get_info, blueprint.py:250-279)") {
    val (code, body) = get("/info")
    assert(code == 200)
    Seq("json_record_limit", "cubes_version", "timezone", "first_weekday",
      "api_version", "authentication").foreach(k =>
      assert(body.contains("\"" + k + "\""), s"missing info key $k"))
    assert(body.contains(""""type": "none"""")) // no authorizer on this workspace
    assert(body.contains(""""json_record_limit": 10000"""))
    // identity echoes back when presented
    val (_, withId) = get("/info?identity=alice")
    assert(withId.contains(""""identity": "alice""""))
  }

  test("configured [info] about-block serves through / and /info") {
    val ws2 = new Workspace(spark)
      .registerCube(TpchModel.cube)
      .registerTableDir("/root/testdata/sf0.001")
    val s2 = new SlicerServer(ws2,
      serverInfo = Map("name" -> "demo", "license" -> "CC0"))
    val p2 = s2.start()
    try {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p2/")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      assert(r.body().contains(""""has_about": true"""))
      assert(r.body().contains(""""name": "demo""""))
      assert(r.body().contains(""""license": "CC0""""))
    } finally s2.stop()
  }

  test("/logout acknowledges; /cube/<c>/search finds members natively") {
    val (code, body) = get("/logout")
    assert(code == 200 && body == "logged out")
    // native member search (the reference 501s without external Sphinx;
    // graft searches the member listings directly)
    val (sc, sbody) = get("/cube/sales/search?q=asia")
    assert(sc == 200, sbody)
    assert(sbody.contains(""""q": "asia""""), sbody)
    assert(sbody.toLowerCase.contains("asia"), sbody)
    assert(sbody.contains(""""dimension""""), sbody)
    // case-insensitive substring; dimension filter narrows the scope
    val (sc2, sbody2) = get("/cube/sales/search?q=ASIA&dimension=customer")
    assert(sc2 == 200 && sbody2.toLowerCase.contains("asia"), sbody2)
    // no hits -> empty matches, not an error
    val (sc3, sbody3) = get("/cube/sales/search?q=zzzzqqqq")
    assert(sc3 == 200 && sbody3.contains(""""matches": []"""), sbody3)
    // missing q is a client error
    val (sc4, _) = get("/cube/sales/search")
    assert(sc4 == 400)
  }

  test("/version carries api_version (reference show_version)") {
    val (code, body) = get("/version")
    assert(code == 200 && body.contains(""""api_version": 2"""))
  }

  test("/cubes and /cube/<c>/model") {
    val (c1, cubes) = get("/cubes")
    assert(c1 == 200 && cubes.contains("\"sales\""))
    val (c2, model) = get("/cube/sales/model")
    assert(c2 == 200 && model.contains("\"customer\"") && model.contains("quantity_sum"))
  }

  test("/aggregate with cut + drilldown + pagination") {
    val (code, body) = get(
      "/cube/sales/aggregate?cut=customer:ASIA&drilldown=customer:nation" +
        "&aggregates=quantity_sum%7Cfact_count&pagesize=3")
    assert(code == 200)
    assert(body.contains("\"summary\"") && body.contains("\"cells\""))
    assert(body.contains("customer.nation_name"))
    // pagesize respected
    assert(body.split("customer\\.nation_name").length - 1 <= 4)
    // reference response shape: aggregates/attributes/cell/has_split +
    // total_cell_count BEFORE pagination (5 ASIA nations > pagesize 3)
    assert(body.contains(""""aggregates": ["quantity_sum","fact_count"]"""))
    assert(body.contains(""""attributes":""") && body.contains(""""has_split": false"""))
    assert(body.contains(""""cell": [{"type": "point", "dimension": "customer""""))
    assert(body.contains(""""total_cell_count": 5"""))
    // opt-out honored
    val (_, noCount) = get(
      "/cube/sales/aggregate?drilldown=returnflag&include_cell_count=false")
    assert(!noCount.contains("total_cell_count"))
  }

  test("aggregate json equals the in-process browser's frames: pages, order, empty cell, no drilldown, split, window") {
    import graft.browser.TimeCuts
    import graft.formats.Formats
    val b = ws.browserFor(None, "sales")
    val nation = "drilldown=customer:nation&aggregates=quantity_sum%7Cfact_count"
    // (query string, cut, drilldown, aggregates, split, order, page, pagesize)
    val cases = Seq(
      (nation, None, Seq("customer:nation"), Seq("quantity_sum", "fact_count"),
        None, Nil, None, None),
      (s"$nation&page=1&pagesize=7", None, Seq("customer:nation"),
        Seq("quantity_sum", "fact_count"), None, Nil, Some(1), Some(7)),
      // 25 nations: the last page holds 4
      (s"$nation&page=3&pagesize=7", None, Seq("customer:nation"),
        Seq("quantity_sum", "fact_count"), None, Nil, Some(3), Some(7)),
      (s"$nation&page=9&pagesize=7", None, Seq("customer:nation"),
        Seq("quantity_sum", "fact_count"), None, Nil, Some(9), Some(7)),
      (s"$nation&order=quantity_sum:desc&pagesize=10", None, Seq("customer:nation"),
        Seq("quantity_sum", "fact_count"), None, Seq("quantity_sum" -> Some("desc")),
        None, Some(10)),
      // an empty cell: no grouping-sets summary row, the summary is still
      // the global aggregate's (a count of 0)
      (s"cut=returnflag:ZZZ&$nation", Some("returnflag:ZZZ"), Seq("customer:nation"),
        Seq("quantity_sum", "fact_count"), None, Nil, None, None),
      ("cut=customer:ASIA&aggregates=quantity_sum%7Cfact_count", Some("customer:ASIA"),
        Nil, Seq("quantity_sum", "fact_count"), None, Nil, None, None),
      ("drilldown=returnflag&aggregates=quantity_sum%7Cfact_count&split=customer:ASIA",
        None, Seq("returnflag"), Seq("quantity_sum", "fact_count"),
        Some("customer:ASIA"), Nil, None, None),
      ("drilldown=customer:nation&aggregates=quantity_sum%7Cquantity_sma&page=2&pagesize=10",
        None, Seq("customer:nation"), Seq("quantity_sum", "quantity_sma"), None, Nil,
        Some(2), Some(10)))
    cases.foreach { case (qs, cut, dd, aggs, split, order, page, pageSize) =>
      val (code, body) = get(s"/cube/sales/aggregate?$qs")
      assert(code == 200, s"$qs: $body")
      val cell = cut.map(TimeCuts.parseCell(b.cube, _)).getOrElse(graft.cells.Cell.empty)
      val splitCell = split.map(TimeCuts.parseCell(b.cube, _))
      val paged = b.aggregate(cell, dd, aggs, splitCell, order, page, pageSize)
      val all = b.aggregate(cell, dd, aggs, splitCell, order)
      val summary = Formats.toJsonArray(paged.summary.get, 1).stripPrefix("[").stripSuffix("]")
      val cells = Formats.toJsonArray(paged.cells)
      assert(body.startsWith(s"""{"summary": $summary, "cells": $cells, """), qs)
      assert(body.endsWith(s""""total_cell_count": ${all.cells.count()}}"""), qs)
      if (page.contains(9)) assert(cells == "[]" && body.endsWith(""""total_cell_count": 25}"""))
    }
  }

  test("aggregate json past 10,000 cells: truncated page, exact count, one extra query") {
    import org.apache.spark.sql.functions.col
    import graft.model._
    val n = 10050
    val cube = Cube(name = "big", factTable = "big",
      dimensions = Seq(Dimension.flat("item")),
      measures = Seq(Measure("amount")),
      aggregates = Seq(
        MeasureAggregate("amount_sum", function = Some("sum"), measure = Some("amount")),
        MeasureAggregate("count", function = Some("count"))),
      keyColumn = Some("id"))
    // the same facts with a window calculator among the defaults: the
    // browser cannot answer these in one pass
    val windowed = cube.copy(name = "bigw", aggregates = cube.aggregates :+
      MeasureAggregate("amount_sma", function = Some("sma"), measure = Some("amount_sum")))
    val big = new Workspace(spark).registerCube(cube).registerCube(windowed).registerTable("big",
      spark.range(n).select(col("id"), (col("id") * 7 % n).as("item"), (col("id") % 5).as("amount")))
    val srv = new SlicerServer(big)
    val p = srv.start()
    try {
      def fetch(qs: String) = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$p/cube/$qs")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      // one-pass (explicit aggregates, cube defaults) and two-query
      // (a window calculator, a split) plans
      for (qs <- Seq("big/aggregate?drilldown=item&aggregates=amount_sum%7Ccount",
          "big/aggregate?drilldown=item", "bigw/aggregate?drilldown=item",
          "big/aggregate?drilldown=item&split=item:0-20000")) {
        val r = fetch(qs)
        assert(r.statusCode() == 200, r.body())
        assert(r.headers().firstValue("X-Graft-Truncated").orElse("") == "true", qs)
        val j = org.json4s.jackson.JsonMethods.parse(r.body())
        assert((j \ "cells").children.size == 10000, qs)
        assert((j \ "total_cell_count") == org.json4s.JInt(n), qs)
        assert((j \ "summary" \ "count") == org.json4s.JInt(n), qs)
        // the last cell of the page is the 10,000th item in key order
        assert(((j \ "cells").children.last \ "item") == org.json4s.JInt(9999), qs)
        // the page after it: the remaining 50 cells, not truncated
        val tail = fetch(s"$qs&page=1&pagesize=10000")
        assert(!tail.headers().firstValue("X-Graft-Truncated").isPresent, qs)
        val tj = org.json4s.jackson.JsonMethods.parse(tail.body())
        assert((tj \ "cells").children.size == n - 10000, qs)
        assert((tj \ "total_cell_count") == org.json4s.JInt(n), qs)
      }
    } finally srv.stop()
  }

  test("aggregate json: a fused request runs 1 query, a non-fused one 2, and nothing stays cached") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val queries = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        queries.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        queries.incrementAndGet()
    }
    def queriesOf(path: String): Int = {
      org.apache.spark.sql.GraftSqlBridge.waitForListeners(spark.sparkContext, 30000L)
      queries.set(0)
      val (code, body) = get(path)
      assert(code == 200, body)
      org.apache.spark.sql.GraftSqlBridge.waitForListeners(spark.sparkContext, 30000L)
      queries.get
    }
    get("/cube/sales/aggregate?drilldown=returnflag") // server started, tables read
    get("/cube/sales/members/customer?depth=1") // the cube's pre-joined star built
    spark.catalog.clearCache()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    spark.listenerManager.register(listener)
    try {
      assert(queriesOf("/cube/sales/aggregate?cut=customer:ASIA&drilldown=customer:nation" +
        "&aggregates=quantity_sum%7Cfact_count&page=1&pagesize=2") == 1)
      // the sales defaults include window calculators: the summary is its
      // own query
      assert(queriesOf("/cube/sales/aggregate?drilldown=customer:nation&page=1&pagesize=2") == 2)
      assert(queriesOf("/cube/sales/aggregate?drilldown=returnflag" +
        "&aggregates=quantity_sum%7Cfact_count&split=customer:ASIA") == 2)
    } finally spark.listenerManager.unregister(listener)
    assert(spark.sharedState.cacheManager.isEmpty)
    // the star is built once per cube, not per request: requests persist
    // no RDD of their own
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(persisted))
    assert(ws.prejoinedStar("sales").map(_.buildCount).contains(1))
  }

  test("negative or overflowing page/pagesize is a 400 on aggregate, facts and members") {
    val verbs = Seq("aggregate?drilldown=returnflag&", "facts?", "members/customer?")
    for {
      verb <- verbs
      paging <- Seq("page=-1&pagesize=5", "page=0&pagesize=-5", "pagesize=-1",
        "page=100000&pagesize=100000", "page=1001&pagesize=100", "page=1&pagesize=100001",
        "page=x&pagesize=5")
    } {
      val (code, body) = get(s"/cube/sales/$verb$paging")
      assert(code == 400, s"$verb$paging: $code $body")
    }
    // the deepest served offset is 100,000 rows (10 × the record limit)
    for (verb <- verbs) {
      val (code, body) = get(s"/cube/sales/${verb}page=1000&pagesize=100")
      assert(code == 200, s"$verb at the deepest offset: $code $body")
    }
    assert(get("/cube/sales/facts?page=1001&pagesize=100")._2.contains("100000"))
  }

  test("/facts format=json_lines: chunked stream, one object per line, no record limit") {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port" +
        "/cube/sales/facts?format=json_lines&fields=returnflag,quantity")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("")
      .startsWith("application/x-json-lines"))
    val lines = r.body().linesIterator.toSeq
    // the WHOLE fact set streams (plain json truncates at 10k with the
    // X-Graft-Truncated header; lines mode has no record limit) — sf0.001
    // lineitem is ~6k rows, all of them arrive
    assert(lines.size > 5000, s"got ${lines.size} lines")
    // every line is one self-contained JSON object
    import org.json4s._
    val first = org.json4s.jackson.JsonMethods.parse(lines.head)
    assert((first \ "returnflag").isInstanceOf[JString])
    assert(org.json4s.jackson.JsonMethods.parse(lines.last)
      .isInstanceOf[JObject])
  }

  test("/aggregate csv format") {
    val (code, body) = get(
      "/cube/sales/aggregate?drilldown=returnflag&aggregates=fact_count&format=csv")
    assert(code == 200)
    assert(body.linesIterator.next().contains("returnflag"))
    assert(body.linesIterator.size == 4) // header + 3 flags
  }

  test("csv header types: names, labels (default), none (reference header_type)") {
    val base = "/cube/sales/aggregate?drilldown=returnflag&aggregates=fact_count&format=csv"
    val (_, names) = get(s"$base&header=names")
    assert(names.linesIterator.next() == "returnflag,fact_count")
    // labels fall back to the name when the model defines none
    val (_, labels) = get(base)
    assert(labels.linesIterator.next() == "returnflag,fact_count")
    val (_, none) = get(s"$base&header=none")
    assert(none.linesIterator.size == 3 &&
      !none.linesIterator.next().contains("returnflag"))
    assert(get(s"$base&header=bogus")._1 == 400)
  }

  test("/aggregate and /facts xlsx format: OOXML zip re-parses") {
    import java.util.zip.ZipInputStream
    def getBytes(path: String): (Int, java.net.http.HttpHeaders, Array[Byte]) = {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      (r.statusCode(), r.headers(), r.body())
    }
    def sheetXml(bytes: Array[Byte]): String = {
      val zin = new ZipInputStream(new java.io.ByteArrayInputStream(bytes))
      var sheet: String = null
      var entry = zin.getNextEntry
      val names = scala.collection.mutable.Set.empty[String]
      while (entry != null) {
        names += entry.getName
        if (entry.getName == "xl/worksheets/sheet1.xml")
          sheet = new String(zin.readAllBytes(), "UTF-8")
        entry = zin.getNextEntry
      }
      assert(names.contains("[Content_Types].xml") && names.contains("xl/workbook.xml"))
      sheet
    }
    val (code, headers, bytes) = getBytes(
      "/cube/sales/aggregate?drilldown=returnflag&aggregates=fact_count&format=xlsx")
    assert(code == 200)
    assert(headers.firstValue("Content-Type").orElse("")
      .startsWith("application/vnd.openxmlformats-officedocument.spreadsheetml.sheet"))
    assert(headers.firstValue("Content-Disposition").orElse("")
      .contains("aggregate.xlsx"))
    val sheet = sheetXml(bytes)
    assert(sheet != null)
    // header + 3 returnflag rows
    assert("<row>".r.findAllIn(sheet).size == 4)
    assert(sheet.contains("returnflag"))
    val (c2, h2, b2) = getBytes("/cube/sales/facts?pagesize=2&format=xlsx")
    assert(c2 == 200)
    assert(h2.firstValue("Content-Disposition").orElse("").contains("facts.xlsx"))
    assert("<row>".r.findAllIn(sheetXml(b2)).size == 3) // header + 2 facts
  }

  test("/facts with fields and /fact/<id>") {
    val (code, body) = get(
      "/cube/sales/facts?cut=customer:ASIA&fields=returnflag,quantity&pagesize=2")
    assert(code == 200 && body.contains("returnflag"))
    val (c2, fact) = get("/cube/sales/fact/7")
    assert(c2 == 200 && fact.contains("__fact_key__"))
  }

  test("/members/<dim> with depth") {
    val (code, body) = get("/cube/sales/members/customer?depth=1")
    assert(code == 200)
    assert(body.contains("ASIA") && body.contains("EUROPE"))
  }

  test("/cell details") {
    val (code, body) = get("/cube/sales/cell?cut=customer:ASIA")
    assert(code == 200 && body.contains("ASIA"))
  }

  test("POST /report fan-out") {
    val (code, body) = post("/cube/sales/report?cut=customer:ASIA",
      """{"queries": {
        |  "byflag": {"query": "aggregate", "drilldown": "returnflag",
        |             "aggregates": "fact_count"},
        |  "regions": {"query": "members", "dimension": "customer", "depth": 1}
        |}}""".stripMargin)
    assert(code == 200)
    assert(body.contains("\"byflag\"") && body.contains("\"regions\""))
  }

  test("GET /report with a body behaves like POST and bypasses the response cache") {
    // reference blueprint.py:508 accepts methods=["GET", "POST"]; the
    // body-carried spec must not be served from the URL-keyed cache
    val ws = new Workspace(spark)
      .registerCube(TpchModel.cube)
      .registerTableDir("/root/testdata/sf0.001")
    val p = new SlicerServer(ws, cacheTtlSeconds = 60).start()
    def getReport(body: String) = client.send(
      HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$p/cube/sales/report"))
        .method("GET", HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    val r1 = getReport("""{"queries": {"byflag": {"query": "aggregate",
      |"drilldown": "returnflag", "aggregates": "fact_count"}}}"""
      .stripMargin)
    assert(r1.statusCode() == 200 && r1.body().contains("\"byflag\""))
    // a DIFFERENT body on the same URL must compute, not replay r1
    val r2 = getReport("""{"queries": {"members": {"query": "members",
      |"dimension": "customer", "depth": 1}}}""".stripMargin)
    assert(r2.statusCode() == 200 && r2.body().contains("\"members\""))
    assert(!r2.body().contains("\"byflag\""))
    assert(!r2.headers().firstValue("X-Graft-Cache").isPresent)
  }

  test("/report without a body answers 400, not 500") {
    // a plain browser GET of the advertised route carries no body — the
    // parse failure is the CLIENT's error
    val r = client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port/cube/sales/report"))
      .GET().build(), HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 400, r.body())
    assert(r.body().contains("JSON"))
    val (cp, bp) = post("/cube/sales/report", "not json either")
    assert(cp == 400, bp)
  }

  test("POST /report: body 'cell' cut-dicts override the URL cut (reference cut_from_dict)") {
    // URL says EUROPE; the body cell (reference dict vocabulary, numbers
    // allowed as path values) says ASIA — body must win
    val (code, body) = post("/cube/sales/report?cut=customer:EUROPE",
      """{"cell": [{"type": "point", "dimension": "customer",
        |           "path": ["ASIA"], "invert": false}],
        |"queries": {
        |  "nations": {"query": "members", "dimension": "customer", "depth": 2}
        |}}""".stripMargin)
    assert(code == 200)
    assert(body.contains(""""customer.region_name":"ASIA""""), body.take(400))
    assert(!body.contains("EUROPE"))
    // range + set dict forms parse too
    val (c2, b2) = post("/cube/sales/report",
      """{"cell": [{"type": "set", "dimension": "customer",
        |           "paths": [["ASIA"], ["EUROPE"]]}],
        |"queries": {"agg": {"query": "aggregate", "drilldown": "customer",
        |                    "aggregates": "fact_count"}}}""".stripMargin)
    assert(c2 == 200 && b2.contains("ASIA") && b2.contains("EUROPE") &&
      !b2.contains("AMERICA"))
    // unknown type is a 400, not a silent fallback
    val (c3, _) = post("/cube/sales/report",
      """{"cell": [{"type": "xxx", "dimension": "customer"}],
        |"queries": {}}""".stripMargin)
    assert(c3 == 400)
  }

  test("errors: unknown cube → 400, unknown path → 404") {
    assert(get("/cube/nope/aggregate")._1 == 400)
    assert(get("/nope")._1 == 404)
  }

  test("unknown format is refused (400), never silently served as json") {
    val (code, body) = get(
      "/cube/sales/aggregate?drilldown=returnflag&aggregates=fact_count&format=JSON")
    assert(code == 400 && body.contains("unknown response format"))
    assert(get("/cube/sales/facts?format=jsonl")._1 == 400)
  }

  // ---- authorization (reference tests/test_auth.py + test_server.py):
  // restriction cell + hierarchy_limits per identity

  lazy val authPort: Int = {
    import graft.auth._
    val ws = new Workspace(spark)
      .registerCube(TpchModel.cube)
      .registerTableDir("/root/testdata/sf0.001")
      .setAuthorizer(new SimpleAuthorizer(
        rights = Map(
          "alice" -> AccessRight(
            cellRestrictions = Map("sales" -> Seq("customer:ASIA")),
            hierarchyLimits = Map("sales" ->
              Seq(HierarchyLimit("customer", None, Some("nation"))))),
          "bob" -> AccessRight(deniedCubes = Set("sales")),
          "carol" -> AccessRight(
            hierarchyLimits = Map("*" ->
              Seq(HierarchyLimit("customer", None, None)))),
          // dave: customer clamped to nation in BOTH hierarchies — the
          // customer level must vanish from facts, /fact, and the model
          "dave" -> AccessRight(
            hierarchyLimits = Map("sales" -> Seq(
              HierarchyLimit("customer", Some("geo"), Some("nation")),
              HierarchyLimit("customer", Some("nation"), Some("nation")))))
        )))
    new SlicerServer(ws).start()
  }

  private def aget(path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$authPort$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("auth: restricted browse clamps hierarchy depth and applies the cell") {
    val (code, body) = aget(
      "/cube/sales/aggregate?drilldown=customer:customer&identity=alice")
    assert(code == 200)
    // full-depth drilldown clamped to nation grain — no customer-level keys
    assert(body.contains("customer.nation_name") && !body.contains("customer.custkey"))
    // restriction cell: only ASIA visible
    assert(!body.contains("AMERICA") && !body.contains("EUROPE"))
  }

  test("auth: /cubes filters denied cubes; denied browse → 403") {
    val (c1, cubes) = aget("/cubes?identity=bob")
    assert(c1 == 200 && !cubes.contains("\"sales\""))
    assert(aget("/cube/sales/aggregate?identity=bob")._1 == 403)
    // unknown identity, no guest role → 403
    assert(aget("/cube/sales/aggregate?identity=mallory")._1 == 403)
    // a denied cube's MODEL (schema metadata) is protected like its data
    assert(aget("/cube/sales/model?identity=bob")._1 == 403)
  }

  test("auth: hidden hierarchy refuses browse and vanishes from the model") {
    assert(aget("/cube/sales/aggregate?drilldown=customer:nation&identity=carol")._1 == 403)
    assert(aget("/cube/sales/members/customer?identity=carol")._1 == 403)
    val (c, model) = aget("/cube/sales/model?identity=alice")
    assert(c == 200)
    // alice's customer hierarchies are trimmed to [region, nation]
    val geo = """\{"name": "geo", "levels": \["region","nation"\]\}""".r
    assert(geo.findFirstIn(model).isDefined, model)
  }

  test("response cache: TTL'd hit carries the header, keyed per identity") {
    val ws = new Workspace(spark)
      .registerCube(TpchModel.cube)
      .registerTableDir("/root/testdata/sf0.001")
    val srv = new SlicerServer(ws, cacheTtlSeconds = 60)
    val p = srv.start()
    try {
      def get(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val u = "/cube/sales/aggregate?drilldown=returnflag&aggregates=fact_count"
      val first = get(u)
      assert(first.statusCode() == 200 &&
        first.headers().firstValue("X-Graft-Cache").isEmpty)
      val second = get(u)
      assert(second.statusCode() == 200 &&
        second.headers().firstValue("X-Graft-Cache").orElse("") == "hit")
      assert(second.body() == first.body())
      // a different identity must not share the cached entry
      val other = get(s"$u&identity=alice")
      assert(other.headers().firstValue("X-Graft-Cache").isEmpty)
    } finally srv.stop()
  }

  test("auth: limited attributes vanish from facts, fact-by-key, and the model") {
    val (c1, facts) = aget("/cube/sales/facts?pagesize=2&identity=dave")
    assert(c1 == 200)
    assert(facts.contains("customer.nation_name") && !facts.contains("customer.custkey"))
    val (c2, model) = aget("/cube/sales/model?identity=dave")
    assert(c2 == 200)
    // the customer LEVEL metadata (custkey/name/mktsegment) is not served
    assert(model.contains("\"nation\"") && !model.contains("custkey"))
  }

  test("auth: Authorization Bearer header carries the identity") {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$authPort/cube/sales/aggregate?drilldown=customer"))
        .header("Authorization", "Bearer alice").GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200 && !r.body().contains("AMERICA"))
  }

  test("HTTP Basic auth: 401 challenge, admin_admin identity drives the restriction cell") {
    import graft.auth._
    import graft.server.{AdminAdminAuthenticator, Authenticators, HTTPBasicProxyAuthenticator}
    val ws = new Workspace(spark)
      .registerCube(TpchModel.cube)
      .registerTableDir("/root/testdata/sf0.001")
      .setAuthorizer(new SimpleAuthorizer(
        rights = Map("alice" -> AccessRight(
          cellRestrictions = Map("sales" -> Seq("customer:ASIA"))))))
    val p = new SlicerServer(ws,
      authenticator = Some(new AdminAdminAuthenticator(realm = "graft"))).start()
    def basic(user: String, pass: String, path: String): HttpResponse[String] = {
      val tok = java.util.Base64.getEncoder.encodeToString(
        s"$user:$pass".getBytes("UTF-8"))
      client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$p$path"))
        .header("Authorization", s"Basic $tok").GET().build(),
        HttpResponse.BodyHandlers.ofString())
    }
    // anonymous request → 401 carrying the realm'd Basic challenge
    val anon = client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$p/cube/sales/aggregate?drilldown=returnflag"))
      .GET().build(), HttpResponse.BodyHandlers.ofString())
    assert(anon.statusCode() == 401)
    assert(anon.headers().firstValue("WWW-Authenticate").orElse("") ==
      """Basic realm="graft"""")
    // wrong password (user != pass for admin_admin) → still 401
    assert(basic("alice", "nope", "/cubes").statusCode() == 401)
    // authenticated alice drives the EXISTING per-identity restriction
    // cell: only ASIA is visible in her aggregate
    val r = basic("alice", "alice",
      "/cube/sales/aggregate?drilldown=customer")
    assert(r.statusCode() == 200)
    assert(r.body().contains("ASIA") && !r.body().contains("AMERICA"))
    // /logout answers 401 + fresh challenge so the browser drops its
    // cached Basic credentials
    val lo = basic("alice", "alice", "/logout")
    assert(lo.statusCode() == 401 &&
      lo.headers().firstValue("WWW-Authenticate").isPresent)
    // proxy flavor: no password check, username IS the identity
    val p2 = new SlicerServer(ws,
      authenticator = Some(new HTTPBasicProxyAuthenticator())).start()
    val viaProxy = client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$p2/cube/sales/aggregate?drilldown=customer"))
      .header("Authorization", "Basic " + java.util.Base64.getEncoder
        .encodeToString("alice:whatever".getBytes("UTF-8"))).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(viaProxy.statusCode() == 200 && !viaProxy.body().contains("AMERICA"))
    assert(client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$p2/cubes")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).statusCode() == 401)
    // config factory: [server] authentication + [authentication] realm
    val cfg = graft.workspace.WorkspaceConfig.parseIni(
      "[server]\nauthentication: admin_admin\n\n[authentication]\nrealm: R1\n")
    assert(Authenticators.configured(cfg).get.challenge.contains("""Basic realm="R1""""))
    assert(Authenticators.configured(
      graft.workspace.WorkspaceConfig.parseIni("[server]\nport: 1\n")).isEmpty)
    intercept[IllegalArgumentException](Authenticators.configured(
      graft.workspace.WorkspaceConfig.parseIni("[server]\nauthentication: oauth\n")))
  }

  test("request log: one record per browser verb with elapsed>0 and identity, CSV+JSON round-trip") {
    import graft.server.{CsvFileRequestLogHandler, DefaultRequestLogHandler,
      JsonLinesRequestLogHandler, RequestLogger}
    val dir = java.nio.file.Files.createTempDirectory("graft_reqlog")
    val csvPath = dir.resolve("req.csv").toString
    val jsonPath = dir.resolve("req.jsonl").toString
    val defaultLines = scala.collection.mutable.ArrayBuffer.empty[String]
    val logger = new RequestLogger(Seq(
      new DefaultRequestLogHandler(l => defaultLines.synchronized(defaultLines += l)),
      new CsvFileRequestLogHandler(csvPath),
      new JsonLinesRequestLogHandler(jsonPath)))
    val ws = new Workspace(spark)
      .registerCube(TpchModel.cube)
      .registerTableDir("/root/testdata/sf0.001")
    val p = new SlicerServer(ws, requestLogger = Some(logger)).start()
    def lget(path: String): Int = {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, s"$path -> ${r.body()}")
      r.statusCode()
    }
    assert(lget("/cube/sales/aggregate?drilldown=returnflag&cut=customer:ASIA" +
      "&identity=alice") == 200)
    assert(lget("/cube/sales/facts?pagesize=2&identity=alice") == 200)
    assert(lget("/cube/sales/members/returnflag?identity=alice") == 200)
    // non-browser verbs (model) are NOT logged — verb-scoped like the
    // reference's @log_request decorators
    assert(lget("/cube/sales/model") == 200)
    // CSV: one row per verb, REQUEST_LOG_ITEMS order — method is col 2,
    // cube col 3, cell col 4, identity col 5, elapsed col 6
    val csv = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(csvPath)).toArray.map(_.toString)
    assert(csv.length == 3, csv.mkString("\n"))
    val byMethod = csv.map(_.split(",", -1)).map(c => c(1) -> c).toMap
    assert(byMethod.keySet == Set("aggregate", "facts", "members"))
    byMethod.values.foreach { c =>
      assert(c(2) == "sales")
      assert(c(4) == "alice")
      assert(c(5).toDouble > 0, "elapsed must be measured, not zero")
    }
    assert(byMethod("aggregate")(3) == "customer:ASIA") // the cut string
    // JSON lines: each line parses, carries the same verbs + identity
    val jl = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(jsonPath)).toArray.map(_.toString)
    assert(jl.length == 3)
    import org.json4s._
    val parsed = jl.map(org.json4s.jackson.JsonMethods.parse(_))
    assert(parsed.map(v => (v \ "method") match {
      case JString(s) => s; case _ => "?" }).toSet ==
      Set("aggregate", "facts", "members"))
    parsed.foreach { v =>
      assert((v \ "identity") == JString("alice"))
      assert((v \ "timestamp").isInstanceOf[JString])
    }
    // default handler: reference one-liner shape
    val dl = defaultLines.synchronized(defaultLines.toSeq)
    assert(dl.size == 3)
    assert(dl.exists(l => l.startsWith("method:aggregate cube:sales cell:'customer:ASIA' identity:'alice' time:")))
  }

  test("request log: async logger drains its queue; broken handler never fails the request") {
    import graft.server.{AsyncRequestLogger, RequestLogHandler, RequestLogger}
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val boom = new RequestLogHandler {
      override def writeRecord(r: Map[String, String]): Unit =
        throw new RuntimeException("sink down")
    }
    val ok = new RequestLogHandler {
      override def writeRecord(r: Map[String, String]): Unit =
        got.add(r("method"))
    }
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val logger: RequestLogger =
      new AsyncRequestLogger(Seq(boom, ok), warn = w => warns.add(w))
    val ws = new Workspace(spark)
      .registerCube(TpchModel.cube)
      .registerTableDir("/root/testdata/sf0.001")
    val p = new SlicerServer(ws, requestLogger = Some(logger)).start()
    val r = client.send(
      HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$p/cube/sales/aggregate?drilldown=returnflag")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200) // the throwing handler is contained
    logger.flush()
    assert(got.size() == 1 && got.peek() == "aggregate")
    assert(!warns.isEmpty) // ... and reported
  }

  test("CORS headers on every response + OPTIONS preflight (blueprint.py:608-623)") {
    import graft.server.AdminAdminAuthenticator
    val ws = new Workspace(spark)
      .registerCube(TpchModel.cube)
      .registerTableDir("/root/testdata/sf0.001")
    // fixed origin: echoed verbatim on browser verbs
    val p = new SlicerServer(ws,
      allowCorsOrigin = Some("https://viz.example")).start()
    def send(path: String, method: String, origin: Option[String] = None) = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path"))
        .method(method, HttpRequest.BodyPublishers.noBody())
      origin.foreach(o => b.header("Origin", o))
      client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    }
    val agg = send("/cube/sales/aggregate?drilldown=returnflag", "GET")
    assert(agg.statusCode() == 200)
    assert(agg.headers().firstValue("Access-Control-Allow-Origin")
      .orElse("") == "https://viz.example")
    assert(agg.headers().firstValue("Access-Control-Allow-Credentials")
      .orElse("") == "true")
    assert(agg.headers().firstValue("Access-Control-Allow-Methods")
      .orElse("") == "GET, POST, OPTIONS")
    assert(agg.headers().firstValue("Access-Control-Max-Age")
      .orElse("") == "1728000")
    // facts too — the after_request hook decorates every route
    assert(send("/cube/sales/facts?pagesize=1", "GET").headers()
      .firstValue("Access-Control-Allow-Origin").isPresent)
    // preflight: 200 without auth, allows X-Requested-With
    val pre = send("/cube/sales/aggregate", "OPTIONS",
      origin = Some("https://viz.example"))
    assert(pre.statusCode() == 200)
    assert(pre.headers().firstValue("Access-Control-Allow-Headers")
      .orElse("") == "X-Requested-With")
    // wildcard origin echoes the REQUEST's Origin back (credentialed
    // responses cannot carry a literal *)
    val pw = new SlicerServer(ws, allowCorsOrigin = Some("*")).start()
    val echo = client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$pw/version"))
      .header("Origin", "https://other.example").GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(echo.headers().firstValue("Access-Control-Allow-Origin")
      .orElse("") == "https://other.example")
    // preflight bypasses authentication: a credential-less OPTIONS must
    // not 401 even on a Basic-auth server
    val pa = new SlicerServer(ws, allowCorsOrigin = Some("*"),
      authenticator = Some(new AdminAdminAuthenticator(realm = "g"))).start()
    val preAuth = client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$pa/cube/sales/aggregate"))
      .method("OPTIONS", HttpRequest.BodyPublishers.noBody())
      .header("Origin", "https://x.example").build(),
      HttpResponse.BodyHandlers.ofString())
    assert(preAuth.statusCode() == 200)
    // unconfigured server: no CORS headers at all
    assert(!get("/version")._2.isEmpty)
    val plain = client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port/version")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(!plain.headers().firstValue("Access-Control-Allow-Origin").isPresent)
  }

  test("aggregate format=json_lines streams cells chunked, one object per line") {
    val r = client.send(HttpRequest.newBuilder(URI.create(
      s"http://127.0.0.1:$port/cube/sales/aggregate?drilldown=returnflag&format=json_lines"))
      .GET().build(), HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("")
      .startsWith("application/x-json-lines"))
    // chunked transfer — no Content-Length on the streamed path
    assert(!r.headers().firstValue("Content-Length").isPresent)
    val lines = r.body().split("\n").filter(_.nonEmpty)
    assert(lines.length == 3) // 3 return flags
    lines.foreach { l =>
      val j = org.json4s.jackson.JsonMethods.parse(l)
      assert((j \ "returnflag") != org.json4s.JNothing, l)
    }
    // agrees with the buffered json format's cells
    val (c2, body2) = get("/cube/sales/aggregate?drilldown=returnflag")
    assert(c2 == 200)
    val cells = (org.json4s.jackson.JsonMethods.parse(body2) \ "cells")
    assert(cells.children.size == 3)
  }

  test("/visualizer redirects when configured, 404 when not (blueprint.py:599-606)") {
    val ws = new Workspace(spark)
      .registerCube(TpchModel.cube)
      .registerTableDir("/root/testdata/sf0.001")
    val p = new SlicerServer(ws,
      visualizer = Some("https://viz.example/studio")).start()
    for (path <- Seq("/visualizer/", "/visualizer/index.html")) {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$p$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 302, path)
      assert(r.headers().firstValue("Location")
        .orElse("") == "https://viz.example/studio", path)
    }
    // unset → the reference's PageNotFoundError
    val (code, body) = get("/visualizer/")
    assert(code == 404 && body.contains("Visualizer not configured"))
  }
}
