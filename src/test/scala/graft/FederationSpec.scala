package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.cells.{Cell, PointCut}
import graft.federation.SlicerStore
import graft.server.SlicerServer
import graft.workspace.Workspace

/** HTTP federation (S9): a second workspace browses cubes SERVED by a
  * live in-process slicer server and must see exactly what a local browse
  * sees (reference `SlicerStore`/`SlicerBrowser`,
  * `cubes/server/store.py`, `cubes/server/browser.py`). */
class FederationSpec extends AnyFunSuite with SharedSpark {

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

  // the REMOTE side: a live server over the sf0.001 store
  lazy val (localWs, port) = {
    val ws = new Workspace(spark)
      .importModel(modelJson)
      .registerTableDir("/root/testdata/sf0.001")
    (ws, new SlicerServer(ws).start())
  }

  // the FEDERATING side: a fresh workspace that only knows the remote URL
  lazy val fedWs = new Workspace(spark).registerSlicerStore(
    new SlicerStore(s"http://127.0.0.1:$port"))

  test("remote cubes are listed, their models relink, local browse refuses") {
    assert(fedWs.cubeNames.contains("mini"))
    assert(fedWs.isFederated("mini"))
    val c = fedWs.cube("mini")
    assert(c.dimensions.map(_.name).toSet == Set("returnflag", "linestatus"))
    assert(c.aggregates.map(_.name).contains("quantity_sum"))
    // the star-schema browser cannot serve a remote cube — explicit refusal
    val e = intercept[IllegalArgumentException](fedWs.browser("mini"))
    assert(e.getMessage.contains("federatedBrowser"))
  }

  private def groupMap(df: DataFrame, key: String, agg: String): Map[String, Double] =
    df.collect().map(r =>
      r.getAs[Any](key).toString ->
        r.getAs[Any](agg).toString.toDouble).toMap

  test("federated aggregate — drilldown, summary, and cuts match the local browse") {
    val fb = fedWs.federatedBrowser("mini")
    val remote = fb.aggregate(drilldown = Seq("returnflag"),
      aggregates = Seq("quantity_sum"))
    val local = localWs.browser("mini").aggregate(drilldown = Seq("returnflag"),
      aggregates = Seq("quantity_sum"))
    assert(groupMap(remote.cells, "returnflag", "quantity_sum") ==
      groupMap(local.cells, "returnflag", "quantity_sum"))
    assert(remote.aggregates == Seq("quantity_sum"))
    assert(remote.levels.keySet == Set("returnflag"))

    // summary relays (numeric compare — JSON round-trip widens decimals)
    val rSum = remote.summary.get.collect()(0).getAs[Any]("quantity_sum").toString.toDouble
    val lSum = local.summary.get.collect()(0).getAs[Any]("quantity_sum").toString.toDouble
    assert(math.abs(rSum - lSum) < 1e-6)

    // a cut serializes through the cut grammar and filters identically
    val cut = Cell(PointCut("returnflag", Seq("A")))
    val remoteCut = fb.aggregate(cell = cut, aggregates = Seq("quantity_sum"))
    val localCut = localWs.browser("mini").aggregate(cell = cut,
      aggregates = Seq("quantity_sum"))
    val rc = remoteCut.summary.get.collect()(0).getAs[Any]("quantity_sum").toString.toDouble
    val lc = localCut.summary.get.collect()(0).getAs[Any]("quantity_sum").toString.toDouble
    assert(math.abs(rc - lc) < 1e-6)
  }

  test("federated facts stream json_lines whole; members relay") {
    val fb = fedWs.federatedBrowser("mini")
    val cell = Cell(PointCut("returnflag", Seq("R")))
    val localCount = localWs.browser("mini").facts(cell).count()
    // well past the remote's 10k-row plain-JSON truncation window — the
    // json_lines stream must deliver the whole fact set, not one page
    assert(localCount > 500)
    val fed = fb.facts(cell)
    assert(fed.count() == localCount)
    // the row CONTENT round-trips too, not just the count: sum a measure
    // on both sides
    val col = org.apache.spark.sql.functions.col _
    val fs = fed.agg(org.apache.spark.sql.functions
      .sum(col("quantity"))).collect()(0).getAs[Any](0).toString.toDouble
    val ls = localWs.browser("mini").facts(cell)
      .agg(org.apache.spark.sql.functions.sum(col("quantity")))
      .collect()(0).getAs[Any](0).toString.toDouble
    assert(math.abs(fs - ls) < 1e-6 * math.max(1.0, math.abs(ls)))
    // the maxRows refusal still guards the relay heap mid-stream
    val e = intercept[IllegalArgumentException] {
      fb.facts(cell, maxRows = 100).count()
    }
    assert(e.getMessage.contains("maxRows"))
    // fact-by-key round-trips (the mini cube declares no key, so the
    // remote falls back to its first fact column — whatever the remote
    // decides, the relay must agree with a local browse)
    assert(fb.fact(1L).count() == localWs.browser("mini").fact(1L).count())
    // member listing relays with identical member sets
    val remoteMembers = fb.members(dim = "returnflag").collect()
      .map(_.getAs[Any]("returnflag").toString).toSet
    val localMembers = localWs.browser("mini").members(Cell.empty, "returnflag")
      .collect().map(_.getAs[Any]("returnflag").toString).toSet
    assert(remoteMembers == localMembers)
  }

  test("slicer chaining: a second server re-serves the federated cube by relay") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val chainPort = new SlicerServer(fedWs).start()
    val client = HttpClient.newHttpClient()
    def get(p: Int, path: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$p$path")).GET.build(),
        HttpResponse.BodyHandlers.ofString())
    // the chained server's /cubes lists the federated cube
    assert(get(chainPort, "/cubes").body().contains("\"mini\""))
    // an aggregate through the CHAIN equals the origin's own response
    val viaChain = get(chainPort,
      "/cube/mini/aggregate?drilldown=returnflag&aggregates=quantity_sum")
    val direct = get(port,
      "/cube/mini/aggregate?drilldown=returnflag&aggregates=quantity_sum")
    assert(viaChain.statusCode() == 200)
    assert(viaChain.body() == direct.body())
    // the remote's own error status propagates verbatim through the chain
    // (unknown dimension → the origin's 400), never masked as a 500
    val bad = get(chainPort, "/cube/mini/members/nope")
    assert(bad.statusCode() == get(port, "/cube/mini/members/nope").statusCode())
    assert(bad.statusCode() == 400)
    // a report against the federated cube relays its BODY for both
    // verbs (GET would otherwise hand the remote an empty spec)
    val spec = """{"queries": {"agg": {"query": "aggregate",
      |"drilldown": "returnflag", "aggregates": "quantity_sum"}}}"""
      .stripMargin
    for (verb <- Seq("POST", "GET")) {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$chainPort/cube/mini/report"))
        .method(verb, HttpRequest.BodyPublishers.ofString(spec)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, s"$verb: ${r.body()}")
      assert(r.body().contains("\"agg\""), verb)
    }
  }

  test("pass_parameter authentication relays the identity to the remote") {
    // reference SlicerStore auth options (server/store.py:34-58): the
    // store appends ?api_key=<identity> to every request
    val ws = new Workspace(spark)
      .importModel(modelJson)
      .registerTableDir("/root/testdata/sf0.001")
      .setAuthorizer(new graft.auth.SimpleAuthorizer(
        rights = Map("key1" -> graft.auth.AccessRight(allowedCubes = Set("mini")))))
    val p = new SlicerServer(ws).start()
    val authed = new SlicerStore(s"http://127.0.0.1:$p",
      authentication = Some("pass_parameter"), authIdentity = Some("key1"))
    assert(authed.listCubes() == Seq("mini"))
    val fb = new graft.federation.FederatedBrowser(authed, "mini", spark)
    assert(fb.aggregate(aggregates = Seq("quantity_sum")).summary.isDefined)
    // a client-supplied api_key in the relayed params must NOT shadow the
    // store's configured credential: the store strips it before appending
    // its own (otherwise a caller's bogus key rides first in the query
    // string and the remote authorizes against it)
    val viaShadow = authed.cubeRequest("aggregate", "mini",
      Seq("api_key" -> "WRONG", "aggregates" -> "quantity_sum"))
    assert(viaShadow.contains("summary"))
    // without credentials the remote hides its cubes and refuses browsing
    val anon = new SlicerStore(s"http://127.0.0.1:$p")
    assert(anon.listCubes().isEmpty)
    intercept[IllegalStateException](anon.cubeRequest("aggregate", "mini"))
    // unsupported method is refused at construction, like the reference
    intercept[IllegalArgumentException](
      new SlicerStore("http://x", authentication = Some("oauth")))
  }

  test("federation from config: [store] type slicer registers remote cubes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fed_cfg")
    java.nio.file.Files.writeString(dir.resolve("slicer.ini"),
      s"""[store_remote]
         |type: slicer
         |url: http://127.0.0.1:$port
         |""".stripMargin)
    val ws = graft.workspace.WorkspaceConfig.load(spark,
      dir.resolve("slicer.ini").toString)
    assert(ws.cubeNames.contains("remote.mini"))
    assert(ws.isFederated("remote.mini"))
    val r = ws.federatedBrowser("remote.mini")
      .aggregate(aggregates = Seq("quantity_sum"))
    val l = localWs.browser("mini").aggregate(aggregates = Seq("quantity_sum"))
    val rv = r.summary.get.collect()(0).getAs[Any]("quantity_sum").toString.toDouble
    val lv = l.summary.get.collect()(0).getAs[Any]("quantity_sum").toString.toDouble
    assert(math.abs(rv - lv) < 1e-6)
  }
}
