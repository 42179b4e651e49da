package graft.federation

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URLEncoder
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.browser.{AggregationResult, Browser}
import graft.cells.Cell
import graft.model._

/** HTTP federation: browse a cube SERVED BY ANOTHER SLICER as if it were
  * local (reference `SlicerStore`, `cubes/server/store.py:19-130`, and
  * `SlicerBrowser`, `cubes/server/browser.py:8-160` — S9 in SURVEY §2).
  *
  * Design for scale: aggregation runs on the REMOTE engine (which owns
  * the data and its cluster); this side only relays the already-small
  * result sets — summaries, drilldown cells, members — and re-materializes
  * them as local DataFrames so downstream formatting/joins compose. Fact
  * streams page through the remote's `json_record_limit` window instead
  * of buffering an unbounded array (the Spark analogue of the reference's
  * `json_lines` iterator). Nothing here ever pulls raw fact data at scale:
  * that is the remote cluster's job, exactly as in the reference.
  */
final class SlicerStore(
    val url: String,
    authentication: Option[String] = None,
    authIdentity: Option[String] = None,
    authParameter: String = "api_key",
    /** Per-request timeout. A hung remote must fail the one request, not
      * pin a relay thread forever (the chaining server serves federated
      * cubes from a FIXED thread pool). */
    requestTimeout: java.time.Duration = java.time.Duration.ofSeconds(60),
    client: HttpClient = HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10)).build()) {

  require(authentication.forall(a => a == "pass_parameter" || a == "none"),
    s"Unsupported authentication method '${authentication.get}'")

  private def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)

  private def withAuth(params: Seq[(String, String)]): Seq[(String, String)] =
    if (authentication.contains("pass_parameter"))
      // drop any client-supplied value of the auth parameter first: a
      // relayed request forwards the caller's query string verbatim, and
      // a caller's own api_key must not shadow (or ride alongside) the
      // store's configured credential on the remote request
      params.filterNot(_._1 == authParameter) :+
        (authParameter -> authIdentity.getOrElse(""))
    else params

  private def uriOf(action: String, params: Seq[(String, String)]): URI = {
    val qs = withAuth(params)
      .map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")
    URI.create(s"$url/$action" + (if (qs.nonEmpty) s"?$qs" else ""))
  }

  /** GET returning (status, body) verbatim — for proxy relays that must
    * propagate the remote's own status codes. */
  def rawRequest(action: String,
      params: Seq[(String, String)] = Nil): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(uriOf(action, params))
        .timeout(requestTimeout).GET.build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  def rawCubeRequest(action: String, cube: String,
      params: Seq[(String, String)] = Nil): (Int, String) =
    rawRequest(s"cube/${enc(cube)}/$action", params)

  private def checked(action: String, status: Int, body: String): String =
    status match {
      case 200 => body
      case 404 => throw new NoSuchElementException(
        s"remote slicer has no object at '$action'")
      case code => throw new IllegalStateException(
        s"slicer request error ($code): $body")
    }

  /** GET `url/action?params` (reference `SlicerStore.request`,
    * `server/store.py:91-123`): 404 → missing object, non-200 → error. */
  def request(action: String, params: Seq[(String, String)] = Nil): String = {
    val (status, body) = rawRequest(action, params)
    checked(action, status, body)
  }

  def cubeRequest(action: String, cube: String,
      params: Seq[(String, String)] = Nil): String =
    request(s"cube/${enc(cube)}/$action", params)

  /** Streamed GET: the response body as an iterator of lines, one JSON
    * object per line (reference `SlicerStore.request(is_lines=True)` →
    * `_JSONLinesIterator`, `server/store.py:91-126,132-139`). The relay
    * never holds the whole body — lines are consumed as they arrive off
    * the socket. Non-200 responses are read fully (they are small error
    * payloads) and thrown like [[request]]. */
  def linesRequest(action: String,
      params: Seq[(String, String)] = Nil): Iterator[String] = {
    val resp = client.send(
      HttpRequest.newBuilder(uriOf(action, params))
        .timeout(requestTimeout).GET.build(),
      HttpResponse.BodyHandlers.ofLines())
    import scala.jdk.CollectionConverters._
    val lines = resp.body().iterator().asScala
    if (resp.statusCode() != 200) {
      val body = lines.mkString("\n")
      checked(action, resp.statusCode(), body)
      Iterator.empty
    } else lines
  }

  def linesCubeRequest(action: String, cube: String,
      params: Seq[(String, String)] = Nil): Iterator[String] =
    linesRequest(s"cube/${enc(cube)}/$action", params)

  /** POST returning (status, body) verbatim (the `/report` verb relay). */
  def rawPostCubeRequest(action: String, cube: String, body: String,
      params: Seq[(String, String)] = Nil): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(uriOf(s"cube/${enc(cube)}/$action", params))
        .timeout(requestTimeout)
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** Remote cube names (reference `SlicerModelProvider.list_cubes`). */
  def listCubes(): Seq[String] =
    JsonMethods.parse(request("cubes")) match {
      case JArray(cs) => cs.collect {
        case o: JObject => (o \ "name") match {
          case JString(n) => n
          case _ => throw new IllegalStateException(s"cube entry without name: $o")
        }
      }
      case other => throw new IllegalStateException(s"bad /cubes response: $other")
    }

  /** Remote cube metadata re-linked into a local [[Cube]] (reference
    * `SlicerModelProvider.cube`, `server/store.py:148-180`: the served
    * model has dimensions fully expanded; aggregates carry no local
    * function because computation stays remote). */
  def cube(name: String, locale: Option[String] = None): Cube = {
    val params = locale.map(l => Seq("lang" -> l)).getOrElse(Nil)
    val m = JsonMethods.parse(cubeRequest("model", name, params))
    def s(v: JValue, k: String): Option[String] = (v \ k) match {
      case JString(x) => Some(x); case _ => None
    }
    def arr(v: JValue, k: String): Seq[JValue] = (v \ k) match {
      case JArray(xs) => xs; case _ => Nil
    }
    val dims = arr(m, "dimensions").collect { case d: JObject =>
      val dName = s(d, "name").getOrElse(
        throw new IllegalStateException("served dimension without name"))
      val levels = arr(d, "levels").collect { case l: JObject =>
        Level(
          s(l, "name").getOrElse("default"),
          arr(l, "attributes").collect { case JString(a) =>
            Attribute(a, Some(dName), flatRef = a == dName && dName == s(l, "name").getOrElse(""))
          },
          label = s(l, "label"))
      }
      val hiers = arr(d, "hierarchies").collect { case h: JObject =>
        Hierarchy(s(h, "name").getOrElse("default"),
          arr(h, "levels").collect { case JString(x) => x })
      }
      Dimension(dName, levels = levels, hierarchies = hiers,
        label = s(d, "label"))
    }
    Cube(
      name = name,
      factTable = name, // physical mapping is the remote's concern
      dimensions = dims,
      measures = arr(m, "measures").collect { case o: JObject =>
        Measure(s(o, "name").getOrElse(""), label = s(o, "label"))
      }.filter(_.name.nonEmpty),
      aggregates = arr(m, "aggregates").collect { case o: JObject =>
        MeasureAggregate(s(o, "name").getOrElse(""), label = s(o, "label"))
      }.filter(_.name.nonEmpty),
      label = s(m, "label"))
  }
}

/** Browser over a [[SlicerStore]]: the same verb surface as the local
  * [[graft.browser.Browser]], answered by HTTP relay (reference
  * `SlicerBrowser`, `server/browser.py`). Aggregation results come back
  * as [[AggregationResult]] with DataFrame cells/summary so every
  * downstream consumer (formats, cross-table, report fan-out) composes
  * unchanged. */
final class FederatedBrowser(
    val store: SlicerStore,
    val cubeName: String,
    val spark: SparkSession) {

  lazy val cube: Cube = store.cube(cubeName)

  private def df(objs: Seq[JValue]): DataFrame =
    if (objs.isEmpty) spark.emptyDataFrame
    else {
      import spark.implicits._
      spark.read.json(
        spark.createDataset(objs.map(o => JsonMethods.compact(o))))
    }

  private def parseArray(json: String): Seq[JValue] =
    JsonMethods.parse(json) match {
      case JArray(xs) => xs
      case other => throw new IllegalStateException(s"expected JSON array, got $other")
    }

  private def commonParams(cell: Cell, order: Seq[(String, Option[String])],
      page: Option[Int], pageSize: Option[Int]): Seq[(String, String)] =
    (if (cell.isEmpty) Nil else Seq("cut" -> cell.toCutString)) ++
      (if (order.isEmpty) Nil
       else Seq("order" -> order.map {
         case (a, Some(d)) => s"$a:$d"
         case (a, None)    => a
       }.mkString(","))) ++
      page.map(p => "page" -> p.toString) ++
      pageSize.map(n => "pagesize" -> n.toString)

  /** Relayed aggregate (reference `provide_aggregate`,
    * `server/browser.py:33-76`). */
  def aggregate(
      cell: Cell = Cell.empty,
      drilldown: Seq[String] = Nil,
      aggregates: Seq[String] = Nil,
      split: Option[Cell] = None,
      order: Seq[(String, Option[String])] = Nil,
      page: Option[Int] = None,
      pageSize: Option[Int] = None): AggregationResult = {
    val params = commonParams(cell, order, page, pageSize) ++
      (if (drilldown.isEmpty) Nil else Seq("drilldown" -> drilldown.mkString("|"))) ++
      (if (aggregates.isEmpty) Nil else Seq("aggregates" -> aggregates.mkString("|"))) ++
      split.map(s => "split" -> s.toCutString)
    val r = JsonMethods.parse(store.cubeRequest("aggregate", cubeName, params))
    val cells = (r \ "cells") match {
      case JArray(xs) => xs; case _ => Nil
    }
    val summary = (r \ "summary") match {
      case o: JObject if o.obj.nonEmpty => Some(df(Seq(o)))
      case _                            => None
    }
    val levels = (r \ "levels") match {
      case o: JObject => o.obj.map { case (k, v) =>
        k -> (v match { case JArray(xs) => xs.collect { case JString(x) => x }
                        case _          => Nil })
      }.toMap
      case _ => Map.empty[String, Seq[String]]
    }
    def strings(k: String): Seq[String] = (r \ k) match {
      case JArray(xs) => xs.collect { case JString(x) => x }
      case _          => Nil
    }
    val cellsDf = df(cells)
    AggregationResult(
      cells = cellsDf,
      summary = summary,
      rows = () => Browser.cellRows(cellsDf),
      levels = levels,
      aggregates = strings("aggregates"),
      attributes = strings("attributes"),
      cell = cell,
      hasSplit = (r \ "has_split") match {
        case JBool(b) => b; case _ => false
      })
  }

  /** Relayed fact listing. An unpaged request streams `json_lines` (the
    * reference's own relay shape: `SlicerBrowser.facts` sets
    * `format=json_lines` and iterates `_JSONLinesIterator`,
    * `server/browser.py:78-112` + `server/store.py:117-139`): ONE chunked
    * response, one JSON object per line, consumed off the socket — no
    * page-sized JSON array text ever buffers on the relay, and the
    * caller's order rides the single stream (no page-boundary tie
    * ambiguity to repair). An explicit page stays a single plain-JSON
    * window request. */
  def facts(cell: Cell = Cell.empty, fields: Seq[String] = Nil,
      order: Seq[(String, Option[String])] = Nil,
      page: Option[Int] = None, pageSize: Option[Int] = None,
      /** Hard cap on the driver-side accumulation of an unpaged fact
        * stream. Relayed facts become a local DataFrame on THIS driver; a
        * remote with billions of facts must be exported by the remote's
        * own sinks, not siphoned through a relay — so exceeding the cap
        * is an explicit refusal mid-stream, not an OOM. */
      maxRows: Int = 1000000): DataFrame = {
    val fieldParams =
      if (fields.isEmpty) Nil else Seq("fields" -> fields.mkString(","))
    if (page.isDefined || pageSize.isDefined) {
      df(parseArray(store.cubeRequest("facts", cubeName,
        commonParams(cell, order, page, pageSize) ++ fieldParams)))
    } else {
      val lines = store.linesCubeRequest("facts", cubeName,
        commonParams(cell, order, None, None) ++ fieldParams :+
          ("format" -> "json_lines"))
      val out = Vector.newBuilder[String]
      var fetched = 0
      while (lines.hasNext) {
        fetched += 1
        require(fetched <= maxRows,
          s"federated fact stream exceeds maxRows=$maxRows — page " +
            "explicitly, cut the cell down, or export from the remote")
        out += lines.next()
      }
      dfFromLines(out.result())
    }
  }

  private def dfFromLines(lines: Seq[String]): DataFrame =
    if (lines.isEmpty) spark.emptyDataFrame
    else {
      import spark.implicits._
      spark.read.json(spark.createDataset(lines))
    }

  /** Relayed single-fact fetch. */
  def fact(key: Any): DataFrame =
    df(parseArray(store.cubeRequest(s"fact/$key", cubeName)))

  /** Relayed member listing (reference `provide_members`,
    * `server/browser.py:114-160`). */
  def members(cell: Cell = Cell.empty, dim: String,
      depth: Option[Int] = None, hierarchy: Option[String] = None,
      level: Option[String] = None, page: Option[Int] = None,
      pageSize: Option[Int] = None): DataFrame = {
    val params = commonParams(cell, Nil, page, pageSize) ++
      depth.map(d => "depth" -> d.toString) ++
      hierarchy.map(h => "hierarchy" -> h) ++
      level.map(l => "level" -> l)
    df(parseArray(store.cubeRequest(s"members/$dim", cubeName, params)))
  }

  /** Relayed cell details, raw (reference `/cell` passthrough). */
  def cellDetails(cell: Cell = Cell.empty): JValue =
    JsonMethods.parse(store.cubeRequest("cell", cubeName,
      if (cell.isEmpty) Nil else Seq("cut" -> cell.toCutString)))
}
