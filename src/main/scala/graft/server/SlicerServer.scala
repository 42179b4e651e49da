package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.DataFrame
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.workspace.Workspace
import graft.browser.{AggregationResult, Browser, ReportItem, TimeCuts}
import graft.cells.{Cell, CutParser}

/** The "slicer" HTTP server (reference `cubes/server/blueprint.py`):
  * the browser verbs over HTTP with the same request vocabulary —
  * `cut` cell strings (with relative time members), `drilldown` lists
  * split on `|`, `order`, `page`/`pagesize`, `split`,
  * `format=json|csv|xlsx` (csv/xlsx served as attachment downloads).
  *
  * Built on the JDK's HttpServer (zero extra dependencies). One Spark
  * session serves all requests; queries stay lazy until serialization.
  * Results are collected driver-side for the response — the server is a
  * front-end for interactive slices, not a bulk-export path (use
  * `graft.formats.Formats` sinks for those).
  */
final class SlicerServer(workspace: Workspace, port: Int = 0,
    /** Response cache TTL in seconds; 0 disables (reference
      * `server/caching.py` — TTL'd response cache keyed by the request).
      * Cache hits carry an `X-Graft-Cache: hit` header. */
    cacheTtlSeconds: Int = 0,
    cacheMaxEntries: Int = 1024,
    /** Bind address; loopback by default, `[server] host` in slicer.ini. */
    host: String = "127.0.0.1",
    /** Request-handler threads. Spark's scheduler is thread-safe and FAIR
      * scheduling interleaves jobs, so concurrent slices genuinely overlap. */
    threads: Int = 8,
    /** Server "about" block served by `/` and `/info` (reference
      * `[workspace] info` keys, `workspace.py:27-38` — name, label,
      * description, license, maintainer, ...). */
    serverInfo: Map[String, String] = Map.empty,
    /** Request logger for the browser verbs (reference `log_request`
      * decorator on aggregate/facts/members, `server/decorators.py:142-170`
      * + `logging.py`); None = logging off, the reference default. */
    requestLogger: Option[RequestLogger] = None,
    /** Request authenticator (reference `[server] authentication` methods,
      * `server/auth.py`); None = the built-in permissive identity flows
      * (`?identity`/`?api_key`/Bearer), the reference's `none` default. */
    authenticator: Option[Authenticator] = None,
    /** CORS origin (`[server] allow_cors_origin`, reference
      * `blueprint.py:109,610-623`): when set, every response carries
      * `Access-Control-Allow-*` headers and OPTIONS preflights are
      * answered; `*` echoes the request's Origin back (credentialed
      * wildcard, exactly the reference's behavior). None = no CORS. */
    allowCorsOrigin: Option[String] = None,
    /** Visualizer URL (`[server] visualizer`, reference
      * `blueprint.py:110,599-606`): `/visualizer/` redirects here; 404
      * when unset. */
    visualizer: Option[String] = None) {

  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)

  def start(): Int = {
    server.createContext("/", new Handler)
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = { server.stop(0); pool.shutdown() }

  // --------------------------------------------------------- response cache

  /** Bounded TTL'd LRU of rendered GET responses. Key includes the
    * identity — authorization must never leak across identities through
    * the cache. Driver-side memory only (responses are already bounded by
    * the 10k-row formatter limits). */
  private final case class CacheEntry(resp: Resp, expiresAtMs: Long)
  private val responseCache =
    new java.util.LinkedHashMap[String, CacheEntry](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, CacheEntry]): Boolean =
        size() > cacheMaxEntries
    }

  private def cached(key: String)(compute: => Resp): (Resp, Boolean) = {
    if (cacheTtlSeconds <= 0) return (compute, false)
    val now = System.currentTimeMillis()
    responseCache.synchronized {
      val hit = responseCache.get(key)
      if (hit != null) {
        if (hit.expiresAtMs > now) return (hit.resp, true)
        // evict on discovery: a stale entry must neither linger until
        // capacity pressure nor have its LRU position refreshed by the
        // access-ordered get above
        responseCache.remove(key)
      }
    }
    val fresh = compute
    // cache only textual (json/csv-string) responses: raw attachment
    // payloads (xlsx zips, up to the 10k-row limit each) would let 1024
    // entries pin gigabytes of driver heap, and a streamed response is a
    // single-use iterator (caching it would serve an exhausted stream)
    if (fresh.raw.isEmpty && fresh.stream.isEmpty) responseCache.synchronized {
      responseCache.put(key, CacheEntry(fresh, now + cacheTtlSeconds * 1000L))
    }
    (fresh, false)
  }

  // ------------------------------------------------------------- handler

  /** Response triple + whether a row limit truncated the payload (signaled
    * to the client as an `X-Graft-Truncated: true` header). `raw` carries a
    * binary payload (xlsx) instead of `body`; `attachment` adds a
    * Content-Disposition filename like the reference's download responses. */
  private final case class Resp(code: Int, body: String, ctype: String,
      truncated: Boolean = false, raw: Option[Array[Byte]] = None,
      attachment: Option[String] = None,
      /** Streamed line payload (`format=json_lines`): written chunked,
        * one line at a time — the response never materializes whole on
        * this server (reference `JSONLinesGenerator`, `server/utils
        * .py:105-108`). Single-use; never cached. */
      stream: Option[Iterator[String]] = None)

  /** Rows in one json, csv or xlsx response (`json_record_limit` in
    * `/info`); more set `X-Graft-Truncated`. */
  private val RecordLimit = 10000

  /** Deepest row offset (page × pagesize) a paged request may ask for.
    * Spark's top-K sizes each task's queue by offset + limit, and the
    * json aggregate collects offset + page rows to the driver. */
  private val MaxOffset = 10 * RecordLimit

  private val XlsxMime =
    "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet"

  private final class Handler extends HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        val path = ex.getRequestURI.getPath.stripPrefix("/").stripSuffix("/")
        val parts = path.split("/").toList
        val q = parseQuery(ex)
        // CORS preflight: answered before authentication — browsers never
        // attach credentials to preflights, so an authenticated OPTIONS
        // would always 401 and permanently block the cross-origin client
        // (the reference delegates OPTIONS to Flask's automatic handler,
        // which likewise bypasses the view; blueprint.py:615-616 only
        // decorates the response)
        if (ex.getRequestMethod == "OPTIONS") {
          respond(ex, Resp(200, "", "text/plain"))
          return
        }
        // authentication runs BEFORE routing, on every request (reference
        // before_request, blueprint.py:160-170)
        val id = authenticator match {
          case Some(a) => a.authenticate(ex, q)
          case None    => identityOf(ex, q)
        }
        // a GET /report carries its spec in the BODY (reference allows
        // both verbs), which the URL-keyed response cache cannot see —
        // two different report bodies would collide on one cache entry
        val bodyCarrying = parts.lastOption.contains("report")
        if (ex.getRequestMethod == "GET" && !bodyCarrying) {
          val key = s"$path?${Option(ex.getRequestURI.getRawQuery).getOrElse("")}" +
            s"@${id.getOrElse("")}"
          val (resp, hit) = cached(key)(route(ex, parts, q, id))
          if (hit) ex.getResponseHeaders.set("X-Graft-Cache", "hit")
          respond(ex, resp)
        } else respond(ex, route(ex, parts, q, id))
      } catch {
        case e: NotAuthenticated =>
          // 401 + the scheme's challenge (reference NotAuthenticatedError
          // handling; the browser then prompts for Basic credentials)
          authenticator.flatMap(_.challenge).foreach(c =>
            ex.getResponseHeaders.set("WWW-Authenticate", c))
          respond(ex, Resp(401,
            s"""{"error": "not authenticated", "realm": ${jstr(e.realm)}}""",
            "application/json"))
        case e: graft.auth.NotAuthorized =>
          respond(ex, Resp(403, s"""{"error": ${jstr(e.getMessage)}}""", "application/json"))
        case e: IllegalArgumentException =>
          respond(ex, Resp(400, s"""{"error": ${jstr(e.getMessage)}}""", "application/json"))
        case e: NoSuchElementException =>
          // a federated relay's remote 404 propagates as a 404, not a 500
          respond(ex, Resp(404, s"""{"error": ${jstr(e.getMessage)}}""", "application/json"))
        case e: Throwable =>
          respond(ex, Resp(500, s"""{"error": ${jstr(String.valueOf(e))}}""", "application/json"))
      } finally ex.close()

    /** Identity: `?identity=` / `?api_key=` query param or
      * `Authorization: Bearer <id>` header (reference http_get/parameter
      * methods of `SimpleAuthenticator`, `server/auth.py`). */
    private def identityOf(ex: HttpExchange, q: Map[String, String]): Option[String] =
      q.get("identity").orElse(q.get("api_key")).orElse(
        Option(ex.getRequestHeaders.getFirst("Authorization"))
          .map(_.stripPrefix("Bearer").trim).filter(_.nonEmpty))

    /** The `/info` payload (reference `get_info`, `blueprint.py:250-279`):
      * the configured about-block plus json_record_limit, cubes_version,
      * timezone, first_weekday, api_version and an `authentication` object
      * — the full key set clients feature-detect against. */
    private def infoJson(id: Option[String]): String = {
      val about = serverInfo.toSeq.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
      val tz = workspace.spark.conf.get("spark.sql.session.timeZone",
        java.util.TimeZone.getDefault.getID)
      val authType = if (workspace.authorizer.isDefined) "identity" else "none"
      val authIdentity = id.map(i => s""", "identity": ${jstr(i)}""").getOrElse("")
      (about ++ Seq(
        s""""json_record_limit": $RecordLimit""",
        s""""cubes_version": "0.1.0"""",
        s""""timezone": ${jstr(tz)}""",
        s""""first_weekday": 0""",
        s""""api_version": 2""",
        s""""engine": "cubesspark"""",
        s""""spark": ${jstr(workspace.spark.version)}""",
        s""""authentication": {"type": ${jstr(authType)}$authIdentity}"""))
        .mkString("{", ", ", "}")
    }

    private def route(ex: HttpExchange, parts: List[String],
        q: Map[String, String], id: Option[String]): Resp = parts match {
      case List("") =>
        // index (reference show_index, blueprint.py:228-234 — an "about"
        // page over get_info()): the info block plus has_about and the
        // served API surface, as JSON rather than rendered HTML
        val hasAbout = serverInfo.nonEmpty
        Resp(200,
          s"""{"slicer": "cubesspark", "has_about": $hasAbout, "info": ${infoJson(id)}, """ +
            s""""api": ["/version", "/info", "/cubes", "/cube/<cube>/model", """ +
            s""""/cube/<cube>/aggregate", "/cube/<cube>/facts", "/cube/<cube>/fact/<id>", """ +
            s""""/cube/<cube>/members/<dim>", "/cube/<cube>/cell", "/cube/<cube>/report", """ +
            s""""/cube/<cube>/search", "/logout"]}""",
          "application/json")
      case List("version") =>
        Resp(200, """{"version": "0.1.0", "server_version": "0.1.0", "api_version": 2}""",
          "application/json")
      case List("info") =>
        Resp(200, infoJson(id), "application/json")
      case List("logout") =>
        // reference /logout (blueprint.py:591-596): delegates to the
        // authenticator when one exists. Basic schemes answer 401 with a
        // fresh challenge so the browser forgets its cached credentials
        // (AbstractBasicAuthenticator.logout, auth.py:34-42); the
        // stateless identity scheme is a no-op ack
        authenticator.flatMap(_.challenge) match {
          case Some(c) =>
            ex.getResponseHeaders.set("WWW-Authenticate", c)
            Resp(401, "logged out", "text/plain")
          case None => Resp(200, "logged out", "text/plain")
        }
      case List("visualizer") | List("visualizer", "index.html") =>
        // reference get_visualizer (blueprint.py:599-606): redirect to the
        // configured visualizer URL; PageNotFound when unset
        visualizer match {
          case Some(url) =>
            ex.getResponseHeaders.set("Location", url)
            Resp(302, s"""{"redirect": ${jstr(url)}}""", "application/json")
          case None =>
            Resp(404, """{"error": "Visualizer not configured"}""",
              "application/json")
        }
      case List("cube", name, "search") =>
        // the reference's /search (blueprint.py:542-573) requires an
        // EXTERNAL Sphinx engine (optional cubes_search package) and
        // 501s without it; graft EXCEEDS it with a native member search:
        // case-insensitive substring match over the string attributes of
        // the cube's dimension members (the member listings are
        // dimension-cardinality-sized — exactly what an embedded search
        // can afford), reusing the browser's members plumbing so
        // authorization clamps apply identically
        logged("search", name, q, id) {
          val query = q.getOrElse("q", throw new IllegalArgumentException(
            "missing 'q' parameter"))
          val b = workspace.browserFor(id, name)
          val dims = q.get("dimension").map(Seq(_))
            .getOrElse(b.cube.dimensions.map(_.name))
          val lim = q.get("limit").map(_.toInt).getOrElse(20)
          require(lim >= 1 && lim <= 1000, "limit must be in [1, 1000]")
          val needle = query.toLowerCase(java.util.Locale.ROOT)
          val matches = scala.collection.mutable.LinkedHashSet
            .empty[(String, String, String)]
          dims.iterator.takeWhile(_ => matches.size < lim).foreach { d =>
            val m = b.members(Cell(), d)
            val strCols = m.schema.fields.collect {
              case f if f.dataType ==
                org.apache.spark.sql.types.StringType => f.name
            }
            if (strCols.nonEmpty) {
              val cond = strCols.map(c =>
                org.apache.spark.sql.functions.lower(
                  org.apache.spark.sql.functions.col(s"`$c`"))
                  .contains(needle)).reduce(_ || _)
              m.filter(cond).limit(lim).collect().foreach { row =>
                strCols.foreach { c =>
                  val v = row.getAs[String](row.fieldIndex(c))
                  if (v != null && matches.size < lim &&
                      v.toLowerCase(java.util.Locale.ROOT).contains(needle))
                    matches += ((d, c, v))
                }
              }
            }
          }
          val items = matches.toSeq.map { case (d, a, v) =>
            s"""{"dimension": ${jstr(d)}, "attribute": ${jstr(a)}, """ +
              s""""value": ${jstr(v)}}"""
          }
          Resp(200,
            s"""{"q": ${jstr(query)}, "matches": ${items.mkString("[", ",", "]")}}""",
            "application/json")
        }
      case List("cubes") =>
        val cubes = workspace.authorizedCubes(id).map { n =>
          val c = workspace.cube(n)
          s"""{"name": ${jstr(n)}, "label": ${jstr(c.label.getOrElse(n))}}"""
        }
        Resp(200, cubes.mkString("[", ",", "]"), "application/json")
      // slicer CHAINING: a federated cube is served by relaying the
      // request — query string and all — to its remote and returning the
      // remote's response verbatim (reference: a SlicerStore-backed cube
      // re-served by another slicer). Local authorization applies first;
      // binary formats are not relayed (the store speaks text).
      case "cube" :: name :: action if action.nonEmpty && workspace.isFederated(name) =>
        if (!workspace.authorizedCubes(id).contains(name))
          throw new graft.auth.NotAuthorized(s"cube '$name' is not authorized")
        require(!q.get("format").contains("xlsx"),
          "binary formats are not relayed for federated cubes")
        // relayed browser verbs are logged like local ones: the reference
        // decorator wraps the view function regardless of browser backend
        logged(action.head, name, q, id) {
          val fb = workspace.federatedBrowser(name)
          val path = action.mkString("/")
          // report carries its spec in the BODY for both verbs — a GET
          // relay without the body would hand the remote an empty spec;
          // relaying body-carrying requests as POST preserves it (the
          // remote accepts either verb)
          val relayBody =
            if (ex.getRequestMethod == "POST" || action.lastOption.contains("report"))
              Some(new String(ex.getRequestBody.readAllBytes(),
                StandardCharsets.UTF_8))
            else None
          val (status, body) = relayBody match {
            case Some(rb) =>
              fb.store.rawPostCubeRequest(path, fb.cubeName, rb, q.toSeq)
            case None => fb.store.rawCubeRequest(path, fb.cubeName, q.toSeq)
          }
          val ct = if (q.get("format").contains("csv")) "text/csv"
            else "application/json"
          Resp(status, body, ct)
        }
      case List("cube", name, "model") =>
        Resp(200, modelJson(name, id, q.get("lang")), "application/json")
      case List("cube", name, "aggregate") =>
        logged("aggregate", name, q, id, attribField = "aggregates") {
          aggregate(name, q, id)
        }
      case List("cube", name, "facts") =>
        logged("facts", name, q, id, attribField = "fields") {
          val b = workspace.browserFor(id, name)
          val (page, pageSize) = paging(q)
          val df = b.facts(cell(name, q), fields(q), order(q), page, pageSize)
          frameResponse(df, q, cubeName = name)
        }
      case List("cube", name, "fact", key) =>
        val b = workspace.browserFor(id, name)
        frameResponse(b.fact(parseKey(key)), q, cubeName = name, stem = "fact")
      case List("cube", name, "members", dim) =>
        logged("members", name, q, id) {
          val b = workspace.browserFor(id, name)
          val (page, pageSize) = paging(q)
          frameResponse(b.members(cell(name, q), dim,
            q.get("depth").map(_.toInt), q.get("hierarchy"), q.get("level"),
            page, pageSize), q, cubeName = name, stem = "members")
        }
      case List("cube", name, "cell") =>
        val b = workspace.browserFor(id, name)
        // reference shape (`/cell`, blueprint.py + query/browser.py:525):
        // a list, one element per cut; point → level records, set → list
        // of record lists, range → {"from": …, "to": …}
        val details = b.cellDetails(cell(name, q), q.get("dimension"))
        Resp(200, details.map(cutDetailsJson).mkString("[", ",", "]"),
          "application/json")
      // the reference accepts BOTH verbs (blueprint.py:508 methods=
      // ["GET", "POST"]) — either way the report spec is the request body
      case List("cube", name, "report")
          if ex.getRequestMethod == "POST" || ex.getRequestMethod == "GET" =>
        report(name, new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8), q, id)
      case _ => Resp(404, """{"error": "not found"}""", "application/json")
    }

    private def aggregate(name: String, q: Map[String, String],
        id: Option[String]): Resp = {
      val b = workspace.browserFor(id, name)
      val drilldown = listParam(q, "drilldown")
      val split = q.get("split").map(s => TimeCuts.parseCell(b.cube, s))
      val reqCell = cell(name, q) // parsed once: browse + response "cell"
      val (page, pageSize) = paging(q)
      val result = b.aggregate(reqCell, drilldown, listParam(q, "aggregates"), split,
        order(q), page, pageSize)
      // json_lines/csv/xlsx carry only the cell records; summary, levels
      // and the cell count are the json format's envelope
      if (validatedFormat(q) != "json") frameResponse(result.cells, q, name, stem = "aggregate")
      else {
        val withCount = !q.get("include_cell_count").contains("false")
        val (summary, cellsJson, truncated, count) =
          aggregateJson(result, page, pageSize, withCount)
        val levels = result.levels.map { case (d, ls) =>
          s"${jstr(d)}: ${ls.map(jstr).mkString("[", ",", "]")}"
        }.mkString("{", ",", "}")
        // reference response shape (`AggregationResult.to_dict`,
        // query/browser.py:748-771): aggregates, attributes, cell (the
        // REQUEST cuts — never the hidden restriction cell), has_split,
        // total_cell_count (on by default, `include_cell_count`)
        val aggsJson = result.aggregates.map(jstr).mkString("[", ",", "]")
        val attrsJson = result.attributes.map(jstr).mkString("[", ",", "]")
        val cellJson = reqCell.cuts.map(cutJson).mkString("[", ",", "]")
        val countJson = count.map(n => s""", "total_cell_count": $n""").getOrElse("")
        Resp(200,
          s"""{"summary": $summary, "cells": $cellsJson, "levels": $levels, """ +
            s""""aggregates": $aggsJson, "attributes": $attrsJson, """ +
            s""""cell": $cellJson, "has_split": ${result.hasSplit}$countJson}""",
          "application/json", truncated)
      }
    }

    /** The json envelope's summary object, cell page, truncation flag and
      * (when `withCount`) total cell count, from ONE ordered fetch of
      * `result.rows` that stops at the page's end or after 10,001 cells,
      * whichever is later. A fetch that comes back short holds every
      * cell, so it gives the count too; only a drilldown with more cells
      * than that counts them in a second query. When the fetch holds no
      * summary row (the browser did not pick the one-pass plan, or the
      * cell is empty), `result.summary` is its own query. */
    private def aggregateJson(result: AggregationResult, page: Option[Int],
        pageSize: Option[Int], withCount: Boolean)
        : (String, String, Boolean, Option[Long]) = {
      val rows = result.rows()
      val offset = (page, pageSize) match {
        case (Some(p), Some(n)) => p * n // paging() bounds this by MaxOffset
        case _                  => 0
      }
      val pageRows = pageSize.fold(RecordLimit + 1)(math.min(_, RecordLimit + 1))
      // + 1: the summary row
      val limit = math.max(offset + pageRows, RecordLimit + 1) + 1
      val fetched = rows.limit(limit).collect()
      val (summaries, cells) = fetched.partition(_.getBoolean(0))
      val summaryJson = summaries.headOption.map(_.getString(1)).orElse(
        result.summary.flatMap { df =>
          df.select(graft.formats.Formats.jsonObject(df.columns.toSeq))
            .head(1).headOption.map(_.getString(0))
        })
      val onPage = cells.iterator.drop(offset).take(pageRows).map(_.getString(1)).toSeq
      val count =
        if (!withCount) None
        else if (fetched.length < limit) Some(cells.length.toLong)
        else Some(rows.filter(!org.apache.spark.sql.functions.col(Browser.IsSummary)).count())
      (summaryJson.getOrElse("{}"), onPage.take(RecordLimit).mkString("[", ",", "]"),
        onPage.length > RecordLimit, count)
    }

    /** One cut from its JSON-dict form (reference `cut_from_dict`,
      * `query/cells.py:640` — the report body's cut vocabulary). */
    private def cutFromDict(v: JValue): graft.cells.Cut = {
      def s(k: String): Option[String] = (v \ k) match {
        case JString(x) => Some(x); case _ => None
      }
      def pathOf(j: JValue): Seq[String] = j match {
        case JArray(xs) => xs.map {
          case JString(x) => x
          case JInt(i)    => i.toString
          case JLong(i)   => i.toString
          case JDouble(d) => d.toString
          case JNull      => CutParser.NullValue
          case other => throw new IllegalArgumentException(s"bad path value: $other")
        }
        case _ => throw new IllegalArgumentException(s"bad path: $j")
      }
      def optPath(k: String): Option[Seq[String]] = (v \ k) match {
        case JNothing | JNull => None
        case j                => Some(pathOf(j))
      }
      val dim = s("dimension").getOrElse(
        throw new IllegalArgumentException("cut dict without 'dimension'"))
      val invert = (v \ "invert") match {
        case JBool(b) => b
        case _        => false
      }
      val hier = s("hierarchy")
      s("type") match {
        case Some("point") =>
          graft.cells.PointCut(dim, pathOf(v \ "path"), hier, invert)
        case Some("range") =>
          graft.cells.RangeCut(dim, optPath("from"), optPath("to"), hier, invert)
        case Some("set") =>
          val paths = (v \ "paths") match {
            case JArray(ps) => ps.map(pathOf)
            case other => throw new IllegalArgumentException(s"bad paths: $other")
          }
          graft.cells.SetCut(dim, paths, hier, invert)
        case other =>
          throw new IllegalArgumentException(s"unknown cut type $other")
      }
    }

    private def report(name: String, body: String, q: Map[String, String],
        id: Option[String]): Resp = {
      val b = workspace.browserFor(id, name)
      // a missing or malformed body is the CLIENT's error: a plain
      // browser GET of /report (now a served verb) must answer 400, not
      // let the parser's exception surface as a 500
      val root =
        try JsonMethods.parse(body)
        catch { case e: Throwable =>
          throw new IllegalArgumentException(
            s"report request body must be a JSON object: ${e.getMessage}")
        }
      val items = (root \ "queries") match {
        case JObject(fields) => fields.map { case (qname, v) =>
          def s(k: String) = (v \ k) match { case JString(x) => Some(x); case _ => None }
          def sl(k: String) = (v \ k) match {
            case JArray(xs) => xs.collect { case JString(x) => x }
            case JString(x) => x.split("\\|").toSeq.filter(_.nonEmpty)
            case _          => Nil
          }
          qname -> ReportItem(
            kind = s("query").getOrElse("aggregate"),
            cell = s("cut").map(c => TimeCuts.parseCell(b.cube, c)),
            rollup = s("rollup"),
            drilldown = sl("drilldown"),
            aggregates = sl("aggregates"),
            dim = s("dimension"),
            depth = (v \ "depth") match { case JInt(i) => Some(i.toInt); case _ => None },
            key = s("key").map(parseKey))
        }.toMap
        case _ => throw new IllegalArgumentException("report body needs a 'queries' object")
      }
      // a "cell" key in the body — a list of cut DICTS — overrides the
      // URL cut (reference blueprint.py:519-530; the authorizer's
      // restriction still applies inside the browser)
      val reqCell = (root \ "cell") match {
        case JArray(cuts) => Cell(cuts.map(cutFromDict))
        case JNothing     => cell(name, q)
        case other => throw new IllegalArgumentException(
          s"report 'cell' must be an array of cut dicts, got $other")
      }
      var truncated = false
      val results = b.report(reqCell, items).map { case (qname, df) =>
        val (json, t) = graft.formats.Formats.toJsonArrayTruncated(df, RecordLimit)
        truncated ||= t
        s"${jstr(qname)}: $json"
      }
      Resp(200, results.mkString("{", ",", "}"), "application/json", truncated)
    }

    // ---------------------------------------------------------- helpers

    /** Reference `Cut.to_dict` (`cells.py`): type + dimension + path(s). */
    private def cutJson(c: graft.cells.Cut): String = {
      def p(path: Seq[String]) = path.map(jstr).mkString("[", ",", "]")
      val hier = c.hierarchy.map(h => s""", "hierarchy": ${jstr(h)}""").getOrElse("")
      val base = s""""dimension": ${jstr(c.dim)}, "invert": ${c.invert}$hier"""
      c match {
        case graft.cells.PointCut(_, path, _, _) =>
          s"""{"type": "point", $base, "path": ${p(path)}}"""
        case graft.cells.SetCut(_, paths, _, _) =>
          s"""{"type": "set", $base, "paths": ${paths.map(p).mkString("[", ",", "]")}}"""
        case graft.cells.RangeCut(_, from, to, _, _) =>
          s"""{"type": "range", $base, "from": ${from.map(p).getOrElse("null")}, """ +
            s""""to": ${to.map(p).getOrElse("null")}}"""
      }
    }

    private def jval(v: Any): String = v match {
      case null => "null"
      // strict JSON has no NaN/Infinity tokens
      case d: java.lang.Double if d.isNaN || d.isInfinite => "null"
      case f: java.lang.Float if f.isNaN || f.isInfinite  => "null"
      case n: java.lang.Number   => n.toString
      case b: java.lang.Boolean  => b.toString
      case other                 => jstr(String.valueOf(other))
    }

    private def levelRecordsJson(ls: Option[Seq[graft.browser.LevelDetails]]): String =
      ls match {
        case None => "null"
        case Some(recs) => recs.map { l =>
          (l.attributes.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}: ${jval(v)}" } ++
            Seq(s""""_key": ${jval(l.key)}""", s""""_label": ${jval(l.label)}"""))
            .mkString("{", ",", "}")
        }.mkString("[", ",", "]")
      }

    private def cutDetailsJson(cd: graft.browser.CutDetails): String = cd match {
      case graft.browser.PointDetails(_, ls) => levelRecordsJson(ls)
      case graft.browser.SetDetails(_, paths) =>
        paths.map(levelRecordsJson).mkString("[", ",", "]")
      case graft.browser.RangeDetails(_, from, to) =>
        s"""{"from": ${levelRecordsJson(from)}, "to": ${levelRecordsJson(to)}}"""
    }

    /** `format` param, validated against the served set (reference
      * `validated_parameter`, blueprint.py:314-317 — unknown → 400, so a
      * typo can never silently fall back to the json path and its
      * cell-count work). */
    private def validatedFormat(q: Map[String, String]): String = {
      val fmt = q.getOrElse("format", "json")
      require(Set("json", "json_lines", "csv", "xlsx").contains(fmt),
        s"unknown response format '$fmt'")
      fmt
    }

    /** DataFrame → json array / json lines / csv / xlsx response per
      * `format` (reference `blueprint.py:309-470` — json|csv|xlsx downloads
      * with a Content-Disposition filename `<stem>.<ext>`). */
    private def frameResponse(df: DataFrame, q: Map[String, String],
        cubeName: String, stem: String = "facts"): Resp = {
      val fmt = validatedFormat(q)
      if (fmt == "json_lines") {
        // the streaming export path (reference formatted_response,
        // server/utils.py:105-108): one JSON object per line, chunked,
        // NO record limit and no driver-side array — toLocalIterator
        // pulls one partition at a time, so a federated facts() relay
        // never pins a full result on either server
        import scala.jdk.CollectionConverters._
        Resp(200, "", "application/x-json-lines",
          stream = Some(df.toJSON.toLocalIterator.asScala))
      } else if (fmt == "csv") {
        val (csv, truncated) =
          toCsv(df, header = csvHeader(cubeName, df.columns.toSeq, q))
        Resp(200, csv, "text/csv", truncated, attachment = Some(s"$stem.csv"))
      } else if (fmt == "xlsx") {
        val (bytes, truncated) =
          graft.formats.Formats.xlsxBytes(df, limit = RecordLimit)
        Resp(200, "", XlsxMime, truncated, raw = Some(bytes),
          attachment = Some(s"$stem.xlsx"))
      } else {
        val (json, truncated) = graft.formats.Formats.toJsonArrayTruncated(df, RecordLimit)
        Resp(200, json, "application/json", truncated)
      }
    }

    private def cell(cubeName: String, q: Map[String, String]): Cell =
      q.get("cut").map(c => TimeCuts.parseCell(workspace.cube(cubeName), c))
        .getOrElse(Cell.empty)

    /** Time and log one browser verb through the configured request
      * logger (reference `log_request` decorator,
      * `server/decorators.py:142-170`: method, cube, cell, identity,
      * elapsed, plus the request vocabulary — split/drilldown/page/
      * pagesize/format and the verb's attribute field). No logger
      * configured = zero overhead. */
    private def logged(method: String, cubeName: String,
        q: Map[String, String], id: Option[String],
        attribField: String = "attributes")(f: => Resp): Resp =
      requestLogger match {
        case None => f
        case Some(rl) =>
          val other = Seq(
            "split" -> q.get("split"),
            "drilldown" -> q.get("drilldown"),
            "page" -> q.get("page"),
            "page_size" -> q.get("pagesize"),
            "format" -> q.get("format"),
            "attributes" -> q.get(attribField)
          ).collect { case (k, Some(v)) => k -> v }.toMap
          rl.logTime(method, cubeName, q.getOrElse("cut", ""), id, other)(f)
      }

    private def listParam(q: Map[String, String], k: String): Seq[String] =
      q.get(k).toSeq.flatMap(_.split("\\|")).filter(_.nonEmpty)

    private def fields(q: Map[String, String]): Seq[String] =
      q.get("fields").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

    private def order(q: Map[String, String]): Seq[(String, Option[String])] =
      q.get("order").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).map { o =>
        o.split(":", 2) match {
          case Array(a)    => (a, None)
          case Array(a, d) => (a, Some(d))
        }
      }

    /** `page` and `pagesize`: non-negative, with a row offset
      * (page × pagesize) of at most [[MaxOffset]] — anything else is the
      * client's error (400), never a wrapped offset or a Spark 500. */
    private def paging(q: Map[String, String]): (Option[Int], Option[Int]) = {
      def nonNegative(k: String): Option[Int] = q.get(k).map { v =>
        val n = v.toInt
        require(n >= 0, s"'$k' must be non-negative, got $n")
        n
      }
      val (page, pageSize) = (nonNegative("page"), nonNegative("pagesize"))
      for (p <- page; n <- pageSize)
        require(p.toLong * n <= MaxOffset,
          s"page × pagesize = ${p.toLong * n} is past the deepest served row ($MaxOffset)")
      (page, pageSize)
    }

    private def parseKey(s: String): Any =
      try java.lang.Long.valueOf(s) catch { case _: NumberFormatException => s }

    /** Cube model with per-identity hierarchy trimming (reference
      * `/cube/<name>/model`, `blueprint.py:290-302` →
      * `dimension.to_dict(hierarchy_limits=...)`,
      * `metadata/dimension.py:560-590`): a limited hierarchy lists only
      * levels down to the limit; a `level=None` limit hides it. */
    private def modelJson(name: String, id: Option[String],
        lang: Option[String] = None): String = {
      // a denied cube's SCHEMA is as protected as its data — every other
      // cube route authorizes via browserFor; the model route must too
      if (!workspace.authorizedCubes(id).contains(name))
        throw new graft.auth.NotAuthorized(s"cube '$name' is not authorized")
      val c = workspace.cube(name, lang) // model labels localized per `lang`
      val limits = workspace.authorizer
        .map(_.hierarchyLimits(id.getOrElse(""), name)).getOrElse(Nil)
      def lbl(l: Option[String]): String =
        l.map(s => s""", "label": ${jstr(s)}""").getOrElse("")
      val dims = c.dimensions.flatMap { d =>
        // per-hierarchy authorized depth for this identity
        def depthOf(h: graft.model.Hierarchy): Int = {
          val applicable = limits.filter(l => l.dim == d.name &&
            d.hierarchy(l.hierarchy).name == h.name)
          if (applicable.isEmpty) h.levelNames.size
          else applicable.map(_.level
            .map(lv => h.levelIndex(lv) + 1).getOrElse(0)).min
        }
        // a level (and its attribute metadata) is served only if SOME
        // hierarchy still exposes it at the authorized depth — the model
        // must not leak grain the identity cannot browse
        val visibleLevels = d.allHierarchies
          .flatMap(h => h.levelNames.take(depthOf(h))).toSet
        if (visibleLevels.isEmpty) None
        else {
          val levels = d.levels.filter(l => visibleLevels(l.name)).map(l =>
            s"""{"name": ${jstr(l.name)}${lbl(l.label)}, "attributes": ${
              l.attributes.map(a => jstr(a.name)).mkString("[", ",", "]")}}""")
            .mkString("[", ",", "]")
          val hiers = d.allHierarchies.flatMap { h =>
            val depth = depthOf(h)
            if (depth == 0) None // hierarchy hidden for this identity
            else Some(s"""{"name": ${jstr(h.name)}, "levels": ${
              h.levelNames.take(depth).map(jstr).mkString("[", ",", "]")}}""")
          }.mkString("[", ",", "]")
          Some(s"""{"name": ${jstr(d.name)}${lbl(d.label)}, "levels": $levels, "hierarchies": $hiers}""")
        }
      }.mkString("[", ",", "]")
      val measures = c.measures.map(m =>
        s"""{"name": ${jstr(m.name)}${lbl(m.label)}}""").mkString("[", ",", "]")
      val aggs = c.aggregates.map(a =>
        s"""{"name": ${jstr(a.name)}${lbl(a.label)}}""").mkString("[", ",", "]")
      s"""{"name": ${jstr(name)}${lbl(c.label)}, "dimensions": $dims, "measures": $measures, "aggregates": $aggs}"""
    }

    /** CSV header cells per the `header` request param (reference
      * `header_type` names|labels|none, blueprint.py:319-372): `names` =
      * column refs, `labels` (the reference default) = model labels where
      * defined (localized per `lang`, like /model), `none` = no header
      * row. */
    private def csvHeader(cubeName: String, cols: Seq[String],
        q: Map[String, String]): Option[Seq[String]] =
      q.getOrElse("header", "labels") match {
        case "none"  => None
        case "names" => Some(cols)
        case "labels" =>
          val c = workspace.cube(cubeName, q.get("lang"))
          val aggLabels = c.aggregates.map(a => a.name -> a.label).toMap
          Some(cols.map { name =>
            aggLabels.getOrElse(name,
              c.allAttributes.get(name).flatMap(_.label))
              .getOrElse(name)
          })
        case other =>
          throw new IllegalArgumentException(s"unknown header type '$other'")
      }

    /** RFC-4180 CSV, quoting on the stringified value: any cell whose
      * rendering contains a comma, quote, or line break (arrays/structs
      * render with commas; embedded newlines would otherwise corrupt the
      * row structure) is quoted and inner quotes doubled. `header` =
      * Some(cells) renders a header row, None omits it. Returns the text
      * plus whether the row limit truncated it. */
    private def toCsv(df: DataFrame, limit: Int = RecordLimit,
        header: Option[Seq[String]]): (String, Boolean) = {
      val fetched = df.limit(limit + 1).collect()
      val rows = fetched.take(limit)
      def cell(v: Any): String = v match {
        case null => ""
        case other => graft.formats.Formats.csvField(String.valueOf(other))
      }
      val headerLines = header match {
        case Some(cells) => Seq(cells.map(cell).mkString(","))
        case None        => Nil
      }
      val lines = rows.map(_.toSeq.map(cell).mkString(","))
      ((headerLines ++ lines).mkString("\n"), fetched.length > limit)
    }
  }

  private def parseQuery(ex: HttpExchange): Map[String, String] = {
    val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    raw.split("&").filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => urlDecode(k) -> urlDecode(v)
        case Array(k)    => urlDecode(k) -> ""
      }
    }.toMap
  }

  private def urlDecode(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  private def jstr(s: String): String = graft.formats.Formats.jsonString(s)

  /** Cross-origin resource sharing headers on EVERY response (reference
    * after_request `add_cors_headers`, blueprint.py:608-623): wildcard
    * origin echoes the request's Origin back (a credentialed response
    * cannot carry the literal `*`), preflights additionally allow the
    * `X-Requested-With` request header. */
  private def corsHeaders(ex: HttpExchange): Unit =
    allowCorsOrigin.filter(_.nonEmpty).foreach { origin =>
      val h = ex.getResponseHeaders
      if (ex.getRequestMethod == "OPTIONS")
        h.set("Access-Control-Allow-Headers", "X-Requested-With")
      val allowed =
        if (origin == "*")
          Option(ex.getRequestHeaders.getFirst("Origin")).getOrElse(origin)
        else origin
      h.set("Access-Control-Allow-Origin", allowed)
      h.set("Access-Control-Allow-Credentials", "true")
      h.set("Access-Control-Allow-Methods", "GET, POST, OPTIONS")
      h.set("Access-Control-Max-Age", "1728000")
    }

  private def respond(ex: HttpExchange, r: Resp): Unit = {
    corsHeaders(ex)
    r.stream match {
    case Some(lines) =>
      // chunked transfer: lines leave as they are produced; length 0 =
      // "unknown", the JDK server chunks automatically
      ex.getResponseHeaders.set("Content-Type", s"${r.ctype}; charset=utf-8")
      ex.sendResponseHeaders(r.code, 0)
      val out = ex.getResponseBody
      try {
        lines.foreach { line =>
          out.write(line.getBytes(StandardCharsets.UTF_8))
          out.write('\n')
        }
      } catch { case e: Throwable =>
        // the 200 header is already committed, so a Spark failure
        // mid-iterator cannot become an error status — without this the
        // chunked body would just END, indistinguishable from a complete
        // result. Emit a parse-distinguishable error line (clients read
        // one JSON object per line; a trailing {"error": ...} is the
        // line-protocol's error signal) instead of re-raising into the
        // handler's catch, whose second respond() would throw on the
        // committed exchange and mask the cause.
        System.err.println(s"[slicer] json_lines stream failed: $e")
        try out.write((s"""{"error": ${jstr(String.valueOf(e))}}""" + "\n")
          .getBytes(StandardCharsets.UTF_8))
        catch { case _: Throwable => () }
      }
      out.flush()
    case None =>
      val bytes = r.raw.getOrElse(r.body.getBytes(StandardCharsets.UTF_8))
      ex.getResponseHeaders.set("Content-Type",
        if (r.raw.isDefined) r.ctype else s"${r.ctype}; charset=utf-8")
      r.attachment.foreach(f => ex.getResponseHeaders.set(
        "Content-Disposition", s"""attachment; filename="$f""""))
      if (r.truncated) ex.getResponseHeaders.set("X-Graft-Truncated", "true")
      // a zero-length 200 must send -1 (no body) per HttpServer contract;
      // 0 means chunked-unknown and hangs keep-alive clients
      if (bytes.isEmpty) ex.sendResponseHeaders(r.code, -1)
      else {
        ex.sendResponseHeaders(r.code, bytes.length)
        ex.getResponseBody.write(bytes)
      }
    }
  }
}
