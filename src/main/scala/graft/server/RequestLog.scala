package graft.server

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import graft.formats.Formats

/** Server request logging (reference `cubes/server/logging.py:70-268`):
  * every logged browser call (aggregate / facts / members) produces one
  * record in the reference's `REQUEST_LOG_ITEMS` vocabulary, dispatched
  * to the configured handlers — the audit/usage surface of a shared
  * slicer. Handlers are configured from `slicer.ini` `[query_log]`
  * sections (`configured_request_log_handlers`, `logging.py:48-66`);
  * `[server] asynchronous_logging` selects the queue-backed logger.
  */
object RequestLog {

  /** Record field order (reference `REQUEST_LOG_ITEMS`,
    * `logging.py:31-45`) — the CSV column order and the JSON key set. */
  val Items: Seq[String] = Seq(
    "timestamp", "method", "cube", "cell", "identity", "elapsed_time",
    "attributes", "split", "drilldown", "page", "page_size", "format",
    "headers")

  /** Handlers from the parsed config: one per section whose name starts
    * with `query_log` (`[query_log]`, `[query_log_csv]`, …), selected by
    * its `type:` key — default | csv_file | json | xlsx (reference
    * `create_request_log_handler` registry). `defaultOut` receives the
    * default handler's lines (the server log — `[server] log` routes it
    * to a file). */
  def configuredHandlers(cfg: Map[String, Map[String, String]],
      defaultOut: String => Unit): Seq[RequestLogHandler] =
    cfg.keys.toSeq.sorted.filter(_.startsWith("query_log")).map { sec =>
      val opts = cfg(sec)
      def path = opts.getOrElse("path",
        throw new IllegalArgumentException(s"[$sec] needs a 'path'"))
      opts.getOrElse("type", "default") match {
        case "default" => new DefaultRequestLogHandler(defaultOut)
        // the reference's XLSX handler appends CSV rows too
        // (logging.py:183-198 writes via csv.writer) — same file shape
        case "csv_file" | "csv" | "xlsx" =>
          new CsvFileRequestLogHandler(path)
        case "json" | "json_file" => new JsonLinesRequestLogHandler(path)
        case t => throw new IllegalArgumentException(
          s"unknown query log handler type '$t' in [$sec]")
      }
    }

  /** Logger from the parsed config: handlers from the `query_log`
    * sections, async when `[server] asynchronous_logging` is truthy,
    * default-handler output appended to `[server] log` when set (else
    * stderr, the JDK-logging analogue of the reference's `get_logger`). */
  def configuredLogger(
      cfg: Map[String, Map[String, String]]): Option[RequestLogger] = {
    val server = cfg.getOrElse("server", Map.empty)
    val defaultOut: String => Unit = server.get("log") match {
      case Some(p) => line => appendLine(p, line)
      case None    => line => System.err.println(line)
    }
    val handlers = configuredHandlers(cfg, defaultOut)
    if (handlers.isEmpty) None
    else if (server.get("asynchronous_logging")
        .exists(v => Set("true", "yes", "on", "1").contains(v.trim.toLowerCase)))
      Some(new AsyncRequestLogger(handlers))
    else Some(new RequestLogger(handlers))
  }

  private[server] def appendLine(path: String, line: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, (line + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}

/** One sink for request records (reference `RequestLogHandler`,
  * `logging.py:137-139`). Record values are already strings; missing
  * items are absent from the map. */
trait RequestLogHandler {
  def writeRecord(record: Map[String, String]): Unit
}

/** Human-readable one-liner per request through the server log
  * (reference `DefaultRequestLogHandler.write_record`,
  * `logging.py:145-162` — same `method:… cube:… cell:… identity:…
  * time:…` shape). */
final class DefaultRequestLogHandler(out: String => Unit)
    extends RequestLogHandler {
  override def writeRecord(record: Map[String, String]): Unit = {
    def quotedOrNone(k: String): String =
      record.get(k).filter(_.nonEmpty).map(v => s"'$v'").getOrElse("none")
    out(s"method:${record.getOrElse("method", "")} " +
      s"cube:${record.getOrElse("cube", "")} " +
      s"cell:${quotedOrNone("cell")} " +
      s"identity:${quotedOrNone("identity")} " +
      s"time:${record.getOrElse("elapsed_time", "0")}")
  }
}

/** Appends one CSV row per request in [[RequestLog.Items]] order
  * (reference `CSVFileRequestLogHandler`, `logging.py:165-180`). */
final class CsvFileRequestLogHandler(path: String) extends RequestLogHandler {
  override def writeRecord(record: Map[String, String]): Unit =
    RequestLog.appendLine(path,
      RequestLog.Items.map(k =>
        Formats.csvField(record.getOrElse(k, ""))).mkString(","))
}

/** Appends one JSON object per line (reference `JSONRequestLogHandler`,
  * `logging.py:200-268` — JSON-lines file of the same record). */
final class JsonLinesRequestLogHandler(path: String)
    extends RequestLogHandler {
  override def writeRecord(record: Map[String, String]): Unit =
    RequestLog.appendLine(path,
      RequestLog.Items.flatMap(k => record.get(k).map(v =>
        s"${Formats.jsonString(k)}: ${Formats.jsonString(v)}"))
        .mkString("{", ", ", "}"))
}

/** Synchronous request logger (reference `RequestLogger`,
  * `logging.py:70-122`): builds the record, stringifies, writes to every
  * handler; a broken handler is reported and skipped — logging must never
  * fail the request it describes. */
class RequestLogger(handlers: Seq[RequestLogHandler],
    warn: String => Unit = s => System.err.println(s)) {

  def log(method: String, cube: String, cell: String,
      identity: Option[String], elapsedSeconds: Double,
      other: Map[String, String] = Map.empty): Unit = {
    val record = Map(
      "timestamp" -> java.time.Instant.now().toString,
      "method" -> method,
      "cube" -> cube,
      "cell" -> cell,
      "identity" -> identity.getOrElse(""),
      "elapsed_time" -> elapsedSeconds.toString) ++ other
    handlers.foreach { h =>
      try h.writeRecord(record)
      catch { case e: Exception =>
        warn(s"request log handler error (${h.getClass.getSimpleName}): " +
          String.valueOf(e.getMessage))
      }
    }
  }

  /** Time `f` and log one record for it (reference `log_time`,
    * `logging.py:78-84`). The record is written even when `f` throws —
    * a failing request is still a request the audit log must show. */
  def logTime[T](method: String, cube: String, cell: String,
      identity: Option[String], other: Map[String, String] = Map.empty)
      (f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally log(method, cube, cell, identity,
      (System.nanoTime() - t0) / 1e9, other)
  }

  /** Block until every record already accepted is written (no-op for the
    * synchronous logger; the async one drains its queue). */
  def flush(): Unit = ()
}

/** Queue-backed logger: `log` enqueues and returns, a daemon consumer
  * thread writes (reference `AsyncRequestLogger`, `logging.py:125-135`)
  * — the browser call never waits on a slow log sink. */
final class AsyncRequestLogger(handlers: Seq[RequestLogHandler],
    warn: String => Unit = s => System.err.println(s))
    extends RequestLogger(handlers, warn) {

  private case class Entry(method: String, cube: String, cell: String,
      identity: Option[String], elapsed: Double, other: Map[String, String])
  private val queue = new java.util.concurrent.LinkedBlockingQueue[Entry]()
  private val pending = new java.util.concurrent.atomic.AtomicLong(0)
  private def writeNow(e: Entry): Unit =
    super.log(e.method, e.cube, e.cell, e.identity, e.elapsed, e.other)
  private val consumer = new Thread("slicer-request-logging") {
    override def run(): Unit =
      while (true) {
        val e = queue.take()
        try writeNow(e)
        finally pending.decrementAndGet()
      }
  }
  consumer.setDaemon(true)
  consumer.start()

  override def log(method: String, cube: String, cell: String,
      identity: Option[String], elapsedSeconds: Double,
      other: Map[String, String] = Map.empty): Unit = {
    pending.incrementAndGet()
    queue.put(Entry(method, cube, cell, identity, elapsedSeconds, other))
  }

  override def flush(): Unit =
    while (pending.get() > 0) Thread.sleep(1)
}
