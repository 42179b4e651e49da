package graft.formats

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, struct, to_json}

/** Result output formats (reference `cubes/formatters.py:58-150`): CSV and
  * JSON-lines as distributed writers (each scales with the result), JSON
  * and XLSX driver-side for bounded server responses (the reference's xlsx
  * is driver-side too). */
object Formats {

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", header.toString).csv(path)

  /** JSON-lines (reference `formatters.py:136-149`) — Spark's native JSON
    * sink is already line-delimited. */
  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Quoted + escaped JSON string (shared by the server's renderer, the
    * cross-table formatter, the JSON request log and `Verify`'s
    * oracle_sql.json — one escaping implementation). */
  def jsonString(s: String): String =
    "\"" + Option(s).getOrElse("").flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** One CSV field: quoted, inner quotes doubled, when it holds a comma,
    * a quote, CR or LF (shared by the server's CSV responses and the CSV
    * request log). */
  def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** The named columns of a row as one JSON object, with the bytes
    * `Dataset.toJSON` writes for that row (both use the session's JSON
    * options): rows rendered inside a query, ahead of its limit. */
  def jsonObject(columns: Seq[String]): Column =
    to_json(struct(columns.map(c => col(s"`$c`")): _*))

  /** Driver-side JSON array string for small results (server responses). */
  def toJsonArray(df: DataFrame, limit: Int = 10000): String =
    toJsonArrayTruncated(df, limit)._1

  /** Like [[toJsonArray]] but also reports whether the row limit cut the
    * result short (fetches limit+1 to detect), so callers can signal
    * truncation instead of silently dropping rows. */
  def toJsonArrayTruncated(df: DataFrame, limit: Int = 10000): (String, Boolean) = {
    val rows = df.limit(limit + 1).toJSON.collect()
    (rows.take(limit).mkString("[", ",", "]"), rows.length > limit)
  }

  /** Driver-side XLSX writer (reference `formatters.py:114-133` uses
    * xlsxwriter; here a minimal OOXML workbook written directly — an
    * .xlsx is just a zip of XML parts, and inline strings avoid the
    * shared-strings table). Driver-side by design, like the reference:
    * spreadsheets are for small result sets. */
  def writeXlsx(df: DataFrame, path: String, limit: Int = 100000): Unit = {
    val (bytes, _) = xlsxBytes(df, limit)
    val out = new java.io.FileOutputStream(path)
    try out.write(bytes) finally out.close()
  }

  /** The workbook as in-memory bytes + whether the row limit truncated it
    * (fetches limit+1 to detect) — the server's `format=xlsx` responses. */
  def xlsxBytes(df: DataFrame, limit: Int = 100000): (Array[Byte], Boolean) = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val fetched = df.limit(limit + 1).collect()
    val rows = fetched.take(limit)
    val cols = df.columns

    def esc(s: String): String = s
      // XML 1.0 forbids most control chars entirely — drop them (keep
      // tab/newline/CR, which are legal when escaped in text nodes)
      .filter(c => c >= ' ' || c == '\t' || c == '\n' || c == '\r')
      .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

    def isFiniteNumber(n: java.lang.Number): Boolean = n match {
      case d: java.lang.Double => !d.isNaN && !d.isInfinite
      case f: java.lang.Float  => !f.isNaN && !f.isInfinite
      case _                   => true
    }

    def cell(v: Any): String = v match {
      case null => "<c/>"
      // NaN/Infinity are not valid xlsx numbers — write them as text
      case n: java.lang.Number if isFiniteNumber(n) => s"<c><v>${n.toString}</v></c>"
      case b: java.lang.Boolean => s"""<c t="b"><v>${if (b) 1 else 0}</v></c>"""
      case other => s"""<c t="inlineStr"><is><t>${esc(String.valueOf(other))}</t></is></c>"""
    }

    val sheetRows = new StringBuilder
    sheetRows.append("<row>")
    cols.foreach(c => sheetRows.append(cell(c)))
    sheetRows.append("</row>")
    rows.foreach { r =>
      sheetRows.append("<row>")
      (0 until r.length).foreach(i => sheetRows.append(cell(r.get(i))))
      sheetRows.append("</row>")
    }

    // concatenated, NOT an interpolated stripMargin template: row data may
    // contain newlines, and stripMargin after interpolation would mangle
    // any cell text matching "\n<ws>|"
    val sheet =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
        "<worksheet xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\">\n" +
        "<sheetData>" + sheetRows.toString + "</sheetData></worksheet>"
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        |  xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="result" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin
    val workbookRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1"
        |  Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet"
        |  Target="worksheets/sheet1.xml"/></Relationships>""".stripMargin
    val rootRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1"
        |  Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument"
        |  Target="xl/workbook.xml"/></Relationships>""".stripMargin
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Override PartName="/xl/workbook.xml"
        |  ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
        |<Override PartName="/xl/worksheets/sheet1.xml"
        |  ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
        |</Types>""".stripMargin

    val buf = new java.io.ByteArrayOutputStream()
    val out = new ZipOutputStream(buf)
    try {
      def put(name: String, content: String): Unit = {
        out.putNextEntry(new ZipEntry(name))
        out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.closeEntry()
      }
      put("[Content_Types].xml", contentTypes)
      put("_rels/.rels", rootRels)
      put("xl/workbook.xml", workbook)
      put("xl/_rels/workbook.xml.rels", workbookRels)
      put("xl/worksheets/sheet1.xml", sheet)
    } finally out.close()
    (buf.toByteArray, fetched.length > limit)
  }
}
