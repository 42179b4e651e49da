package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.formats.CrossTable

/** Cross-table presentation formatters (reference `formatters.py:311-391`:
  * CrossTableFormatter JSON shape, HTMLCrossTableFormatter table, text). */
class CrossTableFormatSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private lazy val pivoted = CrossTable.crossTable(
    Seq((2009, "Assets", 275420L), (2009, "Equity", 40037L),
      (2010, "Assets", 283010L), (2010, "Equity", 37555L))
      .toDF("year", "category", "amount"),
    rowRefs = Seq("year"), columnRef = "category",
    columnValues = Seq("Assets", "Equity"), aggExpr = sum(col("amount")))

  private lazy val t = CrossTable.collect(pivoted, Seq("year"))

  test("collected table has reference shape (columns / rows / data)") {
    assert(t.columns == Seq("Assets", "Equity"))
    assert(t.rows == Seq(Seq(2009), Seq(2010)))
    assert(t.data == Seq(Seq(275420L, 40037L), Seq(283010L, 37555L)))
    assert(!t.truncated)
    // the row limit signals truncation instead of silently capping
    assert(CrossTable.collect(pivoted, Seq("year"), limit = 1).truncated)
  }

  test("JSON formatter emits the reference dict shape") {
    val json = CrossTable.toJson(t)
    assert(json ==
      """{"columns": ["Assets","Equity"], "rows": [[2009],[2010]], """ +
        """"data": [[275420,40037],[283010,37555]]}""")
  }

  test("HTML formatter renders headers, row headers and cells") {
    val html = CrossTable.toHtml(t, tableStyle = Some("cross"))
    assert(html.startsWith("""<table class="cross">"""))
    assert(html.contains("<th></th><th>Assets</th><th>Equity</th>"))
    assert(html.contains("<tr><th>2009</th><td>275420</td><td>40037</td></tr>"))
    // values are escaped, including quotes (attribute breakout)
    val esc = CrossTable.toHtml(t.copy(columns = Seq("<b>")),
      tableStyle = Some("""x" onmouseover="alert(1)"""))
    assert(esc.contains("&lt;b&gt;"))
    assert(esc.startsWith("""<table class="x&quot; onmouseover=&quot;alert(1)">"""))
  }

  test("JSON formatter emits strict JSON for control chars and non-finite") {
    val odd = t.copy(rows = Seq(Seq("line\nbreak")),
      data = Seq(Seq(Double.NaN, Double.PositiveInfinity)))
    val json = CrossTable.toJson(odd)
    assert(json.contains("\"line\\nbreak\""))
    assert(json.contains("[null,null]"))
    assert(!json.contains("NaN") && !json.contains("Infinity"))
  }

  test("text formatter aligns columns") {
    val text = CrossTable.toText(t)
    val lines = text.linesIterator.toSeq
    assert(lines.length == 3)
    assert(lines(1).contains("2009") && lines(1).contains("275420"))
    // all lines align on the same separators
    assert(lines.map(_.indexOf('|')).distinct.size == 1)
  }
}
