package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.cells.{Cell, PointCut}
import graft.workspace.Workspace

/** A hello_world tutorial end-to-end through graft: its `model.json`
  * (bare-column mappings, expression measure, expression aggregate) over
  * its `data.csv` (src/test/resources/models/hello_world), running the
  * tutorial's queries — summary, drilldown by item, point-cut slice +
  * drilldown. Golden values were computed from the CSV with DuckDB, e.g.
  * `SELECT "Category", count(*), sum("Amount"), max("Amount") -
  * min("Amount") FROM read_csv('data.csv', header=true) GROUP BY 1`. */
class HelloWorldSpec extends AnyFunSuite with SharedSpark {

  private val exampleDir = java.nio.file.Paths.get(
    getClass.getResource("/models/hello_world").toURI).toString

  /** data.csv loaded the way the tutorial's prepare_data step does it:
    * columns are renamed POSITIONALLY onto the model's physical names. */
  private lazy val fact = {
    val raw = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$exampleDir/data.csv")
    val names = Seq("category", "category_label", "subcategory",
      "subcategory_label", "line_item", "year", "amount")
    raw.toDF(names: _*)
  }

  private lazy val browser = {
    val modelJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$exampleDir/model.json")), "UTF-8")
    val ws = new Workspace(spark).importModel(modelJson)
      .registerTable("irbd_balance", fact)
    ws.browser("irbd_balance")
  }

  // exact-decimal sums surface as BigDecimal; counts as Long
  private def num(r: org.apache.spark.sql.Row, c: String): Long =
    r.getAs[Number](c).longValue()

  test("summary: record count, amount sum, expression measure and aggregate") {
    val row = browser.aggregate().summary.get.collect().head
    assert(num(row, "record_count") == 26L)
    assert(num(row, "amount_sum") == 494746L)
    assert(num(row, "double_amount_sum") == 989492L)
    assert(num(row, "amount_range") == 86310L)
  }

  test("drilldown by item: the tutorial's category table") {
    val cells = browser.aggregate(drilldown = Seq("item")).cells
      .orderBy(col("`item.category`")).collect()
    val got = cells.map(r => (
      r.getAs[String]("item.category"),
      r.getAs[String]("item.category_label"),
      num(r, "record_count"), num(r, "amount_sum"),
      num(r, "double_amount_sum"), num(r, "amount_range")))
    assert(got.toSeq == Seq(
      ("a", "Assets", 12L, 256534L, 513068L, 86310L),
      ("e", "Equity", 6L, 112771L, 225542L, 40209L),
      ("l", "Liabilities", 8L, 125441L, 250882L, 23500L)))
  }

  test("slice Category = Equity, drill to subcategory") {
    val cell = Cell(PointCut("item", Seq("e")))
    val cells = browser.aggregate(cell, drilldown = Seq("item")).cells
      .orderBy(col("`item.subcategory`")).collect()
    val got = cells.map(r => (
      r.getAs[String]("item.subcategory"),
      r.getAs[String]("item.subcategory_label"),
      num(r, "record_count"), num(r, "amount_sum")))
    assert(got.toSeq == Seq(
      ("cs", "Capital Stock", 2L, 50000L),
      ("oe", "Other", 2L, -5421L),
      ("re", "Retained Earnings", 2L, 68192L)))
  }
}
