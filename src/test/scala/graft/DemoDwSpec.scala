package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.ModelJson
import graft.star.StarSchema
import graft.browser.Browser
import graft.cells._

/** End-to-end fidelity: the reference's own demo data warehouse
  * (`tests/sql/dw/demo.py:32-157` — 9 sales facts, snowflake
  * item→category→department, date dimension, exactly one row on
  * 2015-01-01) browsed through its own `model.json`
  * (`tests/sql/dw/model.json`) loaded by our JSON loader. A cubes user's
  * model + data should Just Work. */
class DemoDwSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  // the cube + shared dimensions of the reference model.json (verbatim
  // shape; "average" spelling and dimension-level "attributes" included)
  private val modelJson =
    """{
      |"cubes": [{
      |  "name": "sales",
      |  "fact": "fact_sales",
      |  "key": "id",
      |  "dimensions": ["date", "item", "category", "department"],
      |  "measures": ["price", "discount", "quantity"],
      |  "aggregates": [
      |    {"name": "price_sum", "measure": "price", "function": "sum"},
      |    {"name": "price_avg", "measure": "price", "function": "average"},
      |    {"name": "fact_count", "function": "count"}
      |  ],
      |  "mappings": {"item.key": "dim_item.item_key",
      |               "category.key": "dim_category.category_key",
      |               "department.key": "dim_department.department_key"},
      |  "joins": [
      |    {"master": "fact_sales.date_key", "detail": "dim_date.date_key"},
      |    {"master": "fact_sales.item_key", "detail": "dim_item.item_key"},
      |    {"master": "dim_item.category_key", "detail": "dim_category.category_key"},
      |    {"master": "dim_category.department_key", "detail": "dim_department.department_key"}
      |  ]
      |}],
      |"dimensions": [
      |  {"name": "date",
      |   "levels": [{"name": "year"}, {"name": "quarter"}, {"name": "month"}, {"name": "day"}],
      |   "hierarchies": [
      |     {"name": "ymd", "levels": ["year", "month", "day"]},
      |     {"name": "ym", "levels": ["year", "month"]},
      |     {"name": "yqmd", "levels": ["year", "quarter", "month", "day"]}],
      |   "default_hierarchy_name": "ymd"},
      |  {"name": "item", "attributes": ["key", "name", "unit_price"]},
      |  {"name": "category", "attributes": ["key", "name"]},
      |  {"name": "department", "attributes": ["key", "name"]}
      |]
      |}""".stripMargin

  // reference demo data, demo.py:44-58 + dims :93-157
  private val srcSales = Seq(
    (1, "2015-01-01", "here", "apricot", 1, 3, 0),
    (2, "2015-01-02", "here", "plum", 2, 1, 0),
    (3, "2015-01-03", "here", "goat", 1, 1, 0),
    (4, "2015-01-04", "here", "apricot", 2, 6, 0),
    (5, "2015-01-05", "there", "shirt", 2, 20, 10),
    (6, "2015-02-01", "there", "jacket", 1, 50, 10),
    (7, "2015-02-01", "there", "apricot", 2, 6, 0),
    (8, "2015-03-01", "there", "apricot", 2, 6, 50),
    (9, "2015-04-01", "unknown", "apricot", 2, 6, 50)
  ).toDF("id", "date", "location", "item", "quantity", "price", "discount")

  private val dimItem = Seq(
    (1, "apricot", 1, "produce", 3), (2, "plum", 1, "produce", 2),
    (3, "carrot", 1, "produce", 1), (4, "celery", 1, "produce", 2),
    (5, "milk", 2, "dairy", 2), (6, "cheese", 2, "dairy", 5),
    (7, "bread", 3, "bakery", 3), (8, "rolls", 3, "bakery", 1),
    (9, "chicken", 4, "meat", 4), (10, "beef", 4, "meat", 8),
    (11, "goat", 4, "meat", 7), (12, "soap", 5, "hygiene", 1),
    (13, "lotion", 5, "hygiene", 5), (14, "shirt", 6, "formal", 20),
    (15, "pants", 6, "formal", 30), (16, "jacket", 7, "casual", 50),
    (17, "shorts", 7, "casual", 25)
  ).toDF("item_key", "name", "category_key", "category", "unit_price")

  private val dimCategory = Seq(
    (1, "produce", 1, "grocery"), (2, "dairy", 1, "grocery"),
    (3, "bakery", 1, "grocery"), (4, "meat", 1, "grocery"),
    (5, "hygiene", 2, "body"), (6, "formal", 3, "fashion"),
    (7, "casual", 3, "fashion")
  ).toDF("category_key", "name", "department_key", "department")

  private val dimDepartment = Seq(
    (1, "grocery", "Michael"), (2, "body", "Marek"), (3, "fashion", "Sebastian")
  ).toDF("department_key", "name", "manager")

  // the demo's ETL (demo.py create_demo_dw): src → star
  private lazy val dimDate: DataFrame = srcSales
    .select(to_date($"date").as("d")).distinct()
    .select(
      (year($"d") * 10000 + month($"d") * 100 + dayofmonth($"d")).as("date_key"),
      year($"d").as("year"), quarter($"d").as("quarter"),
      month($"d").as("month"), dayofmonth($"d").as("day"))

  private lazy val factSales: DataFrame = srcSales
    .join(dimItem, srcSales("item") === dimItem("name"))
    .join(dimCategory.select($"category_key".as("ck"), $"department_key"),
      $"category_key" === $"ck")
    .select($"id",
      (year(to_date($"date")) * 10000 + month(to_date($"date")) * 100 +
        dayofmonth(to_date($"date"))).as("date_key"),
      $"item_key", $"category_key", $"department_key",
      $"quantity", $"price", $"discount")

  lazy val browser: Browser = {
    val cube0 = ModelJson.loadString(modelJson).head
    val cube = cube0.copy(dimensionPrefix = "dim_") // reference naming convention
    new Browser(cube, new StarSchema(cube, factSales, Map(
      "fact_sales" -> factSales, "dim_date" -> dimDate, "dim_item" -> dimItem,
      "dim_category" -> dimCategory, "dim_department" -> dimDepartment)), spark)
  }

  test("summary: price_sum 99 over 9 facts, average follows") {
    val r = browser.aggregate(aggregates = Seq("price_sum", "price_avg", "fact_count"))
      .cells.collect()(0)
    assert(r.getAs[Long]("price_sum") == 99L)
    assert(r.getAs[Long]("fact_count") == 9L)
    assert(math.abs(r.getAs[Double]("price_avg") - 11.0) < 1e-9)
  }

  test("ym-hierarchy month drilldown matches hand-computed sums") {
    val rows = browser.aggregate(
      drilldown = Seq("date@ym:month"),
      aggregates = Seq("price_sum")).cells.collect()
    val byMonth = rows.map(r =>
      (r.getAs[Int]("date.year"), r.getAs[Int]("date.month")) ->
        r.getAs[Long]("price_sum")).toMap
    assert(byMonth == Map((2015, 1) -> 31L, (2015, 2) -> 56L,
      (2015, 3) -> 6L, (2015, 4) -> 6L))
  }

  test("exactly one fact on 2015-01-01 (the reference test invariant)") {
    val r = browser.aggregate(
      cell = Cell(PointCut("date", Seq("2015", "1", "1"))),
      aggregates = Seq("fact_count")).cells.collect()(0)
    assert(r.getAs[Long]("fact_count") == 1L)
  }

  test("snowflake drilldown over the department dimension") {
    val rows = browser.aggregate(
      drilldown = Seq("department"),
      aggregates = Seq("price_sum")).cells.collect()
    val byDept = rows.map(r =>
      r.getAs[String]("department.name") -> r.getAs[Long]("price_sum")).toMap
    assert(byDept == Map("grocery" -> 29L, "fashion" -> 70L))
  }

  test("quarter hierarchy (yqmd) slices through the alternate hierarchy") {
    val r = browser.aggregate(
      cell = Cell(PointCut("date", Seq("2015", "1"), hierarchy = Some("yqmd"))),
      aggregates = Seq("price_sum")).cells.collect()(0)
    assert(r.getAs[Long]("price_sum") == 93L) // Q1 2015 = 31 + 56 + 6
  }
}
