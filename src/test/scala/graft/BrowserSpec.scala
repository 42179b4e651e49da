package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import graft.model._
import graft.cells._
import graft.star.StarSchema
import graft.browser.Browser

/** Golden-value browser tests on fixtures ported from the reference's own
  * test data (FIXTURES.md §2: 16 rows, amounts cycling 1,2,4,8 over years
  * 2010-2013 ⇒ amount_sum == 60, count == 16; plus a tiny star for join /
  * range / split semantics). */
class BrowserSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  // ---- flat fixture: reference tests/sql/test_aggregates.py ----
  lazy val factsDf: DataFrame = {
    val amounts = Seq(1, 2, 4, 8)
    val rows = for {
      (year, yi) <- (2010 to 2013).zipWithIndex
      (amt, ai) <- amounts.zipWithIndex
    } yield (yi * 4 + ai + 1, year, amt, amt * 10, amt % 3)
    rows.toDF("id", "year", "amount", "price", "discount")
  }

  lazy val flatCube: Cube = Cube(
    name = "facts", factTable = "facts",
    dimensions = Seq(Dimension.flat("year")),
    measures = Seq(Measure("amount"), Measure("price")),
    aggregates = Seq(
      MeasureAggregate("amount_sum", function = Some("sum"), measure = Some("amount")),
      MeasureAggregate("count", function = Some("count")),
      MeasureAggregate("amount_sma", function = Some("sma"),
        measure = Some("amount_sum"), windowSize = Some(2))),
    keyColumn = Some("id"))

  lazy val flatBrowser =
    new Browser(flatCube, new StarSchema(flatCube, factsDf, Map("facts" -> factsDf)), spark)

  test("summary golden values: amount_sum == 60, count == 16") {
    val r = flatBrowser.aggregate(aggregates = Seq("amount_sum", "count"))
    val row = r.cells.collect()(0)
    assert(row.getAs[Long]("amount_sum") == 60L)
    assert(row.getAs[Long]("count") == 16L)
  }

  test("per-year drilldown sums 15 each; sma window of 2 follows") {
    val r = flatBrowser.aggregate(
      drilldown = Seq("year"),
      aggregates = Seq("amount_sum", "amount_sma"))
    val rows = r.cells.collect()
    assert(rows.length == 4)
    assert(rows.forall(_.getAs[Long]("amount_sum") == 15L))
    // prefix window: first row sma = 15, rest avg(15,15) = 15
    assert(rows.forall(_.getAs[Double]("amount_sma") == 15.0))
  }

  test("point cut + invert on the flat dimension") {
    val r = flatBrowser.aggregate(
      cell = Cell(PointCut("year", Seq("2010"))),
      aggregates = Seq("amount_sum"))
    assert(r.cells.collect()(0).getAs[Long]("amount_sum") == 15L)
    val inv = flatBrowser.aggregate(
      cell = Cell(PointCut("year", Seq("2010"), invert = true)),
      aggregates = Seq("amount_sum"))
    assert(inv.cells.collect()(0).getAs[Long]("amount_sum") == 45L)
  }

  test("facts keyed by declared id; fact() fetches one row") {
    val f = flatBrowser.fact(3L).collect()
    assert(f.length == 1)
    val all = flatBrowser.facts(pageSize = Some(5))
    assert(all.collect().length == 5)
  }

  // ---- star fixture: date-hierarchy + category dim, outer joins ----
  lazy val salesDf: DataFrame = Seq(
    // id, date_key(y,m), cat_key, qty
    (1, 2010, 1, 10, 5.0), (2, 2010, 2, 10, 7.0), (3, 2011, 1, 20, 1.0),
    (4, 2011, 6, 20, 2.0), (5, 2012, 3, 99, 9.0) // 99 = no category row
  ).toDF("id", "year", "month", "cat_key", "qty")

  lazy val catDf: DataFrame = Seq(
    (10, "food", "A"), (20, "tools", "B"), (30, "toys", "C") // 30 unsold
  ).toDF("ckey", "cname", "dept")

  def starCube(method: String): Cube = Cube(
    name = "sales", factTable = "sales",
    dimensions = Seq(
      Dimension("date", levels = Seq(
        Level("year", Seq(Attribute("year", Some("date")))),
        Level("month", Seq(Attribute("month", Some("date")))))),
      Dimension("cat", levels = Seq(
        Level("cat", Seq(Attribute("key", Some("cat")), Attribute("name", Some("cat"))),
          keyName = Some("key"), labelAttributeName = Some("name")))),
      Dimension.flat("dept")),
    measures = Seq(Measure("qty")),
    aggregates = Seq(
      MeasureAggregate("qty_sum", function = Some("sum"), measure = Some("qty")),
      MeasureAggregate("n", function = Some("count"))),
    joins = Seq(JoinSpec("sales", Seq("cat_key"), "category", Seq("ckey"),
      method = method)),
    mappings = Map(
      "date.year" -> PhysicalRef("sales", "year"),
      "date.month" -> PhysicalRef("sales", "month"),
      "cat.key" -> PhysicalRef("category", "ckey"),
      "cat.name" -> PhysicalRef("category", "cname"),
      "dept" -> PhysicalRef("category", "dept"),
      "qty" -> PhysicalRef("sales", "qty")),
    keyColumn = Some("id"))

  def starBrowser(method: String): Browser = {
    val c = starCube(method)
    new Browser(c, new StarSchema(c, salesDf,
      Map("sales" -> salesDf, "category" -> catDf)), spark)
  }

  test("match join drops unmatched facts only when the join is required (join pruning)") {
    val b = starBrowser(JoinMethod.Match)
    // summary over fact-only count: joins pruned, all 5 facts counted
    val pruned = b.aggregate(aggregates = Seq("n")).cells.collect()(0)
    assert(pruned.getAs[Long]("n") == 5L)
    // drilldown on the dimension forces the inner join: id=5 dropped
    val joined = b.aggregate(drilldown = Seq("cat"), aggregates = Seq("n"))
      .cells.collect()
    assert(joined.map(_.getAs[Long]("n")).sum == 4L)
  }

  test("master join keeps all facts (NULL dimension attrs)") {
    val r = starBrowser(JoinMethod.Master)
      .aggregate(drilldown = Seq("cat"), aggregates = Seq("n")).cells.collect()
    assert(r.map(_.getAs[Long]("n")).sum == 5L)
    assert(r.exists(row => row.isNullAt(row.fieldIndex("cat.key"))))
  }

  test("detail join keeps unsold dimension rows") {
    val r = starBrowser(JoinMethod.Detail)
      .aggregate(drilldown = Seq("cat"), aggregates = Seq("qty_sum")).cells.collect()
    val toys = r.find(_.getAs[String]("cat.name") == "toys").get
    assert(toys.isNullAt(toys.fieldIndex("qty_sum")))
  }

  test("excludeNullAggregates filters the all-NULL rows") {
    val c = starCube(JoinMethod.Detail)
    val b = new Browser(c, new StarSchema(c, salesDf,
      Map("sales" -> salesDf, "category" -> catDf)), spark,
      excludeNullAggregates = true)
    val r = b.aggregate(drilldown = Seq("cat"), aggregates = Seq("qty_sum")).cells.collect()
    assert(!r.exists(_.getAs[String]("cat.name") == "toys"))
  }

  test("hierarchical range cut is lexicographic over (year, month)") {
    val b = starBrowser(JoinMethod.Match)
    val r = b.aggregate(
      cell = Cell(RangeCut("date", Some(Seq("2010", "2")), Some(Seq("2011", "3")))),
      aggregates = Seq("n")).cells.collect()(0)
    assert(r.getAs[Long]("n") == 2L) // (2010,2) and (2011,1); (2011,6) out
  }

  test("split pseudo-dimension adds the boolean group") {
    val b = starBrowser(JoinMethod.Match)
    val r = b.aggregate(
      split = Some(Cell(RangeCut("date", Some(Seq("2011")), None))),
      aggregates = Seq("n")).cells.collect()
    assert(r.length == 2)
    // split references only the fact-hosted date dim → no join → 5 facts
    val m = r.map(row => row.getAs[Boolean]("__within_split__") -> row.getAs[Long]("n")).toMap
    assert(m(false) == 2L && m(true) == 3L)
  }

  test("high-cardinality drilldown is refused without pagination or cut") {
    val c = flatCube.copy(dimensions =
      Seq(Dimension.flat("year").copy(cardinality = Some("high"))))
    val b = new Browser(c, new StarSchema(c, factsDf, Map("facts" -> factsDf)), spark)
    assertThrows[IllegalArgumentException] {
      b.aggregate(drilldown = Seq("year"))
    }
    // paginated is allowed
    b.aggregate(drilldown = Seq("year"), pageSize = Some(10))
  }

  test("members lists distinct level members in natural order") {
    val b = starBrowser(JoinMethod.Match)
    val m = b.members(Cell.empty, "cat").collect()
    assert(m.map(_.getAs[String]("cat.name")).toSeq == Seq("food", "tools"))
  }

  test("a mapping to a table without a join path fails fast with a diagnostic") {
    val c0 = starCube(JoinMethod.Match)
    val c = c0.copy(mappings =
      c0.mappings + ("dept" -> PhysicalRef("orphan", "dept")))
    val star = new StarSchema(c, salesDf,
      Map("sales" -> salesDf, "category" -> catDf))
    val e = intercept[IllegalArgumentException] {
      new Browser(c, star, spark).members(graft.cells.Cell.empty, "dept").collect()
    }
    assert(e.getMessage.contains("no join path"), e.getMessage)
  }

  test("authorization restriction cell is ANDed onto every browse") {
    val c = starCube(JoinMethod.Match)
    val b = new Browser(c, new StarSchema(c, salesDf,
      Map("sales" -> salesDf, "category" -> catDf)), spark,
      restrictionCell = Cell(PointCut("date", Seq("2010"))))
    val agg = b.aggregate(aggregates = Seq("n")).cells.collect()(0)
    assert(agg.getAs[Long]("n") == 2L) // only 2010 facts visible
    assert(b.facts().count() == 2L)
    val m = b.members(Cell.empty, "date", depth = Some(1)).collect()
    assert(m.map(_.getAs[Int]("date.year")).toSeq == Seq(2010))
    // fact-by-key respects the restriction too (stronger than reference)
    val unrestricted = new Browser(c, new StarSchema(c, salesDf,
      Map("sales" -> salesDf, "category" -> catDf)), spark)
    val hiddenKey = unrestricted.facts(Cell(PointCut("date", Seq("2011"))))
      .select(unrestricted.FactKeyColumn).collect()(0).get(0)
    assert(unrestricted.fact(hiddenKey).count() == 1L)
    assert(b.fact(hiddenKey).count() == 0L)
  }

  test("locale reads the suffixed physical column") {
    import spark.implicits._
    val locCat = Seq((10, "food", "jedlo"), (20, "tools", "naradie"))
      .toDF("ckey", "cname_en", "cname_sk")
    val c0 = starCube(JoinMethod.Match)
    val c = c0.copy(
      dimensions = c0.dimensions.map {
        case d if d.name == "cat" => d.copy(levels = d.levels.map(l =>
          l.copy(attributes = l.attributes.map(a =>
            if (a.name == "name") a.copy(locales = Seq("en", "sk")) else a))))
        case d => d
      },
      mappings = c0.mappings + ("cat.name" -> PhysicalRef("category", "cname")))
    def names(locale: Option[String]) = {
      val b = new Browser(c, new StarSchema(c, salesDf,
        Map("sales" -> salesDf, "category" -> locCat)), spark, locale = locale)
      b.members(Cell.empty, "cat").collect().map(_.getAs[String]("cat.name")).toSeq
    }
    assert(names(Some("en")) == Seq("food", "tools"))
    assert(names(Some("sk")) == Seq("jedlo", "naradie"))
  }

  test("trunc in a derived measure executes natively (no UDF registered)") {
    val c = flatCube.copy(
      measures = flatCube.measures :+
        Measure("amount_t", expression = Some("trunc(amount / 7)")),
      aggregates = flatCube.aggregates :+
        MeasureAggregate("t_sum", function = Some("sum"),
          measure = Some("amount_t")))
    val b = new Browser(c, new StarSchema(c, factsDf, Map("facts" -> factsDf)), spark)
    val r = b.aggregate(aggregates = Seq("t_sum")).cells.collect()(0)
    // 16 facts: amounts sum 60; per-row trunc-toward-zero of amount/7
    val expected = factsDf.select("amount").collect()
      .map(_.getAs[Int]("amount").toDouble / 7).map(_.toLong.toDouble).sum
    assert(r.getAs[Double]("t_sum") == expected)
    assert(!spark.catalog.functionExists("graft_trunc"))
    // edge values: trunc never NULLs a defined value — NaN/±Inf/huge pass
    // through (a double ≥ 2^63 is already integral), normals truncate
    val sql = graft.exprs.ExprLang.toSparkSql("trunc(v)", r => s"`$r`")
    val got = Seq(3.7, -3.7, Double.NaN, Double.PositiveInfinity, 1e19)
      .toDF("v").selectExpr(s"$sql as t").collect().map(_.getAs[Double]("t"))
    assert(got(0) == 3.0 && got(1) == -3.0)
    assert(got(2).isNaN && got(3).isPosInfinity && got(4) == 1e19)
  }

  test("expression parameters compile to literals") {
    val c = flatCube.copy(
      measures = flatCube.measures :+
        Measure("amount_scaled", expression = Some("amount * factor")),
      aggregates = flatCube.aggregates :+
        MeasureAggregate("scaled_sum", function = Some("sum"),
          measure = Some("amount_scaled")))
    val b = new Browser(c, new StarSchema(c, factsDf, Map("facts" -> factsDf)),
      spark, parameters = Map("factor" -> 10))
    val r = b.aggregate(aggregates = Seq("scaled_sum")).cells.collect()(0)
    assert(r.getAs[Long]("scaled_sum") == 600L) // 60 * 10
  }

  test("nonadditive enforcement refuses sum over a time drilldown (opt-in)") {
    val c = starCube(JoinMethod.Match).copy(
      dimensions = starCube(JoinMethod.Match).dimensions.map {
        case d if d.name == "date" => d.copy(role = Some("time"))
        case d => d
      },
      measures = Seq(Measure("qty", nonadditive = Some("time"))))
    val b = new Browser(c, new StarSchema(c, salesDf,
      Map("sales" -> salesDf, "category" -> catDf)), spark,
      enforceNonadditive = true)
    assertThrows[IllegalArgumentException] {
      b.aggregate(drilldown = Seq("date:year"), aggregates = Seq("qty_sum"))
    }
    // non-time drilldown is fine; count over time is fine
    b.aggregate(drilldown = Seq("cat"), aggregates = Seq("qty_sum"))
    b.aggregate(drilldown = Seq("date:year"), aggregates = Seq("n"))
  }

  test("fused path enforces the same refusal semantics as aggregate()") {
    // high-cardinality: refused unpaginated, allowed with pageSize
    val hc = flatCube.copy(dimensions =
      Seq(Dimension.flat("year").copy(cardinality = Some("high"))))
    val hb = new Browser(hc, new StarSchema(hc, factsDf, Map("facts" -> factsDf)), spark)
    assertThrows[IllegalArgumentException] {
      hb.aggregate(drilldown = Seq("year"), aggregates = Seq("amount_sum"))
    }
    val paged = hb.aggregate(drilldown = Seq("year"), aggregates = Seq("amount_sum"),
      pageSize = Some(10))
    assert(paged.rows().collect().map(_.getBoolean(0)).toSeq == Seq(true, false, false, false, false))
    // nonadditive: sum over a time drilldown refused when enforcement is on
    val base = starCube(JoinMethod.Match)
    val nc = base.copy(
      dimensions = base.dimensions.map {
        case d if d.name == "date" => d.copy(role = Some("time"))
        case d => d
      },
      measures = Seq(Measure("qty", nonadditive = Some("time"))))
    val nb = new Browser(nc, new StarSchema(nc, salesDf,
      Map("sales" -> salesDf, "category" -> catDf)), spark,
      enforceNonadditive = true)
    assertThrows[IllegalArgumentException] {
      nb.aggregate(drilldown = Seq("date:year"), aggregates = Seq("qty_sum"))
    }
  }

  test("fused summary+drilldown: one grouping-sets pass, both slices agree") {
    val r = flatBrowser.aggregate(
      drilldown = Seq("year"), aggregates = Seq("amount_sum", "count"))
    val cells = r.cells.collect()
    assert(cells.length == 4 && cells.forall(_.getAs[Long]("amount_sum") == 15L))
    val s = r.summary.get.collect()(0)
    assert(s.getAs[Long]("amount_sum") == 60L && s.getAs[Long]("count") == 16L)
    // the json rows: the grouping-sets summary row, then the same cells
    val rows = r.rows().collect()
    assert(rows.head.getBoolean(0) && rows.head.getString(1) == """{"amount_sum":60,"count":16}""")
    assert(rows.tail.map(_.getString(1)).toSeq == r.cells.toJSON.collect().toSeq)
  }

  test("one-pass rows honour excludeNullAggregates: their cells equal cells") {
    val c = starCube(JoinMethod.Detail)
    val b = new Browser(c, new StarSchema(c, salesDf,
      Map("sales" -> salesDf, "category" -> catDf)), spark,
      excludeNullAggregates = true)
    val r = b.aggregate(drilldown = Seq("cat"), aggregates = Seq("qty_sum"))
    val (summary, cells) = r.rows().collect().partition(_.getBoolean(0))
    assert(summary.length == 1)
    val expected = r.cells.toJSON.collect().toSeq
    assert(expected.nonEmpty && !expected.exists(_.contains("toys")))
    assert(cells.map(_.getString(1)).toSeq == expected)
  }

  test("a cube with no declared aggregates: one query, fact_count in the summary and cells") {
    val c = flatCube.copy(aggregates = Nil)
    val b = new Browser(c, new StarSchema(c, factsDf, Map("facts" -> factsDf)), spark)
    val r = b.aggregate(drilldown = Seq("year"))
    assert(r.aggregates == Seq("fact_count"))
    val meter = RunMeter.attach(spark.sparkContext)
    try {
      meter.settle()
      meter.reset()
      val rows = r.rows().collect()
      meter.settle()
      assert(meter.queries.get == 1, s"${meter.queries.get} queries for the one-pass rows")
      assert(rows.head.getBoolean(0) && rows.head.getString(1) == """{"fact_count":16}""")
      assert(rows.tail.map(_.getString(1)).toSeq ==
        (2010 to 2013).map(y => s"""{"year":$y,"fact_count":4}"""))
    } finally meter.close()
  }

  test("join pruning: summary over fact-only measures joins nothing") {
    val b = starBrowser(JoinMethod.Match)
    val df = b.projectedFrame(Seq("qty"))
    // no join node in the plan — the category table is never read
    assert(!df.queryExecution.optimizedPlan.toString.toLowerCase.contains("join"))
  }

  test("circular expressions refuse cleanly, direct and indirect (reference test_sorted_circular)") {
    def cubeWith(measures: Seq[Measure]): Browser = {
      val c = Cube(name = "facts", factTable = "facts",
        dimensions = Seq(Dimension.flat("year")),
        measures = Measure("amount") +: measures,
        aggregates = Seq(MeasureAggregate("count", function = Some("count"))),
        keyColumn = Some("id"))
      new Browser(c, new StarSchema(c, factsDf, Map("facts" -> factsDf)), spark)
    }
    // direct loop: loop1 -> loop2 -> loop1
    val direct = cubeWith(Seq(
      Measure("loop1", expression = Some("loop2 + 1")),
      Measure("loop2", expression = Some("loop1 + 1"))))
    val e1 = intercept[IllegalArgumentException] {
      direct.projectedFrame(Seq("loop1"))
    }
    assert(e1.getMessage.toLowerCase.contains("circular"))
    // indirect loop through an intermediate
    val indirect = cubeWith(Seq(
      Measure("indirect_loop1", expression = Some("intermediate")),
      Measure("intermediate", expression = Some("indirect_loop1"))))
    val e2 = intercept[IllegalArgumentException] {
      indirect.projectedFrame(Seq("indirect_loop1"))
    }
    assert(e2.getMessage.toLowerCase.contains("circular"))
    // an acyclic chain through the same machinery still works: b -> a
    val ok = cubeWith(Seq(Measure("b", expression = Some("amount + 1"))))
    assert(ok.projectedFrame(Seq("b")).columns.contains("b"))
  }

  test("denormalized browsing: join-free plan, identical results to the star path") {
    // reference is_denormalized/use_denormalization browser option
    // (sql/browser.py:156-159 → DenormalizedMapper, mapper.py:269-276):
    // the browser reads a materialized denormalized table with bare-column
    // mappings and never joins
    import graft.workspace.Workspace
    import graft.materialize.Materialize

    val ws = new Workspace(spark)
      .registerCube(starCube(JoinMethod.Match))
      .registerTable("sales", salesDf)
      .registerTable("category", catDf)
    val star = ws.browser("sales")
    val q01 = (b: Browser) => b.aggregate(
      cell = Cell(PointCut("date", Seq("2010"), invert = true)),
      drilldown = Seq("cat"), aggregates = Seq("qty_sum", "n"),
      order = Seq("cat.key" -> None))
    val starRows = q01(star).cells.collect().toSeq

    // materialize the denormalized star and flip the cube over to it
    val dir = java.nio.file.Files.createTempDirectory("graft-denorm").toString
    Materialize.writeDenormalized(star, dir)
    ws.registerTable("sales_denorm", spark.read.parquet(dir))
      .useDenormalized("sales", "sales_denorm")
    val denorm = ws.browser("sales")

    // identical result rows (same schema, same values, same order)
    val denormResult = q01(denorm).cells
    assert(denormResult.collect().toSeq == starRows)
    // and a genuinely join-free physical plan — the whole point
    val plan = denormResult.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    // facts() and fact-by-key run join-free against the same table too
    assert(denorm.fact(3L).collect().length == 1)
    val factsPlan = denorm.facts(Cell.empty).queryExecution.executedPlan.toString
    assert(!factsPlan.contains("Join"), factsPlan)
  }
}
