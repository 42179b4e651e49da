package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.browser.Browser
import graft.functions.AggFunctions
import graft.model._
import graft.star.StarSchema

/** ServiceLoader extension discovery (reference `ext.py:24-75` pkg_resources
  * entry points): a provider on the classpath contributes aggregate
  * functions that dispatch through the normal model/browser path. */
class ExtensionSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("provider-contributed aggregate is discovered and registered") {
    assert(AggFunctions.builders.contains("geomean"))
    assert(AggFunctions.isRegistered("geomean"))
  }

  test("cross-registry clash: provider aggregate wins over provider calculator") {
    import graft.functions.WindowCalcs
    // TestWindowCalcProvider also claims "geomean" (already a discovered
    // AGGREGATE); the window registration must be dropped, or dispatch —
    // which consults isWindowFunction first — would reroute every plain
    // geomean through the window path
    assert(AggFunctions.isRegistered("geomean"))
    assert(!WindowCalcs.isWindowFunction("geomean"))
  }

  test("built-in names shadow provider clashes") {
    // TestAggProvider also claims "sum" (constant -1); the exact-decimal
    // built-in must win
    val df = Seq(1.0, 2.0, 3.0).toDF("x")
    val got = df.agg(AggFunctions.builders("sum")(
      org.apache.spark.sql.functions.col("x"),
      org.apache.spark.sql.types.DoubleType)).collect()(0).getDouble(0)
    assert(got == 6.0)
  }

  test("provider-contributed window calculator dispatches through a drilldown") {
    import graft.functions.WindowCalcs
    assert(WindowCalcs.isWindowFunction("smmax"))
    val facts = Seq((2020, 5.0), (2021, 9.0), (2022, 3.0), (2023, 7.0))
      .toDF("year", "x")
    val cube = Cube(
      name = "w", factTable = "w",
      dimensions = Seq(Dimension.flat("year")),
      measures = Seq(Measure("x")),
      aggregates = Seq(
        MeasureAggregate("x_sum", function = Some("sum"), measure = Some("x")),
        MeasureAggregate("x_smmax", function = Some("smmax"),
          measure = Some("x_sum"), windowSize = Some(2))))
    val b = new Browser(cube, new StarSchema(cube, facts, Map("w" -> facts)), spark)
    val rows = b.aggregate(drilldown = Seq("year"),
      aggregates = Seq("x_sum", "x_smmax")).cells.collect()
      .map(r => r.getAs[Int]("year") -> r.getAs[Double]("x_smmax")).toMap
    // moving max over the 2-row frame along years
    assert(rows == Map(2020 -> 5.0, 2021 -> 9.0, 2022 -> 9.0, 2023 -> 7.0))
  }

  test("custom aggregate dispatches end-to-end through a cube browse") {
    val facts = Seq((1, 2.0), (1, 8.0), (2, 4.0), (2, 16.0))
      .toDF("grp", "x")
    val cube = Cube(
      name = "t", factTable = "t",
      dimensions = Seq(Dimension.flat("grp")),
      measures = Seq(Measure("x")),
      aggregates = Seq(
        MeasureAggregate("x_geomean", function = Some("geomean"),
          measure = Some("x"))))
    val b = new Browser(cube, new StarSchema(cube, facts, Map("t" -> facts)), spark)
    val rows = b.aggregate(drilldown = Seq("grp"), aggregates = Seq("x_geomean"))
      .cells.collect()
    val byGrp = rows.map(r => r.getAs[Int]("grp") -> r.getAs[Double]("x_geomean")).toMap
    assert(math.abs(byGrp(1) - 4.0) < 1e-9)  // √(2·8)
    assert(math.abs(byGrp(2) - 8.0) < 1e-9)  // √(4·16)
  }

  test("GraftSqlExtensions registers the native expressions for pure SQL") {
    graft.functions.GraftSqlExtensions.register(spark)
    // SQL path ≡ Column API path, same codegen'd expression underneath
    val viaSql = spark.sql(
      "SELECT graft_poly_hash('hello world') AS h, " +
        "graft_minhash_sig('a b c d e', 4, 2) AS sig, " +
        "graft_cdc_chunks('abcdefghijklmnopqrstuvwxyz', 4, 8) AS ch")
      .collect().head
    assert(viaSql.getAs[Long]("h") ==
      graft.functions.HashImpls.polyHash("hello world"))
    assert(viaSql.getSeq[Long](viaSql.fieldIndex("sig")) ==
      graft.functions.HashImpls
        .minhashSignature("a b c d e", 4, 2).toSeq)
    assert(viaSql.getSeq[org.apache.spark.sql.Row](viaSql.fieldIndex("ch"))
      .map(_.getAs[Int]("len")).sum == 26)
    // DESCRIBE metadata surfaces the registered usage text
    val desc = spark.sql("DESCRIBE FUNCTION graft_poly_hash")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("graft_poly_hash"))
  }

  test("GraftSqlExtensions applies through the session-construction hook") {
    // force a NEW SparkSession object on the existing context so the
    // builder actually constructs one and runs the extensions hook.
    // (The equivalent spark.sql.extensions=graft.functions.
    // GraftSqlExtensions conf applies on a fresh SparkContext — a test
    // JVM's context predates this test, so exercise withExtensions,
    // which drives the same injectFunction path.)
    val prev = spark // keep the shared session alive
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val fresh = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.functions.GraftSqlExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      assert(fresh ne prev)
      val h = fresh.sql("SELECT graft_simhash32('some text here') AS s")
        .collect().head.getAs[Long]("s")
      val expect = prev.range(1).select(
        graft.ops.Dedup.simhash32(
          org.apache.spark.sql.functions.lit("some text here")).as("s"))
        .collect().head.getAs[Long]("s")
      assert(h == expect)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("parameter arguments must be integer literals (analysis-time error)") {
    graft.functions.GraftSqlExtensions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_minhash_sig('x', length('ab'), 2)").collect()
    }
    assert(e.getMessage.contains("integer literal") ||
      e.getMessage.contains("numPerms"))
  }
}
