package graft

import scala.util.Try

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.storage.RDDBlockId
import graft.auth.HierarchyLimit
import graft.browser.Browser
import graft.cells.CutParser
import graft.model._
import graft.star.StarSchema
import graft.workspace.Workspace

/** The per-cube pre-joined star: a workspace browser answering from it
  * gives the same answers as a browser over the pruned join tree, for
  * random requests of every verb; only a cube whose joins are all
  * verified `match` joins reads it; a small star is read as one
  * partition, so joined requests plan no exchange; a fact-only request
  * reads it once built and never builds it; a lost block is recomputed,
  * not rebuilt; and re-registering a table or switching the cube to a
  * denormalized table drops it. The star is a small TPC-H-shaped one
  * built here. */
class PrejoinedStarSpec extends AnyFunSuite with SharedSpark
    with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE")

  private def tables(lines: Int): Map[String, DataFrame] = Map(
    "region" -> regions.zipWithIndex.map { case (r, i) => (i, r, s"${r}_de") }
      .toDF("r_regionkey", "r_name", "r_name_de"),
    "nation" -> (0 until 8).map(i => (i, s"NATION$i", s"NATION${i}_de", i % 4))
      .toDF("n_nationkey", "n_name", "n_name_de", "n_regionkey"),
    "customer" -> (1 to 16).map(i => (i, s"Customer#$i", i % 8, s"SEG${i % 3}"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment"),
    "part" -> (1 to 10).map(i => (i, s"Part#$i", s"Brand#${i % 4}"))
      .toDF("p_partkey", "p_name", "p_brand"),
    "orders" -> (1 to 40).map(i => (i, 1 + (i * 7) % 16,
      java.sql.Date.valueOf(f"${2020 + i % 3}-${1 + i % 12}%02d-${1 + i % 28}%02d"), s"${"FOP" (i % 3)}"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus"),
    "lineitem" -> (1 to lines).map(i => (i, 1 + (i * 13) % 40, 1 + (i * 3) % 10,
      (i * 17) % 50 + 1, ((i * 31) % 997 + 100).toLong, s"${"ANR" (i % 3)}"))
      .toDF("l_linekey", "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag"))

  private def lvl(dim: String, name: String, attrs: String*): Level =
    Level(name, attrs.map(a => Attribute(a, Some(dim))))

  private val cube: Cube = Cube(
    name = "sales",
    factTable = "lineitem",
    dimensions = Seq(
      Dimension("date", levels = Seq(lvl("date", "year", "year"), lvl("date", "month", "month"))),
      Dimension("customer",
        levels = Seq(
          Level("region", Seq(Attribute("region_name", Some("customer"), locales = Seq("de")))),
          Level("nation", Seq(Attribute("nation_name", Some("customer"), locales = Seq("de")))),
          Level("customer", Seq(Attribute("custkey", Some("customer")),
            Attribute("name", Some("customer"))), labelAttributeName = Some("name"))),
        hierarchies = Seq(Hierarchy("geo", Seq("region", "nation", "customer")))),
      Dimension("part", levels = Seq(lvl("part", "brand", "brand"),
        Level("part", Seq(Attribute("partkey", Some("part")), Attribute("name", Some("part"))),
          labelAttributeName = Some("name")))),
      Dimension.flat("returnflag"),
      Dimension.flat("orderstatus")),
    measures = Seq(Measure("quantity"), Measure("extendedprice"),
      Measure("revenue", expression = Some("extendedprice * quantity"))),
    aggregates = Seq(
      MeasureAggregate("fact_count", function = Some("count")),
      MeasureAggregate("quantity_sum", function = Some("sum"), measure = Some("quantity")),
      MeasureAggregate("price_avg", function = Some("avg"), measure = Some("extendedprice")),
      MeasureAggregate("price_max", function = Some("max"), measure = Some("extendedprice")),
      MeasureAggregate("revenue_sum", function = Some("sum"), measure = Some("revenue")),
      // a key-only reference: the part join is eliminated from its tree
      MeasureAggregate("parts", function = Some("count_distinct"), measure = Some("part.partkey"))),
    joins = Seq(
      JoinSpec("lineitem", Seq("l_orderkey"), "orders", Seq("o_orderkey"), integrity = Some("verified")),
      JoinSpec("orders", Seq("o_custkey"), "customer", Seq("c_custkey"), integrity = Some("verified")),
      JoinSpec("customer", Seq("c_nationkey"), "nation", Seq("n_nationkey"), integrity = Some("verified")),
      JoinSpec("nation", Seq("n_regionkey"), "region", Seq("r_regionkey"), integrity = Some("verified")),
      JoinSpec("lineitem", Seq("l_partkey"), "part", Seq("p_partkey"), integrity = Some("verified"))),
    mappings = Map(
      "date.year" -> PhysicalRef("orders", "o_orderdate", extract = Some("year")),
      "date.month" -> PhysicalRef("orders", "o_orderdate", extract = Some("month")),
      "customer.region_name" -> PhysicalRef("region", "r_name"),
      "customer.nation_name" -> PhysicalRef("nation", "n_name"),
      "customer.custkey" -> PhysicalRef("customer", "c_custkey"),
      "customer.name" -> PhysicalRef("customer", "c_name"),
      "part.brand" -> PhysicalRef("part", "p_brand"),
      "part.partkey" -> PhysicalRef("part", "p_partkey"),
      "part.name" -> PhysicalRef("part", "p_name"),
      "returnflag" -> PhysicalRef("lineitem", "l_returnflag"),
      "orderstatus" -> PhysicalRef("orders", "o_orderstatus"),
      "quantity" -> PhysicalRef("lineitem", "l_quantity"),
      "extendedprice" -> PhysicalRef("lineitem", "l_extendedprice")),
    keyColumn = Some("l_linekey"))

  private lazy val base = tables(120)

  private def workspace(c: Cube, t: Map[String, DataFrame] = base): Workspace = {
    val ws = new Workspace(spark).registerCube(c)
    t.foreach { case (n, df) => ws.registerTable(n, df) }
    ws
  }

  /** A browser of the workspace and its twin over the join tree. */
  private final case class Variant(restriction: String, locale: Option[String],
      limits: Seq[HierarchyLimit]) {
    def of(ws: Workspace, c: Cube): (Browser, Browser) = {
      val cell = CutParser.parseCell(restriction)
      (ws.browser(c.name, cell, locale, limits),
        new Browser(c, new StarSchema(c, base(c.factTable), base), spark,
          restrictionCell = cell, locale = locale, hierarchyLimits = limits))
    }
  }

  private val variants = Seq(
    Variant("", None, Nil),
    Variant("customer:EUROPE", None, Nil),
    Variant("", Some("de"), Nil),
    Variant("", None, Seq(HierarchyLimit("customer", Some("geo"), Some("nation")))))

  private val cuts = Seq("customer:ASIA", "customer:EUROPE,NATION3", "!customer:AMERICA",
    "date:2021", "date:2020-2021", "date:2022,3", "part:Brand#1;Brand#2", "returnflag:A",
    "orderstatus:F")
  private val drilldowns = Seq("customer", "customer:region", "customer:nation", "part:brand",
    "part", "date:year", "date:month", "returnflag", "orderstatus")
  private val aggregateNames = cube.aggregates.map(_.name)

  private val genCell: Gen[String] =
    Gen.choose(0, 2).flatMap(n => Gen.pick(n, cuts)).map(_.mkString("|"))
  private val genPage: Gen[(Option[Int], Option[Int])] = Gen.oneOf(
    Gen.const((None, None)),
    for { p <- Gen.choose(0, 3); n <- Gen.choose(1, 6) } yield (Some(p), Some(n)))

  /** One request: a name for the failure message and the answer it reads
    * off a browser (rows in response order). */
  private final case class Req(name: String, answer: Browser => Seq[String])

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  private val genAggregate: Gen[Req] = for {
    cell <- genCell
    dd <- Gen.choose(0, 2).flatMap(n => Gen.pick(n, drilldowns)).map(_.toSeq)
    aggs <- Gen.oneOf(Gen.const(Seq.empty[String]),
      Gen.choose(1, 3).flatMap(n => Gen.pick(n, aggregateNames)).map(_.toSeq))
    split <- Gen.option(Gen.oneOf(cuts))
    (page, size) <- genPage
  } yield Req(s"aggregate cell=$cell dd=$dd aggs=$aggs split=$split page=$page/$size", { b =>
    val r = b.aggregate(CutParser.parseCell(cell), dd, aggs,
      split.map(CutParser.parseCell), page = page, pageSize = size)
    rows(r.cells) ++ r.summary.toSeq.flatMap(rows) ++ rows(r.rows())
  })

  private val genFacts: Gen[Req] = for {
    cell <- genCell
    fields <- Gen.oneOf(Gen.const(Seq.empty[String]), Gen.choose(1, 4)
      .flatMap(n => Gen.pick(n, cube.allAttributes.keys.toSeq.sorted)).map(_.toSeq))
    (page, size) <- genPage
  } yield Req(s"facts cell=$cell fields=$fields page=$page/$size",
    b => rows(b.facts(CutParser.parseCell(cell), fields, page = page, pageSize = size)))

  private val genFact: Gen[Req] =
    Gen.choose(0, 125).map(k => Req(s"fact $k", b => rows(b.fact(k))))

  private val genMembers: Gen[Req] = for {
    cell <- genCell
    dim <- Gen.oneOf("customer", "part", "date")
    depth <- Gen.option(Gen.choose(1, 3))
    (page, size) <- genPage
  } yield Req(s"members $dim depth=$depth cell=$cell page=$page/$size", { b =>
    val d = depth.map(math.min(_, cube.dimension(dim).hierarchy(None).levelNames.size))
    rows(b.members(CutParser.parseCell(cell), dim, d, page = page, pageSize = size))
  })

  private val genCellDetails: Gen[Req] = genCell.map(cell =>
    Req(s"cell $cell", b => b.cellDetails(CutParser.parseCell(cell)).map(_.toString)))

  private val genReq: Gen[Req] = Gen.frequency(
    5 -> genAggregate, 2 -> genFacts, 1 -> genFact, 2 -> genMembers, 1 -> genCellDetails)

  /** The answer, or the failure's class: both sides must refuse alike. */
  private def outcome(req: Req, b: Browser): Either[String, Seq[String]] =
    Try(req.answer(b)).toEither.left.map(_.getClass.getName)

  private def joinsIn(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case p if p.nodeName == "Join" => p }.size

  /** The LogicalRDD leaves of `df`'s plan: a star read. */
  private def starLeaves(df: DataFrame): Seq[LogicalRDD] =
    df.queryExecution.optimizedPlan.collect { case l: LogicalRDD => l }

  /** `df` run, and the exchanges and RDD scans of its final plan (query
    * stages included). */
  private def executed(df: DataFrame): (Seq[Exchange], Seq[RDDScanExec]) = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    (collect(plan) { case e: Exchange => e }, collect(plan) { case s: RDDScanExec => s })
  }

  test("random requests of every verb answer from the pre-joined star as from the join tree") {
    val ws = workspace(cube)
    val samples = (1L to 48L).map(i =>
      (genReq.pureApply(Gen.Parameters.default, Seed(i)), variants((i % variants.size).toInt)))
    val answered = samples.count { case (req, v) =>
      val (prejoined, tree) = v.of(ws, cube)
      val out = outcome(req, prejoined)
      assert(out == outcome(req, tree), s"${req.name} under $v")
      out.isRight
    }
    // the property is not carried by requests both sides refuse
    assert(answered >= samples.size * 3 / 4, s"$answered of ${samples.size} answered")
    val star = ws.prejoinedStar("sales").get
    assert(star.buildCount == 1, "every browser of the cube shares one star")
    // a joined request reads the star, with no join left in its plan; so
    // does a fact-only one, now that the star is built
    val (b, _) = variants.head.of(ws, cube)
    val joined = b.aggregate(drilldown = Seq("customer:region")).cells
    assert(joinsIn(joined) == 0 && joinsIn(variants.head.of(ws, cube)._2
      .aggregate(drilldown = Seq("customer:region")).cells) == 4)
    assert(starLeaves(joined).nonEmpty)
    assert(starLeaves(b.aggregate(drilldown = Seq("returnflag")).cells).nonEmpty)
  }

  test("a small star is one partition: joined aggregate, members and facts plan no exchange") {
    val ws = workspace(cube)
    val b = ws.browser("sales")
    val requests = Seq(
      "aggregate" -> b.aggregate(CutParser.parseCell("date:2021"),
        Seq("customer:region", "part:brand"), Seq("fact_count", "price_avg", "parts")).cells,
      "members" -> b.members(CutParser.parseCell("customer:ASIA"), "customer", Some(2)),
      "facts" -> b.facts(CutParser.parseCell("customer:EUROPE"),
        Seq("customer.name", "part.brand"), page = Some(1), pageSize = Some(5)))
    requests.foreach { case (verb, df) =>
      assert(joinsIn(df) == 0, verb)
      val (exchanges, scans) = executed(df)
      assert(exchanges.isEmpty, s"$verb: ${exchanges.map(_.nodeName)}")
      assert(scans.nonEmpty && scans.forall(s =>
        s.outputPartitioning == SinglePartition && s.rdd.getNumPartitions == 1), verb)
    }
    // one partition is a view of the persisted rows, not a second copy
    val star = ws.prejoinedStar("sales").get
    assert(star.buildCount == 1 && star.built.get.getNumPartitions > 1)
  }

  test("a star above the session's broadcast threshold keeps its partitions and answers alike") {
    val ws = workspace(cube)
    val tree = new Browser(cube, new StarSchema(cube, base("lineitem"), base), spark)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // under the star's 34 KB, over every dimension table: the joins stay
    // broadcast and the star keeps the fact's partitions
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16k")
    try {
      val b = ws.browser("sales")
      val joined = b.aggregate(drilldown = Seq("customer:nation", "date:year"))
      val answer = rows(joined.cells) ++ rows(joined.summary.get)
      val star = ws.prejoinedStar("sales").get
      val parts = star.built.get.getNumPartitions
      assert(parts > 1)
      assert(starLeaves(joined.cells).map(_.rdd.getNumPartitions) == Seq(parts))
      val (_, scans) = executed(joined.cells)
      assert(scans.nonEmpty && scans.forall(_.outputPartitioning != SinglePartition))
      val expected = tree.aggregate(drilldown = Seq("customer:nation", "date:year"))
      assert(answer == rows(expected.cells) ++ rows(expected.summary.get))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("a fact-only request reads the fact scan until a joined request has built the star") {
    val ws = workspace(cube)
    val b = ws.browser("sales")
    val star = ws.prejoinedStar("sales").get
    def factOnly = b.aggregate(drilldown = Seq("returnflag"),
      aggregates = Seq("fact_count", "quantity_sum"))
    def answer(r: graft.browser.AggregationResult) = rows(r.cells) ++ rows(r.summary.get)
    val before = factOnly
    assert(starLeaves(before.cells).isEmpty && joinsIn(before.cells) == 0)
    val fromScan = answer(before)
    assert(star.buildCount == 0, "a fact-only request never builds the star")
    rows(b.aggregate(drilldown = Seq("customer:region")).cells)
    assert(star.buildCount == 1)
    val after = factOnly
    assert(starLeaves(after.cells).nonEmpty)
    assert(answer(after) == fromScan)
    assert(star.buildCount == 1)
  }

  test("a cube with one unverified join never reads the star") {
    val unverified = cube.copy(joins = cube.joins.map(j =>
      if (j.detailTable == "part") j.copy(integrity = None) else j))
    val ws = workspace(unverified)
    (1L to 12L).map(i => genReq.pureApply(Gen.Parameters.default, Seed(100 + i))).foreach { req =>
      val (b, tree) = variants.head.of(ws, unverified)
      assert(outcome(req, b) == outcome(req, tree), req.name)
    }
    val (b, _) = variants.head.of(ws, unverified)
    // orders, customer, nation, region and the unverified part join
    assert(joinsIn(b.aggregate(drilldown = Seq("customer:region")).cells) == 5)
    assert(ws.prejoinedStar("sales").forall(_.buildCount == 0))
  }

  test("a lost block of the star is recomputed on the next request, not rebuilt") {
    val ws = workspace(cube)
    val b = ws.browser("sales")
    def regionCounts = rows(b.aggregate(drilldown = Seq("customer:region")).cells)
    val before = regionCounts
    val star = ws.prejoinedStar("sales").get
    val rdd = star.built.get
    // requests read the persisted rows through the one-partition view
    assert(starLeaves(b.aggregate(drilldown = Seq("customer:region")).cells)
      .map(_.rdd.getNumPartitions) == Seq(1) && rdd.getNumPartitions > 1)
    val blocks = rdd.partitions.indices.map(RDDBlockId(rdd.id, _))
    def cachedPartitions: Int = blocks.count(SparkEnv.get.blockManager.master.contains)
    assert(cachedPartitions == blocks.size)
    // block by block, so the RDD keeps its storage level (an unpersist
    // would not)
    blocks.foreach(SparkEnv.get.blockManager.removeBlock(_))
    assert(cachedPartitions == 0)
    assert(regionCounts == before)
    assert(star.buildCount == 1)
    assert(cachedPartitions == blocks.size)
  }

  test("re-registering a table drops the cube's browsers and star: browsing sees the new rows") {
    val ws = workspace(cube)
    def counts(b: Browser): (Long, Long) = {
      val total = b.aggregate(aggregates = Seq("fact_count")).summary.get.collect().head.getLong(0)
      val joined = b.aggregate(drilldown = Seq("customer:region"), aggregates = Seq("fact_count"))
        .cells.collect().map(_.getLong(1)).sum
      (total, joined)
    }
    val v1 = ws.browser("sales")
    assert(counts(v1) == ((120L, 120L)))
    val star1 = ws.prejoinedStar("sales").get
    ws.registerTable("lineitem", tables(90)("lineitem"))
    val v2 = ws.browser("sales")
    assert(v2 ne v1)
    assert(counts(v2) == ((90L, 90L)))
    assert(star1.built.isEmpty, "the old star is released")
    assert(ws.prejoinedStar("sales").exists(s => (s ne star1) && s.buildCount == 1))
    // a browser held across the re-registration answers from its own
    // tables through the join tree
    assert(counts(v1) == ((120L, 120L)))
    assert(star1.buildCount == 1)
  }

  test("switching the cube to a denormalized table drops its star") {
    val denorm = new Browser(cube, new StarSchema(cube, base("lineitem"), base), spark)
      .projectedFrame(cube.allAttributes.keys.toSeq.sorted, includeFactKey = true)
    val ws = workspace(cube, base + ("sales_denorm" -> denorm))
    ws.browser("sales").aggregate(drilldown = Seq("customer:region")).cells.collect()
    val star = ws.prejoinedStar("sales").get
    assert(star.built.nonEmpty)
    ws.useDenormalized("sales", "sales_denorm")
    assert(star.built.isEmpty)
    val b = ws.browser("sales")
    assert(rows(b.aggregate(drilldown = Seq("customer:region"), aggregates = Seq("fact_count")).cells)
      .nonEmpty)
    assert(ws.prejoinedStar("sales").forall(_.buildCount == 0))
  }
}
