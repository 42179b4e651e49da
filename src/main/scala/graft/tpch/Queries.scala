package graft.tpch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cells._
import graft.model.JoinMethod
import graft.formats.CrossTable
import graft.functions.AggFunctions

/** The correctness-gate query catalog: one [[Gate]] per operator from
  * SURVEY.md §2, each holding its DuckDB oracle SQL over the same parquet
  * tables.
  *
  * Numeric discipline (see [[graft.functions.AggFunctions]]): float sums go
  * through exact DECIMAL accumulation on BOTH sides, so values are
  * bit-identical regardless of partitioning/order; avg and var/stddev are
  * derived from exact component sums with the same fixed double formula on
  * both sides. Every query carries a total deterministic ORDER BY.
  */
object Queries {

  private def b(spark: SparkSession, dir: String) = TpchModel.browser(spark, dir)

  // ---- DuckDB-side canonical aggregate spellings (must mirror AggFunctions)
  private def dsum(x: String): String =
    s"CAST(SUM(CAST($x AS DECIMAL(22,4))) AS DOUBLE)"
  private def davg(x: String): String =
    s"CAST(SUM(CAST($x AS DECIMAL(22,4))) AS DOUBLE) / COUNT($x)"
  private def dvar(x: String): String = {
    val s = s"CAST(SUM(CAST($x AS DECIMAL(18,0))) AS DOUBLE)"
    val q = s"CAST(SUM(CAST($x AS DECIMAL(18,0)) * CAST($x AS DECIMAL(18,0))) AS DOUBLE)"
    s"CASE WHEN COUNT($x) > 1 THEN ($q - $s * $s / COUNT($x)) / (COUNT($x) - 1) END"
  }
  private def dstd(x: String): String = s"SQRT(${dvar(x)})"
  private def dyear(x: String): String = s"CAST(EXTRACT(year FROM $x) AS BIGINT)"
  private def dquarter(x: String): String = s"CAST(EXTRACT(quarter FROM $x) AS BIGINT)"
  private def dmonth(x: String): String = s"CAST(EXTRACT(month FROM $x) AS BIGINT)"

  private val custJoin =
    """FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey""".stripMargin

  /** Every gate of this catalog in query-number order: each Spark query
    * next to the DuckDB oracle SQL that replays it. */
  val registry: Seq[Gate] = Gate.registry(
    // ---------------------------------------------------------- OLAP core
    // A1/J1/J2/F1: drilldown aggregation through the pruned snowflake
    Gate("q01_agg_drilldown", (s, dir) =>
      b(s, dir).aggregate(
        cell = Cell(PointCut("customer", Seq("ASIA"))),
        drilldown = Seq("date:month"),
        aggregates = Seq("quantity_sum", "price_sum", "fact_count")
      ).cells,
    oracle =
      s"""SELECT ${dyear("o_orderdate")} AS "date.year",
         |  ${dquarter("o_orderdate")} AS "date.quarter",
         |  ${dmonth("o_orderdate")} AS "date.month",
         |  ${dsum("l_quantity")} AS quantity_sum,
         |  ${dsum("l_extendedprice")} AS price_sum,
         |  COUNT(1) AS fact_count
         |$custJoin
         |WHERE r_name = 'ASIA'
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // A2: summary aggregation (grand total, no drilldown)
    Gate("q02_agg_summary", (s, dir) =>
      b(s, dir).aggregate(
        cell = Cell(PointCut("customer", Seq("ASIA"))),
        aggregates = Seq("quantity_sum", "price_sum", "fact_count")
      ).cells,
    oracle =
      s"""SELECT ${dsum("l_quantity")} AS quantity_sum,
         |  ${dsum("l_extendedprice")} AS price_sum,
         |  COUNT(1) AS fact_count
         |$custJoin
         |WHERE r_name = 'ASIA'""".stripMargin),

    // F1 invert: negated point cut; implicit drilldown level (first level)
    Gate("q03_point_cut_invert", (s, dir) =>
      b(s, dir).aggregate(
        cell = Cell(PointCut("customer", Seq("ASIA"), invert = true)),
        drilldown = Seq("customer"),
        aggregates = Seq("fact_count", "quantity_sum")
      ).cells,
    // bare `customer` drilldown under a depth-1 cut drills to the NEXT
    // level (nation) — implicit depth counts inverted cuts too, like the
    // reference's cell.level_depths()
    oracle =
      s"""SELECT r_name AS "customer.region_name",
         |  n_name AS "customer.nation_name",
         |  COUNT(1) AS fact_count, ${dsum("l_quantity")} AS quantity_sum
         |$custJoin
         |WHERE NOT (r_name = 'ASIA')
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // F2: depth-1 set cut compiles to one typed IN-list
    Gate("q04_set_cut", (s, dir) =>
      b(s, dir).aggregate(
        cell = Cell(SetCut("customer", Seq(Seq("ASIA"), Seq("EUROPE")))),
        drilldown = Seq("customer:nation"),
        aggregates = Seq("fact_count")
      ).cells,
    oracle =
      s"""SELECT r_name AS "customer.region_name",
         |  n_name AS "customer.nation_name", COUNT(1) AS fact_count
         |$custJoin
         |WHERE r_name IN ('ASIA', 'EUROPE')
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // F3: hierarchical range cut (lexicographic recursion), join-free dim
    Gate("q05_range_cut", (s, dir) =>
      b(s, dir).aggregate(
        cell = Cell(RangeCut("shipdate", Some(Seq("1995", "2")), Some(Seq("1996", "3")))),
        drilldown = Seq("shipdate:quarter"),
        aggregates = Seq("quantity_sum", "fact_count")
      ).cells,
    oracle =
      s"""SELECT ${dyear("l_shipdate")} AS "shipdate.year",
         |  ${dquarter("l_shipdate")} AS "shipdate.quarter",
         |  ${dsum("l_quantity")} AS quantity_sum, COUNT(1) AS fact_count
         |FROM lineitem
         |WHERE ((${dyear("l_shipdate")} = 1995 AND ${dquarter("l_shipdate")} >= 2)
         |       OR ${dyear("l_shipdate")} > 1995)
         |  AND ((${dyear("l_shipdate")} = 1996 AND ${dquarter("l_shipdate")} <= 3)
         |       OR ${dyear("l_shipdate")} < 1996)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // F3: open-ended range (upper bound only)
    Gate("q06_range_open", (s, dir) =>
      b(s, dir).aggregate(
        cell = Cell(RangeCut("shipdate", None, Some(Seq("1996")))),
        drilldown = Seq("shipdate:year"),
        aggregates = Seq("quantity_sum", "fact_count")
      ).cells,
    oracle =
      s"""SELECT ${dyear("l_shipdate")} AS "shipdate.year",
         |  ${dsum("l_quantity")} AS quantity_sum, COUNT(1) AS fact_count
         |FROM lineitem
         |WHERE ${dyear("l_shipdate")} <= 1996
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // F4: conjunction of point + flat + range cuts
    Gate("q07_multi_cut", (s, dir) =>
      b(s, dir).aggregate(
        cell = Cell(Seq(
          PointCut("customer", Seq("ASIA")),
          PointCut("returnflag", Seq("R")),
          RangeCut("shipdate", Some(Seq("1997")), None))),
        drilldown = Seq("customer:nation"),
        aggregates = Seq("fact_count", "revenue_sum")
      ).cells,
    oracle =
      s"""SELECT r_name AS "customer.region_name",
         |  n_name AS "customer.nation_name",
         |  COUNT(1) AS fact_count,
         |  ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue_sum
         |$custJoin
         |WHERE r_name = 'ASIA' AND l_returnflag = 'R'
         |  AND ${dyear("l_shipdate")} >= 1997
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // F5: split pseudo-dimension
    Gate("q08_split", (s, dir) =>
      b(s, dir).aggregate(
        cell = Cell.empty,
        drilldown = Seq("returnflag"),
        aggregates = Seq("fact_count", "quantity_sum"),
        split = Some(Cell(RangeCut("shipdate", Some(Seq("1999")), None)))
      ).cells,
    oracle =
      s"""SELECT (${dyear("l_shipdate")} >= 1999) AS "__within_split__",
         |  l_returnflag AS returnflag,
         |  COUNT(1) AS fact_count, ${dsum("l_quantity")} AS quantity_sum
         |FROM lineitem
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // A12: distinct members of a hierarchy prefix within a cell
    Gate("q09_members", (s, dir) =>
      b(s, dir).members(
        cell = Cell(SetCut("customer", Seq(Seq("ASIA"), Seq("AFRICA")))),
        dimName = "customer", depth = Some(2)),
    oracle =
      s"""SELECT DISTINCT r_name AS "customer.region_name",
         |  n_name AS "customer.nation_name"
         |$custJoin
         |WHERE r_name IN ('ASIA', 'AFRICA')
         |ORDER BY 1, 2""".stripMargin),

    // A3-A8: the full builtin aggregate set
    Gate("q10_agg_functions", (s, dir) =>
      b(s, dir).aggregate(
        drilldown = Seq("returnflag"),
        aggregates = Seq("fact_count", "price_avg", "price_min", "price_max",
          "price_stddev", "price_variance", "discount_avg", "parts")
      ).cells,
    oracle =
      s"""SELECT l_returnflag AS returnflag,
         |  COUNT(1) AS fact_count,
         |  ${davg("l_extendedprice")} AS price_avg,
         |  MIN(l_extendedprice) AS price_min,
         |  MAX(l_extendedprice) AS price_max,
         |  ${dstd("l_extendedprice")} AS price_stddev,
         |  ${dvar("l_extendedprice")} AS price_variance,
         |  ${davg("l_discount")} AS discount_avg,
         |  COUNT(DISTINCT l_partkey) AS parts
         |FROM lineitem
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // P1/F6: denormalized fact stream with field selection
    Gate("q11_facts_fields", (s, dir) =>
      b(s, dir).facts(
        cell = Cell(Seq(PointCut("customer", Seq("ASIA")),
          PointCut("shipdate", Seq("1995")))),
        fields = Seq("customer.nation_name", "returnflag", "quantity",
          "extendedprice"),
        order = Seq(("__fact_key__", None), ("customer.nation_name", None),
          ("returnflag", None), ("quantity", None), ("extendedprice", None))),
    oracle =
      s"""SELECT l_orderkey AS "__fact_key__",
         |  n_name AS "customer.nation_name",
         |  l_returnflag AS returnflag,
         |  l_quantity AS quantity,
         |  l_extendedprice AS extendedprice
         |$custJoin
         |WHERE r_name = 'ASIA' AND ${dyear("l_shipdate")} = 1995
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin),

    // F6 + full star: single fact by key, every join incl. aliased
    // supplier-side nation/region
    Gate("q12_fact_by_key", (s, dir) =>
      b(s, dir).fact(7L)
        .select(Seq("__fact_key__", "date.year", "shipdate.year",
          "customer.nation_name", "customer.region_name",
          "supplier.nation_name", "supplier.region_name", "part.brand",
          "returnflag", "linestatus", "quantity", "extendedprice", "revenue")
          .map(c => col(s"`$c`")): _*)
        .orderBy(Seq("quantity", "extendedprice", "part.brand",
          "supplier.nation_name").map(c => col(s"`$c`").asc): _*),
    oracle =
      s"""SELECT l_orderkey AS "__fact_key__",
         |  ${dyear("o_orderdate")} AS "date.year",
         |  ${dyear("l_shipdate")} AS "shipdate.year",
         |  cn.n_name AS "customer.nation_name",
         |  cr.r_name AS "customer.region_name",
         |  sn.n_name AS "supplier.nation_name",
         |  sr.r_name AS "supplier.region_name",
         |  p_brand AS "part.brand",
         |  l_returnflag AS returnflag, l_linestatus AS linestatus,
         |  l_quantity AS quantity, l_extendedprice AS extendedprice,
         |  l_extendedprice * (1 - l_discount) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN region cr ON cn.n_regionkey = cr.r_regionkey
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |JOIN region sr ON sn.n_regionkey = sr.r_regionkey
         |WHERE l_orderkey = 7
         |ORDER BY l_quantity, l_extendedprice, p_brand, sn.n_name""".stripMargin),

    // O1/O6: explicit descending order + top-k
    Gate("q13_topk", (s, dir) =>
      b(s, dir).aggregate(
        drilldown = Seq("customer:nation"),
        aggregates = Seq("revenue_sum"),
        order = Seq(("revenue_sum", Some("desc")), ("customer.nation_name", None)),
        pageSize = Some(5)
      ).cells,
    oracle =
      s"""SELECT r_name AS "customer.region_name",
         |  n_name AS "customer.nation_name",
         |  ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue_sum
         |$custJoin
         |GROUP BY 1, 2
         |ORDER BY revenue_sum DESC, "customer.nation_name"
         |LIMIT 5""".stripMargin),

    // O4: pagination (page 2 of 5)
    Gate("q14_paginate", (s, dir) =>
      b(s, dir).aggregate(
        drilldown = Seq("customer:nation"),
        aggregates = Seq("fact_count"),
        order = Seq(("customer.nation_name", None), ("customer.region_name", None)),
        page = Some(1), pageSize = Some(5)
      ).cells,
    oracle =
      s"""SELECT r_name AS "customer.region_name",
         |  n_name AS "customer.nation_name", COUNT(1) AS fact_count
         |$custJoin
         |GROUP BY 1, 2
         |ORDER BY "customer.nation_name", "customer.region_name"
         |LIMIT 5 OFFSET 5""".stripMargin),

    // A9/P2: sum over a derived measure expression
    Gate("q15_derived_revenue", (s, dir) =>
      b(s, dir).aggregate(
        drilldown = Seq("customer"),
        aggregates = Seq("revenue_sum", "fact_count")
      ).cells,
    oracle =
      s"""SELECT r_name AS "customer.region_name",
         |  ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue_sum,
         |  COUNT(1) AS fact_count
         |$custJoin
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // A9: aggregate defined by an expression over aggregate functions
    Gate("q16_expr_aggregate", (s, dir) =>
      b(s, dir).aggregate(
        drilldown = Seq("returnflag"),
        aggregates = Seq("price_range", "fact_count")
      ).cells,
    oracle =
      s"""SELECT l_returnflag AS returnflag,
         |  MAX(l_extendedprice) - MIN(l_extendedprice) AS price_range,
         |  COUNT(1) AS fact_count
         |FROM lineitem
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // J3: master join method → LEFT OUTER
    Gate("q17_join_master", (s, dir) =>
      TpchModel.browserFor(TpchModel.cubeWithJoinMethod("part", JoinMethod.Master), s, dir)
        .aggregate(
          drilldown = Seq("part:brand"),
          aggregates = Seq("fact_count", "quantity_sum")
        ).cells,
    oracle =
      s"""SELECT p_brand AS "part.brand",
         |  COUNT(1) AS fact_count, ${dsum("l_quantity")} AS quantity_sum
         |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // J3: detail join method → RIGHT OUTER
    Gate("q18_join_detail", (s, dir) =>
      TpchModel.browserFor(TpchModel.cubeWithJoinMethod("part", JoinMethod.Detail), s, dir)
        .aggregate(
          drilldown = Seq("part:brand"),
          aggregates = Seq("fact_count", "quantity_sum")
        ).cells,
    oracle =
      s"""SELECT p_brand AS "part.brand",
         |  COUNT(1) AS fact_count, ${dsum("l_quantity")} AS quantity_sum
         |FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // F7: exclude result rows whose aggregates are all NULL
    Gate("q19_null_agg_filter", (s, dir) =>
      TpchModel.browserFor(TpchModel.cube, s, dir, excludeNullAggregates = true)
        .aggregate(
          drilldown = Seq("part:brand", "returnflag"),
          aggregates = Seq("price_hi_sum")
        ).cells,
    oracle =
      s"""SELECT p_brand AS "part.brand", l_returnflag AS returnflag,
         |  ${dsum("CASE WHEN l_extendedprice > 104900 THEN l_extendedprice END")} AS price_hi_sum
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1, 2
         |HAVING ${dsum("CASE WHEN l_extendedprice > 104900 THEN l_extendedprice END")} IS NOT NULL
         |ORDER BY 1, 2""".stripMargin),

    // A13: rollup cuboids with grouping indicator
    Gate("q20_rollup", (s, dir) =>
      b(s, dir).aggregateCuboids(
        drilldown = Seq("returnflag", "linestatus"),
        aggregates = Seq("quantity_sum", "fact_count"),
        kind = "rollup"),
    oracle =
      s"""SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
         |  ${dsum("l_quantity")} AS quantity_sum, COUNT(1) AS fact_count,
         |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS "__gid__"
         |FROM lineitem
         |GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY "__gid__", 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin),

    // A13: full cube
    Gate("q21_cube", (s, dir) =>
      b(s, dir).aggregateCuboids(
        drilldown = Seq("returnflag", "linestatus"),
        aggregates = Seq("fact_count"),
        kind = "cube"),
    oracle =
      s"""SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
         |  COUNT(1) AS fact_count,
         |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS "__gid__"
         |FROM lineitem
         |GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY "__gid__", 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin),

    // A13: explicit grouping sets
    Gate("q22_grouping_sets", (s, dir) =>
      b(s, dir).aggregateCuboids(
        drilldown = Seq("returnflag", "linestatus"),
        aggregates = Seq("fact_count"),
        kind = "sets",
        sets = Seq(Seq("returnflag"), Seq("linestatus"))),
    oracle =
      s"""SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
         |  COUNT(1) AS fact_count,
         |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS "__gid__"
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         |ORDER BY "__gid__", 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin),

    // S8: cross-table pivot (conditional aggregates, single pass)
    Gate("q23_pivot", (s, dir) => {
      val br = b(s, dir)
      val proj = br.projectedFrame(Seq("returnflag", "linestatus", "quantity"))
      CrossTable.crossTable(proj, Seq("returnflag"), "linestatus", Seq("F", "O"),
        AggFunctions.exactSum(col("quantity"), org.apache.spark.sql.types.DoubleType))
    },
    oracle =
      s"""SELECT l_returnflag AS returnflag,
         |  ${dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS "F",
         |  ${dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS "O"
         |FROM lineitem
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // W2/W3: moving average + moving sum along a time drilldown
    Gate("q24_window_sma", (s, dir) =>
      b(s, dir).aggregate(
        drilldown = Seq("shipdate:month"),
        aggregates = Seq("quantity_sum", "quantity_sma", "quantity_sms")
      ).cells,
    oracle =
      s"""WITH dd AS (
         |  SELECT ${dyear("l_shipdate")} AS "shipdate.year",
         |    ${dquarter("l_shipdate")} AS "shipdate.quarter",
         |    ${dmonth("l_shipdate")} AS "shipdate.month",
         |    ${dsum("l_quantity")} AS quantity_sum
         |  FROM lineitem GROUP BY 1, 2, 3)
         |SELECT *,
         |  ROUND(AVG(quantity_sum) OVER w, 2) AS quantity_sma,
         |  SUM(quantity_sum) OVER w AS quantity_sms
         |FROM dd
         |WINDOW w AS (ORDER BY "shipdate.year", "shipdate.quarter",
         |  "shipdate.month" ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         |ORDER BY 1, 2, 3""".stripMargin),

    // W1/W4/W5/W6: weighted moving average + moving stddev/variance/rsd
    Gate("q25_window_wma", (s, dir) =>
      b(s, dir).aggregate(
        drilldown = Seq("shipdate:year"),
        aggregates = Seq("quantity_sum", "quantity_wma", "quantity_smstd",
          "quantity_smvar", "quantity_smrsd")
      ).cells,
    oracle =
      s"""WITH dd AS (
         |  SELECT ${dyear("l_shipdate")} AS "shipdate.year",
         |    ${dsum("l_quantity")} AS quantity_sum
         |  FROM lineitem GROUP BY 1),
         |r AS (SELECT *,
         |  LEAST(ROW_NUMBER() OVER (ORDER BY "shipdate.year"), 3) AS k,
         |  LAG(quantity_sum, 1) OVER (ORDER BY "shipdate.year") AS v1,
         |  LAG(quantity_sum, 2) OVER (ORDER BY "shipdate.year") AS v2
         |  FROM dd)
         |SELECT "shipdate.year", quantity_sum,
         |  ROUND(CASE k
         |    WHEN 3 THEN ((1 * v2 + 2 * v1) + 3 * quantity_sum) / 6.0
         |    WHEN 2 THEN (1 * v1 + 2 * quantity_sum) / 3.0
         |    ELSE quantity_sum END, 4) AS quantity_wma,
         |  ROUND(STDDEV_SAMP(quantity_sum) OVER w, 2) AS quantity_smstd,
         |  ROUND(VAR_SAMP(quantity_sum) OVER w, 2) AS quantity_smvar,
         |  ROUND(STDDEV_SAMP(quantity_sum) OVER w
         |    / AVG(quantity_sum) OVER w, 4) AS quantity_smrsd
         |FROM r
         |WINDOW w AS (ORDER BY "shipdate.year"
         |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         |ORDER BY 1""".stripMargin),

    // W2 partitioned: window slides along the innermost drilldown only
    Gate("q26_window_partitioned", (s, dir) =>
      b(s, dir).aggregate(
        drilldown = Seq("customer", "shipdate:year"),
        aggregates = Seq("quantity_sum", "quantity_sma")
      ).cells,
    oracle =
      s"""WITH dd AS (
         |  SELECT r_name AS "customer.region_name",
         |    ${dyear("l_shipdate")} AS "shipdate.year",
         |    ${dsum("l_quantity")} AS quantity_sum
         |  $custJoin
         |  GROUP BY 1, 2)
         |SELECT *, ROUND(AVG(quantity_sum) OVER w, 2) AS quantity_sma
         |FROM dd
         |WINDOW w AS (PARTITION BY "customer.region_name"
         |  ORDER BY "shipdate.year" ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         |ORDER BY 1, 2""".stripMargin),

    // T1/T2: weekday extraction as a flat calendar dimension
    Gate("q27_dow", (s, dir) =>
      b(s, dir).aggregate(
        drilldown = Seq("shipdow"),
        aggregates = Seq("fact_count", "quantity_sum")
      ).cells,
    oracle =
      s"""SELECT CAST(dayofweek(l_shipdate) + 1 AS BIGINT) AS shipdow,
         |  COUNT(1) AS fact_count, ${dsum("l_quantity")} AS quantity_sum
         |FROM lineitem
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Streaming-shaped batch: tumbling 1h windows over the events table
    // (window().start surfaced as epoch seconds)
    Gate("q28_events_hourly", (s, dir) => {
      val ev = EventsModel.eventsTable(s, dir)
      ev.groupBy(
          window(col("ts"), "1 hour").getField("start").cast("long").as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          AggFunctions.exactSum(col("value"),
            org.apache.spark.sql.types.DoubleType).as("value_sum"))
        .orderBy(col("hour_start").asc, col("event_type").asc)
    },
    oracle =
      s"""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
         |  event_type,
         |  COUNT(1) AS n_events,
         |  ${dsum("value")} AS value_sum
         |FROM events
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // exact interpolated median (scale note: full-sort per group — the
    // approx variant below is the 100 TB path)
    Gate("q29_median", (s, dir) =>
      b(s, dir).aggregate(
        drilldown = Seq("returnflag"),
        aggregates = Seq("quantity_median", "fact_count")
      ).cells,
    oracle =
      s"""SELECT l_returnflag AS returnflag,
         |  quantile_cont(l_quantity, 0.5) AS quantity_median,
         |  COUNT(1) AS fact_count
         |FROM lineitem
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // approximate sketch aggregates (HLL / quantile sketch) verified against
    // their exact twins: the sketches' raw values are engine-specific, so the
    // oracle-checkable surface is (exact value, within-tolerance boolean).
    // Both sketches are deterministic for a fixed input set, so the booleans
    // are stable run-to-run; DuckDB replays the exact side and literal TRUE.
    Gate("q30_approx_sketches", (s, dir) =>
      b(s, dir).aggregate(
        drilldown = Seq("returnflag"),
        aggregates = Seq("parts", "parts_approx", "quantity_median",
          "quantity_approx_median", "fact_count")
      ).cells
        .select(col("returnflag"), col("parts"), col("quantity_median"),
          col("fact_count"),
          (abs(col("parts_approx") - col("parts")) <=
            greatest(col("parts") * 0.15, lit(1.0))).as("approx_cd_ok"),
          (abs(col("quantity_approx_median") - col("quantity_median")) <=
            greatest(col("quantity_median") * 0.05, lit(1.0))).as("approx_med_ok")),
    oracle =
      s"""SELECT l_returnflag AS returnflag,
         |  COUNT(DISTINCT l_partkey) AS parts,
         |  quantile_cont(l_quantity, 0.5) AS quantity_median,
         |  COUNT(1) AS fact_count,
         |  TRUE AS approx_cd_ok, TRUE AS approx_med_ok
         |FROM lineitem
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // second cube: the events fact browsed through the same OLAP verbs
    Gate("q31_events_cube", (s, dir) =>
      EventsModel.browser(s, dir).aggregate(
        cell = Cell(PointCut("event_type", Seq("purchase"))),
        drilldown = Seq("time:day"),
        aggregates = Seq("n_events", "value_sum", "users")
      ).cells,
    oracle =
      s"""SELECT ${dyear("ts")} AS "time.year",
         |  ${dmonth("ts")} AS "time.month",
         |  CAST(EXTRACT(day FROM ts) AS BIGINT) AS "time.day",
         |  COUNT(1) AS n_events,
         |  ${dsum("value")} AS value_sum,
         |  COUNT(DISTINCT user_id) AS users
         |FROM events
         |WHERE event_type = 'purchase'
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // an aggregate the browser answers in one pass (GROUPING SETS summary
    // + drilldown for the json rows); the gate reads its plain cells
    Gate("q32_fused_agg", (s, dir) =>
      b(s, dir).aggregate(
        cell = Cell(PointCut("returnflag", Seq("R"))),
        drilldown = Seq("linestatus"),
        aggregates = Seq("quantity_sum", "fact_count")
      ).cells,
    oracle =
      s"""SELECT l_linestatus AS linestatus,
         |  ${dsum("l_quantity")} AS quantity_sum,
         |  COUNT(1) AS fact_count
         |FROM lineitem
         |WHERE l_returnflag = 'R'
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // O6 extension: per-group top-k — 2 best nations per region by revenue
    Gate("q33_topk_per_group", (s, dir) =>
      b(s, dir).aggregateTopK(
        groupDrilldown = Seq("customer:region"),
        rankDrilldown = Seq("customer@nation:nation"),
        aggregates = Seq("revenue_sum"),
        rankBy = "revenue_sum", k = 2),
    oracle =
      s"""WITH agg AS (
         |  SELECT r_name AS "customer.region_name",
         |    n_name AS "customer.nation_name",
         |    ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue_sum
         |  $custJoin
         |  GROUP BY 1, 2),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY "customer.region_name"
         |    ORDER BY revenue_sum DESC, "customer.nation_name") AS rk FROM agg)
         |SELECT "customer.region_name", "customer.nation_name", revenue_sum,
         |  CAST(rk AS INTEGER) AS rank
         |FROM r WHERE rk <= 2
         |ORDER BY "customer.region_name", rk""".stripMargin),

    // ---- materialization sinks (S4/S5/S6) and formats (S7): write the
    // sink, read it back, and aggregate the read-back — the oracle checks
    // the full write→read round-trip against the source tables.

    // S4: denormalized star view → parquet → browse join-free
    Gate("q34_materialize_denorm", (s, dir) => {
      val br = b(s, dir)
      val path = java.nio.file.Files.createTempDirectory("graft_denorm").toString
      graft.materialize.Materialize.writeDenormalized(br, path)
      s.read.parquet(path)
        .groupBy(col("`customer.region_name`"))
        .agg(AggFunctions.exactSum(col("quantity"),
          org.apache.spark.sql.types.DoubleType).as("quantity_sum"),
          count(lit(1)).as("fact_count"))
        .orderBy(col("`customer.region_name`"))
    },
    oracle =
      s"""SELECT r_name AS "customer.region_name",
         |  ${dsum("l_quantity")} AS quantity_sum, COUNT(1) AS fact_count
         |$custJoin
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // S5: pre-aggregated cuboid → parquet → roll up further (exact decimal
    // sums re-aggregate associatively, so the rollup of the materialized
    // grain must equal the direct aggregate)
    Gate("q35_materialize_preagg", (s, dir) => {
      val br = b(s, dir)
      val path = java.nio.file.Files.createTempDirectory("graft_preagg").toString
      graft.materialize.Materialize.preAggregate(br,
        Seq("returnflag", "linestatus"), Seq("quantity_sum", "fact_count"), path)
      s.read.parquet(path)
        .groupBy(col("returnflag"))
        .agg(sum(col("quantity_sum").cast(AggFunctions.SumDecimal))
          .cast("double").as("quantity_sum"),
          sum(col("fact_count")).as("fact_count"))
        .orderBy(col("returnflag"))
    },
    oracle =
      s"""SELECT l_returnflag AS returnflag,
         |  ${dsum("l_quantity")} AS quantity_sum, COUNT(1) AS fact_count
         |FROM lineitem
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // S6: conformed dimension extraction → parquet → read back
    Gate("q36_materialize_dim", (s, dir) => {
      val br = b(s, dir)
      val path = java.nio.file.Files.createTempDirectory("graft_dim").toString
      graft.materialize.Materialize.extractDimension(br, "customer", path)
      val back = s.read.parquet(path)
      back.orderBy(back.columns.map(c => col(s"`$c`")): _*)
    },
    oracle =
      s"""SELECT DISTINCT r_name AS "customer.region_name",
         |  n_name AS "customer.nation_name",
         |  c_custkey AS "customer.custkey", c_name AS "customer.name",
         |  c_mktsegment AS "customer.mktsegment"
         |$custJoin
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin),

    // S7: CSV + JSON-lines sinks round-trip the same aggregate; both
    // read-backs joined on the drilldown keys must carry identical values
    Gate("q37_formats_roundtrip", (s, dir) => {
      val br = b(s, dir)
      val agg = br.aggregate(
        drilldown = Seq("returnflag", "linestatus"),
        aggregates = Seq("quantity_sum", "fact_count")).cells
      val csvPath = java.nio.file.Files.createTempDirectory("graft_csv").toString
      val jsonPath = java.nio.file.Files.createTempDirectory("graft_json").toString
      graft.formats.Formats.writeCsv(agg, csvPath)
      graft.formats.Formats.writeJsonLines(agg, jsonPath)
      val csv = s.read.option("header", "true").schema(agg.schema).csv(csvPath)
      val json = s.read.schema(agg.schema).json(jsonPath)
        .withColumnRenamed("quantity_sum", "quantity_sum_json")
        .withColumnRenamed("fact_count", "fact_count_json")
      csv.join(json, Seq("returnflag", "linestatus"))
        .orderBy(col("returnflag"), col("linestatus"))
    },
    oracle =
      s"""SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
         |  ${dsum("l_quantity")} AS quantity_sum, COUNT(1) AS fact_count,
         |  ${dsum("l_quantity")} AS quantity_sum_json,
         |  COUNT(1) AS fact_count_json
         |FROM lineitem
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // T2/T3/T6: the Calendar module's datetime→path decomposition,
    // truncation, and since-period-start, replayed by DuckDB's date
    // functions over every distinct ship date. The calendar math is
    // driver-side pure Scala (it computes cut *members*), so the query
    // maps the distinct-date frame through it on the driver — bounded by
    // the calendar's cardinality, not the fact table.
    Gate("q38_calendar_paths", (s, dir) => {
      import s.implicits._
      val cal = graft.calendar.Calendar
      val dates = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_shipdate")).distinct()
        .collect().map { r => // timestamp[ms] NTZ reads back as LocalDateTime
          r.get(0) match {
            case ldt: java.time.LocalDateTime => ldt
            case ts: java.sql.Timestamp       => ts.toLocalDateTime
          }
        }
      dates.toSeq.map { dt =>
        val Seq(y, q, m, w, d, dow) =
          cal.path(dt, Seq("year", "quarter", "month", "week", "day", "weekday"))
        (dt.toLocalDate.toString,
          y.toLong, q.toLong, m.toLong, w.toLong, d.toLong, dow.toLong,
          cal.path(dt, Seq("isoyear")).head.toLong,
          cal.truncate(dt, "month").toLocalDate.toString,
          cal.truncate(dt, "week").toLocalDate.toString,
          cal.sincePeriodStart("quarter", "day", dt))
      }.toDF("shipdate", "y", "q", "m", "w", "d", "dow", "isoy",
        "month_start", "week_start", "days_into_quarter")
        .orderBy(col("shipdate"))
    },
    oracle =
      s"""SELECT strftime(d, '%Y-%m-%d') AS shipdate,
         |  CAST(year(d) AS BIGINT) AS y, CAST(quarter(d) AS BIGINT) AS q,
         |  CAST(month(d) AS BIGINT) AS m, CAST(weekofyear(d) AS BIGINT) AS w,
         |  CAST(day(d) AS BIGINT) AS d, CAST(isodow(d) - 1 AS BIGINT) AS dow,
         |  CAST(isoyear(d) AS BIGINT) AS isoy,
         |  strftime(date_trunc('month', d), '%Y-%m-%d') AS month_start,
         |  strftime(date_trunc('week', d), '%Y-%m-%d') AS week_start,
         |  date_diff('day', date_trunc('quarter', d), d) AS days_into_quarter
         |FROM (SELECT DISTINCT l_shipdate AS d FROM lineitem)
         |ORDER BY 1""".stripMargin),

    // T5: cut-string parsing (incl. the time-path grammar) feeding F3/F4
    Gate("q39_time_cut_strings", (s, dir) => {
      val cell = graft.browser.TimeCuts.parseCell(TpchModel.cube,
        "shipdate:1994,3-1995,1|returnflag:R",
        java.time.LocalDateTime.of(1998, 1, 1, 0, 0))
      b(s, dir).aggregate(cell,
        drilldown = Seq("shipdate:quarter"),
        aggregates = Seq("quantity_sum", "fact_count")).cells
    },
    oracle =
      s"""SELECT ${dyear("l_shipdate")} AS "shipdate.year",
         |  ${dquarter("l_shipdate")} AS "shipdate.quarter",
         |  ${dsum("l_quantity")} AS quantity_sum, COUNT(1) AS fact_count
         |FROM lineitem
         |WHERE ((${dyear("l_shipdate")} = 1994 AND ${dquarter("l_shipdate")} >= 3)
         |       OR ${dyear("l_shipdate")} > 1994)
         |  AND ((${dyear("l_shipdate")} = 1995 AND ${dquarter("l_shipdate")} <= 1)
         |       OR ${dyear("l_shipdate")} < 1995)
         |  AND l_returnflag = 'R'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // T4: relative range name (`last4quarters`) against a fixed anchor;
    // the full-depth (y,q,m,d) lexicographic range is exactly a date
    // BETWEEN, which is what the oracle replays
    Gate("q55_relative_range", (s, dir) => {
      val cell = graft.browser.TimeCuts.parseCell(TpchModel.cube,
        "shipdate:last4quarters",
        java.time.LocalDateTime.of(1996, 5, 10, 0, 0))
      b(s, dir).aggregate(cell,
        drilldown = Seq("shipdate:year"),
        aggregates = Seq("quantity_sum", "fact_count")).cells
    },
    oracle =
      s"""SELECT ${dyear("l_shipdate")} AS "shipdate.year",
         |  ${dsum("l_quantity")} AS quantity_sum, COUNT(1) AS fact_count
         |FROM lineitem
         |WHERE l_shipdate BETWEEN TIMESTAMP '1995-07-01 00:00:00'
         |  AND TIMESTAMP '1996-05-10 00:00:00'
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // T4: relative point name (`3yearsago`) → full-depth calendar path
    Gate("q56_relative_point", (s, dir) => {
      val cell = graft.browser.TimeCuts.parseCell(TpchModel.cube,
        "shipdate:3yearsago",
        java.time.LocalDateTime.of(1998, 3, 5, 0, 0))
      b(s, dir).aggregate(cell,
        drilldown = Seq("returnflag"),
        aggregates = Seq("quantity_sum", "fact_count")).cells
    },
    oracle =
      s"""SELECT l_returnflag AS returnflag,
         |  ${dsum("l_quantity")} AS quantity_sum, COUNT(1) AS fact_count
         |FROM lineitem
         |WHERE CAST(l_shipdate AS DATE) = DATE '1995-03-05'
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // A11: total drilldown cell count before pagination (the reference's
    // third query, `sql/browser.py:436-439`) surfaced as a one-row frame
    Gate("q57_cell_count", (s, dir) => {
      val r = b(s, dir).aggregate(
        drilldown = Seq("customer:customer"), // full hierarchy depth
        aggregates = Seq("fact_count"))
      r.cells.agg(count(lit(1)).as("total_cells"))
    },
    oracle =
      s"""SELECT COUNT(1) AS total_cells FROM (
         |  SELECT DISTINCT r_name, n_name, c_custkey, c_name, c_mktsegment
         |  $custJoin)""".stripMargin),

    // Authorization: restriction cell + hierarchy_limits — the identity
    // may see only ASIA and only down to the nation level, so a
    // full-depth customer drilldown is CLAMPED to (region, nation)
    Gate("q58_auth_hierarchy_limit", (s, dir) => {
      val t = TpchModel.tables(s, dir)
      val br = new graft.browser.Browser(TpchModel.cube,
        new graft.star.StarSchema(TpchModel.cube, t(TpchModel.cube.factTable), t), s,
        restrictionCell = Cell(PointCut("customer", Seq("ASIA"))),
        hierarchyLimits = Seq(graft.auth.HierarchyLimit("customer", None, Some("nation"))))
      br.aggregate(
        drilldown = Seq("customer:customer"), // requests full depth; clamped
        aggregates = Seq("quantity_sum", "fact_count")).cells
    },
    oracle =
      s"""SELECT r_name AS "customer.region_name",
         |  n_name AS "customer.nation_name",
         |  ${dsum("l_quantity")} AS quantity_sum, COUNT(1) AS fact_count
         |$custJoin
         |WHERE r_name = 'ASIA'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Cell details, reference shape: per-level _key/_label records for a
    // full-depth point cut plus a range cut's from/to paths. The customer
    // key is data-determined (smallest INDIA customer with lineitems) so
    // the query is stable across scale factors.
    Gate("q59_cell_details", (s, dir) => {
      val br = b(s, dir)
      val t = TpchModel.tables(s, dir)
      val r0 = t("lineitem")
        .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t("customer"), col("o_custkey") === col("c_custkey"))
        .join(t("nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t("region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select(col("c_custkey"), col("n_name"))
        .orderBy(col("c_custkey")).limit(1).collect()(0)
      val ck = r0.getLong(0); val nat = r0.getString(1)
      br.cellDetailsFrame(Cell(Seq(
        PointCut("customer", Seq("ASIA", nat, ck.toString)),
        RangeCut("shipdate", Some(Seq("1995", "2")), Some(Seq("1996", "1"))))))
        .orderBy(col("dim"), col("part"), col("level"), col("_key"))
    },
    oracle =
      s"""WITH ck AS (SELECT c_custkey AS k, n_name AS nat $custJoin
         |  WHERE r_name = 'ASIA' ORDER BY c_custkey LIMIT 1),
         |cust AS (SELECT c_custkey, c_name, nat FROM customer, ck WHERE c_custkey = ck.k)
         |SELECT * FROM (
         |  SELECT 'customer' AS dim, 'point' AS part, 'region' AS "level",
         |    'ASIA' AS "_key", 'ASIA' AS "_label"
         |  UNION ALL SELECT 'customer', 'point', 'nation', nat, nat FROM cust
         |  UNION ALL SELECT 'customer', 'point', 'customer',
         |    CAST(c_custkey AS VARCHAR), c_name FROM cust
         |  UNION ALL SELECT 'shipdate', 'from', 'year', '1995', '1995'
         |  UNION ALL SELECT 'shipdate', 'from', 'quarter', '2', '2'
         |  UNION ALL SELECT 'shipdate', 'to', 'year', '1996', '1996'
         |  UNION ALL SELECT 'shipdate', 'to', 'quarter', '1', '1')
         |ORDER BY 1, 2, 3, 4""".stripMargin),

    // J5: compound join key — the partsupp dimension joins the fact on
    // (l_partkey, l_suppkey); neither column alone is unique, so a join
    // that lost one key column would fan out and break the hash
    Gate("q75_compound_join_key", (s, dir) =>
      TpchModel.compoundBrowser(s, dir).aggregate(
        drilldown = Seq("partsupp:brand"),
        aggregates = Seq("fact_count", "quantity_sum", "ps_suppliers")
      ).cells,
    oracle =
      s"""WITH pairs AS (SELECT DISTINCT l_partkey AS ps_partkey,
         |    l_suppkey AS ps_suppkey FROM lineitem),
         |psd AS (SELECT ps_partkey, ps_suppkey, p_brand AS ps_brand
         |  FROM pairs
         |  JOIN part ON ps_partkey = p_partkey
         |  JOIN supplier ON ps_suppkey = s_suppkey)
         |SELECT psd.ps_brand AS "partsupp.brand",
         |  COUNT(1) AS fact_count, ${dsum("l_quantity")} AS quantity_sum,
         |  COUNT(DISTINCT psd.ps_suppkey) AS ps_suppliers
         |FROM lineitem l
         |JOIN psd ON l.l_partkey = psd.ps_partkey
         |  AND l.l_suppkey = psd.ps_suppkey
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // GK quantile-sketch profile: exact quartiles per returnflag + the
    // rank-error gate on each approx_percentile estimate (q30 posture:
    // the estimate's RANK is checked, its engine-specific value never
    // leaves the plan)
    Gate("q106_quantile_gate", (s, dir) =>
      graft.ops.Sketches.quantileProfile(
        s.read.parquet(s"$dir/lineitem.parquet"),
        "l_returnflag", "l_quantity",
        Seq(0.25, 0.5, 0.75), accuracy = 100)
        .withColumnRenamed("l_returnflag", "returnflag")
        .orderBy(col("returnflag"), col("q")),
    oracle =
      """WITH e AS (SELECT l_returnflag AS returnflag,
        |    quantile_cont(CAST(l_quantity AS DOUBLE),
        |      [0.25, 0.5, 0.75]) AS ex
        |  FROM lineitem GROUP BY 1)
        |SELECT returnflag,
        |  CAST([0.25, 0.5, 0.75][i] AS DOUBLE) AS q, ex[i] AS exact_q,
        |  TRUE AS rank_ok
        |FROM e CROSS JOIN (SELECT unnest(range(1, 4)) AS i)
        |ORDER BY returnflag, q""".stripMargin),

    // exact equi-width histogram of l_quantity (domain 1..50, 10
    // buckets): all-integer bucketing, out-of-domain guard rows
    Gate("q110_histogram", (s, dir) =>
      graft.ops.Profiling.histogram(
        s.read.parquet(s"$dir/lineitem.parquet"),
        "l_quantity", 1L, 50L, 10)
        .orderBy(col("bucket")),
    oracle =
      """WITH v AS (SELECT CAST(l_quantity AS BIGINT) AS v FROM lineitem),
        |b AS (SELECT CASE WHEN v < 1 THEN -1 WHEN v > 50 THEN 10
        |    ELSE (v - 1) * 10 // 50 END AS bucket, COUNT(1) AS n,
        |    MIN(v) AS min_value, MAX(v) AS max_value
        |  FROM v GROUP BY 1)
        |SELECT g.bucket, COALESCE(b.n, 0) AS n, b.min_value, b.max_value
        |FROM (SELECT unnest(range(-1, 11)) AS bucket) g
        |LEFT JOIN b USING (bucket) ORDER BY bucket""".stripMargin),

    // salted skew join: lineitem⋈supplier on suppkey with an 8-way
    // derived salt — output provably salt-independent, so the oracle is
    // the PLAIN join (the skew-mitigation rewrite for paths AQE can't
    // reach); exact-decimal revenue per nation on top
    Gate("q112_salted_join", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_suppkey").as("s_suppkey"), col("l_orderkey"),
          col("l_extendedprice"))
      val supp = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey"), col("s_nationkey"))
      graft.ops.Skew.saltedJoin(li, supp, Seq("s_suppkey"),
          saltFrom = "l_orderkey", n = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          AggFunctions.exactSum(col("l_extendedprice"),
            org.apache.spark.sql.types.DoubleType).as("price_sum"))
        .orderBy(col("s_nationkey"))
    },
    // sketch values are engine-specific; the oracle checks the exact twins
    // and asserts the within-tolerance booleans Spark computed are TRUE
    oracle =
      s"""SELECT s.s_nationkey, COUNT(1) AS n_items,
         |  ${dsum("l.l_extendedprice")} AS price_sum
         |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // mixed-format store registration (S1 ingest surface): nation
    // round-trips through a CSV table (header + schema inference),
    // region through JSON-lines, both registered by the SAME
    // registerTableDir scan a parquet store uses — then joined and
    // aggregated; values must survive the text round trip exactly
    Gate("q143_table_store", (s, dir) => {
      val store = java.nio.file.Files
        .createTempDirectory("graft_store").toString
      s.read.parquet(s"$dir/nation.parquet").write.mode("overwrite")
        .option("header", "true").csv(s"$store/nation.csv")
      s.read.parquet(s"$dir/region.parquet").write.mode("overwrite")
        .json(s"$store/region.jsonl")
      val ws = new graft.workspace.Workspace(s).registerTableDir(store)
      ws.table("nation")
        .join(ws.table("region"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_nations"),
          sum(col("n_nationkey").cast("long")).as("key_sum"))
        .orderBy(col("r_name"))
    },
    oracle =
      """SELECT r_name, COUNT(1) AS n_nations,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
