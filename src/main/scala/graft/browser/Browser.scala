package graft.browser

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DataType, StringType}
import graft.model._
import graft.cells._
import graft.star.StarSchema
import graft.functions.{AggFunctions, WindowCalcs}
import graft.exprs.ExprLang
import graft.formats.Formats

/** Result of an aggregate browse (reference `AggregationResult`,
  * `query/browser.py:676-862`). Everything stays lazy DataFrames; actions
  * happen when the caller materializes. */
final case class AggregationResult(
    cells: DataFrame,
    summary: Option[DataFrame],
    /** Builds the json response's rows in response order, unpaged: the
      * summary row first when the plan computes it alongside the cells
      * (the one-pass plan, on a non-empty cell), then every drilldown
      * cell. Columns [[Browser.IsSummary]] and [[Browser.RowJson]] (the
      * row as `Dataset.toJSON` writes it). A function, so callers that
      * only read `cells` or `summary` do not pay for analyzing it. */
    rows: () => DataFrame,
    levels: Map[String, Seq[String]],
    /** Resolved aggregate names (reference `to_dict()["aggregates"]`). */
    aggregates: Seq[String] = Nil,
    /** Drilldown attribute refs (reference `to_dict()["attributes"]`). */
    attributes: Seq[String] = Nil,
    /** The effective (restricted) cell browsed. */
    cell: Cell = Cell.empty,
    hasSplit: Boolean = false
)

/** One level's detail record (reference `_path_details` item,
  * `query/browser.py:589-627`): every level attribute's value plus the
  * redundant `_key`/`_label`. */
final case class LevelDetails(
    level: String, attributes: Map[String, Any], key: Any, label: Any)

/** Details for one cut of a cell (reference `cut_details`,
  * `query/browser.py:557-586`). A missing path yields None. */
sealed trait CutDetails { def cut: Cut }
final case class PointDetails(cut: Cut,
    levels: Option[Seq[LevelDetails]]) extends CutDetails
final case class SetDetails(cut: Cut,
    paths: Seq[Option[Seq[LevelDetails]]]) extends CutDetails
final case class RangeDetails(cut: Cut,
    from: Option[Seq[LevelDetails]], to: Option[Seq[LevelDetails]]) extends CutDetails

/** One item of a report fan-out (reference request shape,
  * `query/browser.py:459-523`). */
final case class ReportItem(
    kind: String,
    cell: Option[Cell] = None,
    rollup: Option[String] = None,
    drilldown: Seq[String] = Nil,
    aggregates: Seq[String] = Nil,
    dim: Option[String] = None,
    depth: Option[Int] = None,
    key: Option[Any] = None,
    fields: Seq[String] = Nil
)

/** The aggregation browser: compiles OLAP verbs (aggregate / facts / fact /
  * members / cell) into Spark DataFrame plans over a pruned star join.
  *
  * Lifecycle per call (cf. reference `sql/browser.py:351-461`):
  *  1. resolve aggregates + drilldown (driver-side metadata),
  *  2. collect needed attribute refs, topo-sort derived expressions,
  *  3. build pruned star (join elimination — only referenced tables),
  *  4. project logical columns, filter by the cell predicate (Catalyst
  *     pushes both into the Parquet scans),
  *  5. groupBy + aggregate (partial aggregation map-side),
  *  6. window calculators as Window expressions (reference computes these
  *     in driver Python; here they are distributed, inside the plan),
  *  7. order / paginate.
  */
final class Browser(
    val cube: Cube,
    val star: StarSchema,
    val spark: SparkSession,
    excludeNullAggregates: Boolean = false,
    /** Authorization: a restriction cell ANDed onto every browsed cell
      * (reference `cubes/auth.py:42-54`, applied `server/decorators.py:41-46`). */
    restrictionCell: Cell = Cell.empty,
    /** Locale: localized attributes read their `col_<locale>` physical
      * column (reference `mapper.py:240-248`, `attributes.py:169-186`). */
    locale: Option[String] = None,
    /** Enforce `nonadditive` measure metadata: refuse summing a
      * time-nonadditive measure across a time drilldown (the reference
      * records the metadata but never enforces it — A14). */
    enforceNonadditive: Boolean = false,
    /** Query parameters for derived-attribute expressions: identifiers in
      * an expression that match a key here compile to the literal value
      * (reference `parameters` dict, `sql/expressions.py:96-97`). */
    parameters: Map[String, Any] = Map.empty,
    /** Authorization hierarchy limits (reference `auth.py:380-386`,
      * consumed `metadata/dimension.py:560-590`): per-(dim, hierarchy)
      * maximum visible level. The reference trims only the served model;
      * here drilldowns and member listings are also CLAMPED at browse
      * time, so restricted grain cannot be queried directly either. A
      * limit with `level = None` hides the hierarchy (browsing it throws). */
    hierarchyLimits: Seq[graft.auth.HierarchyLimit] = Nil
) {
  /** The split pseudo-dimension column (reference `query/browser.py:35`). */
  val SplitColumn = "__within_split__"
  val FactKeyColumn = "__fact_key__"

  /** Restriction applied to a caller cell. */
  private def restricted(cell: Cell): Cell =
    if (restrictionCell.isEmpty) cell else cell & restrictionCell

  /** Max visible depth for (dim, hierarchy) under [[hierarchyLimits]]:
    * None = unlimited, Some(0) = hierarchy hidden entirely. Most
    * restrictive applicable limit wins. */
  private def limitDepth(dim: Dimension, hierName: Option[String]): Option[Int] = {
    if (hierarchyLimits.isEmpty) return None
    val hier = dim.hierarchy(hierName)
    val depths = hierarchyLimits.collect {
      case l if l.dim == dim.name &&
        dim.hierarchy(l.hierarchy).name == hier.name =>
        l.level.map(lv => hier.levelIndex(lv) + 1).getOrElse(0)
    }
    if (depths.isEmpty) None else Some(depths.min)
  }

  /** Clamp resolved drilldown items to their authorized depth (drops deep
    * levels silently, like the reference's model trim; a fully hidden
    * hierarchy refuses the browse). */
  private def clampToLimits(dd: Seq[DrilldownItem]): Seq[DrilldownItem] =
    dd.map { item =>
      limitDepth(item.dim, item.hierarchyName) match {
        case None => item
        case Some(0) => throw new graft.auth.NotAuthorized(
          s"hierarchy '${item.dim.name}' is not authorized")
        case Some(d) if item.levelNames.size > d =>
          item.copy(levelNames = item.levelNames.take(d))
        case _ => item
      }
    }

  private def resolveDrilldown(cell: Cell, specs: Seq[String]): Seq[DrilldownItem] =
    clampToLimits(Drilldown.resolve(cube, cell, specs))

  /** Attribute refs visible under [[hierarchyLimits]]: per dimension, the
    * union over its hierarchies of the levels within each hierarchy's
    * authorized depth (a level stays visible while ANY unlimited
    * hierarchy contains it — limits are per-hierarchy, like the
    * reference's). Measures and details are never limited. */
  private lazy val visibleRefs: Option[Set[String]] =
    if (hierarchyLimits.isEmpty) None
    else Some {
      val dimRefs = cube.dimensions.flatMap(_.attributes.map(_.ref)).toSet
      val allowedDimRefs = cube.dimensions.flatMap { d =>
        d.allHierarchies.flatMap { h =>
          val depth = limitDepth(d, Some(h.name)).getOrElse(h.levelNames.size)
          h.levelNames.take(depth).flatMap(ln => d.level(ln).attributes.map(_.ref))
        }
      }.toSet
      (cube.allAttributes.keySet -- dimRefs) ++ allowedDimRefs
    }

  private def visible(refs: Seq[String]): Seq[String] = visibleRefs match {
    case None     => refs
    case Some(ok) => refs.filter(ok)
  }

  // ---------------------------------------------------------------- public

  def aggregate(
      cell: Cell = Cell.empty,
      drilldown: Seq[String] = Nil,
      aggregates: Seq[String] = Nil,
      split: Option[Cell] = None,
      order: Seq[(String, Option[String])] = Nil,
      page: Option[Int] = None,
      pageSize: Option[Int] = None,
      includeSummary: Boolean = true
  ): AggregationResult = {
    val effCell = restricted(cell)
    val aggs0 = if (aggregates.isEmpty) {
      if (cube.aggregates.nonEmpty) cube.aggregates else Seq(Cube.FactCount)
    } else aggregates.map(cube.aggregate)

    // pull source-aggregate dependencies of window calculators
    // (reference prepare_aggregates, query/browser.py:194-254)
    val aggs = {
      val byName = cube.aggregates.map(a => a.name -> a).toMap
      val out = scala.collection.mutable.LinkedHashMap.empty[String, MeasureAggregate]
      def add(a: MeasureAggregate): Unit = {
        a.function.filter(WindowCalcs.isWindowFunction).foreach { _ =>
          a.measure.flatMap(byName.get).foreach(add)
        }
        if (!out.contains(a.name)) out(a.name) = a
      }
      aggs0.foreach(add)
      out.values.toSeq
    }
    val (windowAggs, builtinAggs) =
      aggs.partition(_.function.exists(WindowCalcs.isWindowFunction))

    val dd = resolveDrilldown(effCell, drilldown)
    checkHighCardinality(dd, effCell, page, pageSize)
    checkNonadditive(dd, builtinAggs)

    // attribute refs needed anywhere in the query
    val ddRefs = dd.flatMap(_.allRefs)
    val measureRefs = builtinAggs.flatMap(aggMeasureRefs)
    val cutRefs = cellRefs(effCell) ++ split.map(cellRefs).getOrElse(Nil)
    val orderRefs = order.map(_._1).filter(r => cube.allAttributes.contains(r))
    val filtered = cellFrame((ddRefs ++ measureRefs ++ cutRefs ++ orderRefs).distinct, effCell)

    val withSplit = split match {
      case Some(sc) =>
        val cond = cellPredicate(filtered, sc).getOrElse(lit(true))
        filtered.withColumn(SplitColumn, cond)
      case None => filtered
    }

    val groupCols = (if (split.isDefined) Seq(SplitColumn) else Nil) ++ ddRefs

    var result = groupedAgg(withSplit, groupCols, builtinAggs)

    val nonNull =
      if (excludeNullAggregates && builtinAggs.nonEmpty)
        Some(builtinAggs.map(a => bcol(a.name).isNotNull).reduce(_ && _))
      else None
    nonNull.foreach(c => result = result.filter(c))

    // final sort order: split first, then explicit, then natural level order
    // (reference sql/utils.py:106-162, query/browser.py:1010-1024)
    val sortCols = orderColumns(dd, order, split.isDefined)

    // window calculators slide along the innermost drilldown item in the
    // final sort order, partitioned by split + the other drilldown keys
    // (reference statutils.py:128-139)
    if (windowAggs.nonEmpty) {
      require(dd.nonEmpty, "window calculators require a drilldown")
      // partition by split + every drilldown key except the innermost
      // item's; slide along the innermost item in natural level order
      val partKeys = (if (split.isDefined) Seq(SplitColumn) else Nil) ++
        dd.dropRight(1).flatMap(_.keyRefs)
      val orderCols = dd.last.levels.map(l => naturalOrderCol(l))
      val w0 = if (partKeys.isEmpty) Window.partitionBy().orderBy(orderCols: _*)
      else Window.partitionBy(partKeys.map(bcol): _*).orderBy(orderCols: _*)
      windowAggs.foreach { a =>
        val srcName = a.measure.getOrElse(throw new IllegalArgumentException(
          s"window aggregate '${a.name}' needs a source aggregate in 'measure'"))
        val n = a.windowSize.getOrElse(1)
        result = result.withColumn(a.name,
          WindowCalcs.build(a.function.get, bcol(srcName), n, w0))
      }
    }

    if (sortCols.nonEmpty) result = result.orderBy(sortCols: _*)
    val unpaged = result
    result = paginate(result, page, pageSize)

    val summary =
      if (includeSummary && builtinAggs.nonEmpty)
        Some(groupedAgg(withSplit, Nil, builtinAggs))
      else None

    // a plain builtin-aggregate drilldown answers the summary row and the
    // cells in one pass; split, window calculators and distinct+sketch
    // mixes (see groupedAgg) keep the summary as its own query
    val onePass = summary.isDefined && dd.nonEmpty && split.isEmpty &&
      windowAggs.isEmpty && !Browser.mixesDistinctAndSketch(builtinAggs)
    AggregationResult(result, summary,
      rows = if (onePass) () => onePassRows(filtered, ddRefs, builtinAggs, nonNull, sortCols)
        else () => Browser.cellRows(unpaged),
      levels = dd.map(d => d.dim.name -> d.levelNames).toMap,
      aggregates = aggs.map(_.name),
      attributes = ddRefs,
      cell = effCell,
      hasSplit = split.isDefined)
  }

  /** [[AggregationResult.rows]] from one GROUPING SETS ((dd...), ()) pass
    * over `filtered` (the reference issues two SQL statements,
    * `sql/browser.py:378-383`; SURVEY §7.4.3 calls for the fused plan):
    * the summary row first, then the cells that pass `keep`, in
    * `sortCols` order. On an empty cell the grouping sets yield no
    * summary row, while [[AggregationResult.summary]] still yields one
    * (a count of 0). */
  private def onePassRows(filtered: DataFrame, ddRefs: Seq[String],
      aggs: Seq[MeasureAggregate], keep: Option[Column], sortCols: Seq[Column]): DataFrame = {
    val aggCols = aggs.map(builtinAggColumn(filtered, _)) :+ gidColumn(ddRefs)
    val grouped = filtered
      .groupingSets(Seq(ddRefs.map(bcol), Seq.empty), ddRefs.map(bcol): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    val isCell = col(Gid) === 0
    val isSummary = col(Gid) === ((1L << ddRefs.size) - 1)
    val cellCols = grouped.columns.toSeq.filterNot(_ == Gid)
    val summaryCols = cellCols.filterNot(ddRefs.toSet)
    grouped.filter(keep.fold(isCell)(isCell && _) || isSummary)
      .orderBy(isSummary.desc +: sortCols: _*)
      .select(isSummary.as(Browser.IsSummary),
        when(isSummary, Formats.jsonObject(summaryCols))
          .otherwise(Formats.jsonObject(cellCols)).as(Browser.RowJson))
  }

  /** [[aggregate]] without a split. It stays only because the `olapbench`
    * module compiles against it; call [[aggregate]], which picks the
    * one-pass plan itself. */
  def aggregateFused(
      cell: Cell = Cell.empty,
      drilldown: Seq[String],
      aggregates: Seq[String] = Nil,
      order: Seq[(String, Option[String])] = Nil,
      page: Option[Int] = None,
      pageSize: Option[Int] = None
  ): AggregationResult = aggregate(cell, drilldown, aggregates, None, order, page, pageSize)

  /** Cuboid aggregation (reference enumerates dimension/level combinations
    * driver-side for pre-aggregation, `computation.py:15-70`; Catalyst has
    * this native): one pass producing subtotals via ROLLUP / CUBE /
    * GROUPING SETS, plus a `__gid__` grouping indicator
    * (Σ grouping(key)·2^i, outermost key most significant).
    *
    * @param kind "rollup" | "cube" | "sets"
    * @param sets for kind="sets": the grouping sets, as lists of refs
    */
  def aggregateCuboids(
      cell: Cell = Cell.empty,
      drilldown: Seq[String] = Nil,
      aggregates: Seq[String] = Nil,
      kind: String = "rollup",
      sets: Seq[Seq[String]] = Nil
  ): DataFrame = {
    val effCell = restricted(cell) // authorization applies to cuboids too
    val aggs = (if (aggregates.isEmpty) Seq(Cube.FactCount) else aggregates.map(cube.aggregate))
      .filterNot(_.function.exists(WindowCalcs.isWindowFunction))
    val dd = resolveDrilldown(effCell, drilldown)
    val ddRefs = dd.flatMap(_.keyRefs)
    val filtered = cellFrame(
      (ddRefs ++ aggs.flatMap(aggMeasureRefs) ++ cellRefs(effCell)).distinct, effCell)
    val aggCols = aggs.map(builtinAggColumn(filtered, _)) :+ gidColumn(ddRefs)
    val grouped = kind match {
      case "rollup" => filtered.rollup(ddRefs.map(bcol): _*)
      case "cube"   => filtered.cube(ddRefs.map(bcol): _*)
      case "sets" =>
        filtered.groupingSets(sets.map(_.map(bcol)), ddRefs.map(bcol): _*)
      case other => throw new IllegalArgumentException(s"unknown cuboid kind '$other'")
    }
    grouped.agg(aggCols.head, aggCols.tail: _*)
      .orderBy(col(Gid).asc +: ddRefs.map(r => bcol(r).asc_nulls_first): _*)
  }

  /** Per-group top-k (beyond the reference's flat limit+offset, O6): the
    * k best members of `rankDrilldown` within each `groupDrilldown`
    * member, ranked by the `rankBy` aggregate descending. One aggregation
    * pass + one rank window over the (small) aggregated result. */
  def aggregateTopK(
      cell: Cell = Cell.empty,
      groupDrilldown: Seq[String] = Nil,
      rankDrilldown: Seq[String] = Nil,
      aggregates: Seq[String] = Nil,
      rankBy: String = "",
      k: Int = 10
  ): DataFrame = {
    require(rankDrilldown.nonEmpty, "aggregateTopK needs a rank drilldown")
    val base = aggregate(cell, groupDrilldown ++ rankDrilldown, aggregates,
      includeSummary = false).cells
    val effCell = restricted(cell)
    val groupKeys = resolveDrilldown(effCell, groupDrilldown).flatMap(_.keyRefs)
    val rankKeys = resolveDrilldown(effCell, rankDrilldown).flatMap(_.keyRefs)
    val rankCol = if (rankBy.nonEmpty) rankBy
      else aggregates.headOption.getOrElse(
        // mirror aggregate()'s no-declared-aggregates fallback (FactCount)
        cube.aggregates.headOption.map(_.name).getOrElse(Cube.FactCount.name))
    val w0 = if (groupKeys.isEmpty) Window.partitionBy()
      else Window.partitionBy(groupKeys.map(bcol): _*)
    val w = w0.orderBy(bcol(rankCol).desc +: rankKeys.map(bcol(_).asc): _*)
    base.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(groupKeys.map(bcol(_).asc) :+ col("rank").asc: _*)
  }

  /** Raw fact rows of the cell (reference `sql/browser.py:234-265`). */
  def facts(
      cell: Cell = Cell.empty,
      fields: Seq[String] = Nil,
      order: Seq[(String, Option[String])] = Nil,
      page: Option[Int] = None,
      pageSize: Option[Int] = None
  ): DataFrame = {
    val effCell = restricted(cell)
    // hierarchy limits apply to raw fact listings too: attributes below
    // the authorized depth are dropped from the projection
    val wanted = visible(
      if (fields.nonEmpty) fields else cube.allAttributes.keys.toSeq.sorted)
    val out = cellFrame((wanted ++ cellRefs(effCell)).distinct, effCell, includeFactKey = true)
      .select((FactKeyColumn +: wanted).map(bcol): _*)
    val sortCols = order.map { case (r, d) => dirCol(bcol(r), d) }
    val sorted = if (sortCols.nonEmpty) out.orderBy(sortCols: _*)
      else out.orderBy(bcol(FactKeyColumn))
    paginate(sorted, page, pageSize)
  }

  /** Single fact by key (reference `sql/browser.py:211-232`). */
  def fact(key: Any): DataFrame = {
    // the restriction cell applies here too (STRONGER than the reference,
    // whose fact-by-key bypasses the authorization cell — a known hole:
    // `sql/browser.py:211-232` never consults the restricted cell)
    val effCell = restricted(Cell.empty)
    val wanted = visible(cube.allAttributes.keys.toSeq.sorted)
    cellFrame((wanted ++ cellRefs(effCell)).distinct.sorted, effCell, includeFactKey = true)
      .filter(bcol(FactKeyColumn) === lit(key))
      .select((FactKeyColumn +: wanted).map(bcol): _*)
  }

  /** Distinct members of a dimension's levels within a cell
    * (reference `provide_members`, `sql/browser.py:288-312`). */
  def members(
      cell: Cell,
      dimName: String,
      depth: Option[Int] = None,
      hierarchy: Option[String] = None,
      levelName: Option[String] = None,
      page: Option[Int] = None,
      pageSize: Option[Int] = None
  ): DataFrame = {
    val effCell = restricted(cell)
    val dim = cube.dimension(dimName)
    val hier = dim.hierarchy(hierarchy)
    val levels0 = levelName match {
      case Some(l) => hier.levelsForDepth(hier.levelIndex(l) + 1)
      case None    => hier.levelsForDepth(depth.getOrElse(hier.levelNames.size))
    }
    // authorization: member listings clamp to the hierarchy limit too
    val levels = limitDepth(dim, hierarchy) match {
      case None => levels0
      case Some(0) => throw new graft.auth.NotAuthorized(
        s"hierarchy '$dimName' is not authorized")
      case Some(d) => levels0.take(d)
    }
    val attrs = levels.map(dim.level).flatMap(_.attributes.map(_.ref))
    val distinct = cellFrame((attrs ++ cellRefs(effCell)).distinct, effCell)
      .select(attrs.map(bcol): _*).distinct()
    val ordered = distinct.orderBy(levels.map(dim.level).map(naturalOrderCol): _*)
    paginate(ordered, page, pageSize)
  }

  /** Report: bundle of independent queries evaluated against one base cell
    * (reference `query/browser.py:387-523`) — a dict fan-out, not a set
    * op. Each item may roll the base cell up on a dimension first
    * (`browser.py:428-457`). All results stay lazy DataFrames, so Spark
    * can still share scan/join stages between them at execution. */
  def report(cell: Cell, queries: Map[String, ReportItem]): Map[String, DataFrame] =
    queries.map { case (name, item) =>
      val itemCell0 = item.cell.getOrElse(cell)
      val itemCell = item.rollup.map(itemCell0.rollup).getOrElse(itemCell0)
      val df = item.kind match {
        case "aggregate" =>
          aggregate(itemCell, item.drilldown, item.aggregates,
            includeSummary = false).cells
        case "facts"   => facts(itemCell, item.fields)
        case "fact"    => fact(item.key.getOrElse(
          throw new IllegalArgumentException(s"report '$name': fact needs a key")))
        case "members" => members(itemCell,
          item.dim.getOrElse(throw new IllegalArgumentException(
            s"report '$name': members needs a dimension")), item.depth)
        case "cell"    => cellDetailsFrame(itemCell, item.dim)
        case other => throw new IllegalArgumentException(
          s"report '$name': unknown query kind '$other'")
      }
      name -> df
    }

  /** Cell details, reference shape (`query/browser.py:525-639`): one
    * entry per cut (optionally filtered by `dimension`); a PointCut yields
    * per-level records down its path, a SetCut one record list per path,
    * a RangeCut `from`/`to` record lists. Each level record carries every
    * attribute of the level (values fetched from the star) plus the
    * redundant `_key`/`_label` pair (`_path_details`,
    * `query/browser.py:589-627`). */
  def cellDetails(cell: Cell, dimension: Option[String] = None): Seq[CutDetails] = {
    val cuts = dimension match {
      case Some(d) => cell.cuts.filter(_.dim == d)
      case None    => cell.cuts
    }
    cuts.map(cutDetails)
  }

  /** Reference `cut_details` (`query/browser.py:557-586`). */
  def cutDetails(cut: Cut): CutDetails = {
    val dim = cube.dimension(cut.dim)
    cut match {
      case PointCut(_, path, h, _) =>
        PointDetails(cut, pathDetails(dim, path, h))
      case SetCut(_, paths, h, _) =>
        SetDetails(cut, paths.map(pathDetails(dim, _, h)))
      case RangeCut(_, from, to, h, _) =>
        RangeDetails(cut,
          from.flatMap(pathDetails(dim, _, h)), to.flatMap(pathDetails(dim, _, h)))
    }
  }

  /** Per-level records for a dimension path (reference `_path_details` +
    * the SQL backend's data-backed `path_details`): one star lookup for
    * the path's attribute values — bounded work, like the reference's
    * per-path SELECT. None when no such path exists. */
  def pathDetails(dim: Dimension, path0: Seq[String],
      hierName: Option[String]): Option[Seq[LevelDetails]] = {
    // hierarchy limits clamp detail records too: a hidden hierarchy has
    // no visible path, a limited one details only the authorized prefix
    val path = limitDepth(dim, hierName) match {
      case Some(0) => return None
      case Some(d) => path0.take(d)
      case None    => path0
    }
    if (path.isEmpty) return Some(Nil)
    val hier = dim.hierarchy(hierName)
    val levels = hier.levelsForDepth(path.size).map(dim.level)
    val attrs = levels.flatMap(_.attributes.map(_.ref)).distinct
    val projected = projectedFrame(attrs)
    val probe = PointCut(dim.name, path, hierName)
    val filtered = cutPredicate(projected, probe)
      .map(projected.filter).getOrElse(projected)
    filtered.select(attrs.map(bcol): _*).limit(1).collect().headOption.map { r =>
      val byRef = attrs.zipWithIndex.map { case (a, i) => a -> r.get(i) }.toMap
      levels.map { l =>
        LevelDetails(l.name,
          l.attributes.map(a => a.ref -> byRef(a.ref)).toMap,
          byRef(l.key.ref), byRef(l.labelAttribute.ref))
      }
    }
  }

  /** [[cellDetails]] flattened to a frame — (dim, level, _key, _label)
    * rows per cut path, for report fan-outs and oracle checks. */
  def cellDetailsFrame(cell: Cell, dimension: Option[String] = None): DataFrame = {
    val rows = cellDetails(cell, dimension).flatMap { cd =>
      def levelRows(ls: Option[Seq[LevelDetails]], tag: String) =
        ls.toSeq.flatten.map(l => (cd.cut.dim, tag, l.level,
          String.valueOf(l.key), String.valueOf(l.label)))
      cd match {
        case PointDetails(_, ls)      => levelRows(ls, "point")
        case SetDetails(_, paths)     => paths.flatMap(levelRows(_, "set"))
        case RangeDetails(_, from, to) =>
          levelRows(from, "from") ++ levelRows(to, "to")
      }
    }
    import spark.implicits._
    rows.toDF("dim", "part", "level", "_key", "_label")
  }

  // ------------------------------------------------------------- internals

  /** Backtick-safe column by logical ref (refs contain dots). */
  def bcol(ref: String): Column = col(s"`$ref`")

  /** Identifier → backticked column ref, or the parameter literal when
    * the identifier names a query parameter. */
  private def renameOrParam(id: String): String =
    parameters.get(id) match {
      case Some(v: String) => "'" + v.replace("'", "''") + "'"
      case Some(v)         => String.valueOf(v)
      case None            => s"`$id`"
    }

  private def dirCol(c: Column, dir: Option[String]): Column =
    dir.map(_.toLowerCase) match {
      case Some("desc") => c.desc
      case _            => c.asc
    }

  private def naturalOrderCol(l: Level): Column =
    dirCol(bcol(l.orderAttribute.ref), l.order)

  private def paginate(df: DataFrame, page: Option[Int], pageSize: Option[Int]): DataFrame =
    (page, pageSize) match {
      case (Some(p), Some(n)) => df.offset(Math.multiplyExact(p, n)).limit(n)
      case (None, Some(n))    => df.limit(n)
      case _                  => df
    }

  /** The star projected to `refs` (which must cover `cellRefs(cell)`),
    * filtered by the cell's predicate. */
  private def cellFrame(refs: Seq[String], cell: Cell,
      includeFactKey: Boolean = false): DataFrame = {
    val projected = projectedFrame(refs, includeFactKey)
    cellPredicate(projected, cell).map(projected.filter).getOrElse(projected)
  }

  private val Gid = "__gid__"

  /** The grouping indicator Σ grouping(ref)·2^i over `refs`, the first
    * ref most significant: 0 on a full-grouping row, 2^n − 1 on the
    * grand total. */
  private def gidColumn(refs: Seq[String]): Column =
    refs.foldLeft(lit(0))((acc, r) => acc * 2 + grouping(bcol(r))).cast("long").as(Gid)

  /** Refs whose physical columns a cell's predicate needs. */
  private def cellRefs(cell: Cell): Seq[String] =
    cell.cuts.flatMap { cut =>
      val dim = cube.dimension(cut.dim)
      val hier = dim.hierarchy(cut.hierarchy)
      hier.levelsForDepth(cut.levelDepth).map(l => dim.level(l).key.ref)
    }

  /** Direct dependencies of an aggregate — refs handed to projectedFrame,
    * which recursively expands + materializes derived columns. */
  private def aggMeasureRefs(agg: MeasureAggregate): Seq[String] = {
    val deps: Set[String] = agg.expression match {
      case Some(e) => ExprLang.identifiers(e)
      case None    => agg.measure.toSet
    }
    deps.toSeq.filter(d =>
      cube.measures.exists(_.name == d) || cube.allAttributes.contains(d))
  }

  /** Project the star to logical columns named by ref. Derived attributes
    * (attribute- or measure-level expressions) are added dependency-first
    * (reference `sql/query.py:819-938` QueryContext + depsort). */
  def projectedFrame(refs: Seq[String], includeFactKey: Boolean = false): DataFrame = {
    // expand derived refs to their base dependencies
    def expressionOf(ref: String): Option[String] =
      cube.measures.find(_.name == ref).flatMap(_.expression)
        .orElse(cube.allAttributes.get(ref).flatMap(_.expression))

    val allNeeded = scala.collection.mutable.LinkedHashSet.empty[String]
    // cycle guard mirroring ExprLang.depSort: without it a circular
    // expression pair (a -> b -> a) recurses to stack overflow HERE,
    // before depSort below ever sees it (reference raises
    // ExpressionError "Circular", tests/test_expressions.py:49)
    val visiting = scala.collection.mutable.Set.empty[String]
    def visit(ref: String): Unit = {
      if (allNeeded.contains(ref)) return
      if (!visiting.add(ref))
        throw new IllegalArgumentException(
          s"circular attribute dependency at '$ref'")
      expressionOf(ref) match {
        case Some(e) =>
          ExprLang.identifiers(e).filterNot(parameters.contains).foreach(visit)
        case None    =>
      }
      visiting -= ref
      allNeeded += ref
    }
    refs.foreach(visit)

    val (derived, base) = allNeeded.toSeq.partition(r => expressionOf(r).isDefined)
    // localization: a localized attribute reads its `col_<locale>` twin
    // (denormalized localization, reference mapper.py:240-248)
    val phys = star.physicalOf(base).map { case (r, p) =>
      val localizedP = (for {
        l <- locale
        a <- cube.allAttributes.get(r) if a.locales.contains(l)
      } yield p.copy(column = s"${p.column}_$l")).getOrElse(p)
      r -> localizedP
    }
    val physList = phys.values.toSeq ++
      (if (includeFactKey) Seq(factKeyPhysical) else Nil)
    val starDf = star.star(physList)

    val baseCols = base.map { r =>
      physColumn(starDf, phys(r)).as(r)
    }
    val keyCols = if (includeFactKey)
      Seq(physColumn(starDf, factKeyPhysical).as(FactKeyColumn)) else Nil
    var out = starDf.select(baseCols ++ keyCols: _*)

    // derived columns in dependency order
    val order = ExprLang.depSort(derived,
      r => expressionOf(r).map(ExprLang.identifiers).getOrElse(Set.empty))
    order.foreach { r =>
      expressionOf(r).foreach { e =>
        out = out.withColumn(r, expr(ExprLang.toSparkSql(e, renameOrParam)))
      }
    }
    out
  }

  private def factKeyPhysical: PhysicalRef = PhysicalRef(cube.factTable, star.factKeyColumn)

  private def physColumn(starDf: DataFrame, p: PhysicalRef): Column = {
    var c = col(s"`${star.qual(p.table, p.column)}`")
    p.extract.foreach { unit =>
      c = (unit.toLowerCase match {
        case "year"            => year(c)
        case "quarter"         => quarter(c)
        case "month"           => month(c)
        case "day"             => dayofmonth(c)
        case "hour"            => hour(c)
        case "minute"          => minute(c)
        case "second"          => second(c)
        case "week"            => weekofyear(c)
        case "dow" | "weekday" => dayofweek(c)
        case other => throw new IllegalArgumentException(s"unknown extract unit '$other'")
      }).cast("long")
    }
    p.function.foreach { f =>
      c = callFunction(f, c)
    }
    c
  }

  private def callFunction(name: String, c: Column): Column = name.toLowerCase match {
    case "lower" => lower(c)
    case "upper" => upper(c)
    case "trim"  => trim(c)
    case "abs"   => abs(c)
    case other   => throw new IllegalArgumentException(s"unknown mapping function '$other'")
  }

  import Browser.{isDistinctAgg, isSketchAgg}

  /** Grouped aggregation with a scale guard: when the aggregate list mixes
    * DISTINCT aggregates with sketch-class aggregates, Spark's one-distinct
    * rewrite keys the first partial aggregate by (group, distinct-value) —
    * which instantiates one percentile/HLL buffer PER DISTINCT VALUE
    * instead of per group (measured 12s vs <1s for 3 groups over a 200k-
    * cardinality distinct column at sf0.1; at corpus scale it is a straight
    * OOM). Computing the two families in separate passes joined null-safely
    * on the group keys keeps each plan in its fast shape: distinct as a
    * two-phase hash expand over scalar states, sketches one object buffer
    * per group. Both outputs are group-cardinality-sized, so the join is
    * trivial (broadcast). */
  private def groupedAgg(df: DataFrame, groupCols: Seq[String],
      aggs: Seq[MeasureAggregate]): DataFrame = {
    def agg1(as: Seq[MeasureAggregate]): DataFrame = {
      val cols = as.map(builtinAggColumn(df, _))
      if (groupCols.isEmpty) df.agg(cols.head, cols.tail: _*)
      else df.groupBy(groupCols.map(bcol): _*).agg(cols.head, cols.tail: _*)
    }
    val (sketch, rest) = aggs.partition(isSketchAgg)
    val hasDistinct = aggs.exists(isDistinctAgg)
    if (!hasDistinct || sketch.isEmpty || rest.isEmpty) agg1(aggs)
    else {
      val a = agg1(rest).alias("__agg_a__")
      val b = agg1(sketch).alias("__agg_b__")
      val joined =
        if (groupCols.isEmpty) a.crossJoin(b) // two single-row summaries
        else a.join(b, groupCols
          .map(k => col(s"__agg_a__.`$k`") <=> col(s"__agg_b__.`$k`"))
          .reduce(_ && _))
      // restore the caller's column order (group keys from the a-side,
      // aggregates as requested)
      joined.select(groupCols.map(k => col(s"__agg_a__.`$k`")) ++
        aggs.map(ag => col(s"`${ag.name}`")): _*)
    }
  }

  private def builtinAggColumn(df: DataFrame, agg: MeasureAggregate): Column = {
    val c: Column = agg.expression match {
      case Some(e) =>
        // aggregate defined by an expression, possibly containing aggregate
        // functions itself (reference sql/expressions.py:123-150)
        expr(ExprLang.toSparkSql(e, renameOrParam))
      case None =>
        val fn = agg.function.getOrElse(
          throw new IllegalArgumentException(s"aggregate '${agg.name}' has no function"))
        val builder = AggFunctions.builders.getOrElse(fn,
          throw new IllegalArgumentException(s"unknown aggregate function '$fn'"))
        agg.measure match {
          case Some(m) =>
            val mc = bcol(m)
            val dt = measureType(df, m)
            builder(mc, dt)
          case None => builder(lit(1), StringType)
        }
    }
    c.as(agg.name)
  }

  private def measureType(df: DataFrame, ref: String): DataType =
    df.schema.fields.find(_.name == ref).map(_.dataType).getOrElse(StringType)

  /** Parse a cut path value to the key column's Scala type, so predicates
    * carry properly-typed literals (pushable to Parquet row-group stats)
    * instead of string comparisons. */
  private def scalaValue(dt: DataType, v: String): Any = dt match {
    case org.apache.spark.sql.types.IntegerType => v.toInt
    case org.apache.spark.sql.types.LongType    => v.toLong
    case org.apache.spark.sql.types.ShortType   => v.toShort
    case org.apache.spark.sql.types.DoubleType  => v.toDouble
    case org.apache.spark.sql.types.FloatType   => v.toFloat
    case org.apache.spark.sql.types.BooleanType => v.toBoolean
    case org.apache.spark.sql.types.DateType    => java.sql.Date.valueOf(v)
    case _: org.apache.spark.sql.types.DecimalType => new java.math.BigDecimal(v)
    case _ => v
  }

  // ------------------------------------------------------- cut predicates

  /** AND over all cuts (reference `sql/query.py:940-949`). */
  def cellPredicate(df: DataFrame, cell: Cell): Option[Column] = {
    val conds = cell.cuts.flatMap(cutPredicate(df, _))
    if (conds.isEmpty) None else Some(conds.reduce(_ && _))
  }

  def cutPredicate(df: DataFrame, cut: Cut): Option[Column] = {
    val dim = cube.dimension(cut.dim)
    val hier = dim.hierarchy(cut.hierarchy)
    def keyCol(levelName: String): Column = {
      val ref = dim.level(levelName).key.ref
      bcol(ref)
    }
    def keyType(levelName: String): DataType = {
      val ref = dim.level(levelName).key.ref
      df.schema.fields.find(_.name == ref).map(_.dataType).getOrElse(StringType)
    }
    def valueLit(levelName: String, v: String): Column =
      if (v == CutParser.NullValue) lit(null).cast(keyType(levelName))
      else lit(scalaValue(keyType(levelName), v))

    def pointCond(path: Seq[String]): Column =
      path.zip(hier.levelNames).map { case (v, ln) =>
        if (v == CutParser.NullValue) keyCol(ln).isNull
        else keyCol(ln) === valueLit(ln, v)
      }.reduce(_ && _)

    /** Lexicographic hierarchical bound (reference `range_condition` /
      * `_boundary_condition`, `sql/query.py:1018-1077`): for bound
      * [a,b,c] lower: (k1=a ∧ k2=b ∧ k3≥c) ∨ (k1=a ∧ k2>b) ∨ (k1>a);
      * `≥/≤` only on the full-depth term. */
    def boundCond(path: Seq[String], lower: Boolean): Column = {
      val lvls = hier.levelNames.take(path.size)
      val terms = (path.indices.reverse).map { i =>
        val eqs = (0 until i).map(j =>
          keyCol(lvls(j)) === valueLit(lvls(j), path(j)))
        val isDeepest = i == path.size - 1
        val k = keyCol(lvls(i))
        val v = valueLit(lvls(i), path(i))
        val cmp =
          if (isDeepest) { if (lower) k >= v else k <= v }
          else { if (lower) k > v else k < v }
        (eqs :+ cmp).reduce(_ && _)
      }
      terms.reduce(_ || _)
    }

    val cond: Option[Column] = cut match {
      case PointCut(_, path, _, _) if path.isEmpty => None
      case PointCut(_, path, _, _) => Some(pointCond(path))
      case SetCut(_, paths, _, _) if paths.isEmpty => None
      case SetCut(_, paths, _, _) =>
        // depth-1 set → one typed IN-list, not an OR chain
        if (paths.forall(_.size == 1) && !paths.exists(_.contains(CutParser.NullValue))) {
          val ln = hier.levelNames.head
          Some(keyCol(ln).isin(paths.map(p => scalaValue(keyType(ln), p.head)): _*))
        } else Some(paths.map(pointCond).reduce(_ || _))
      case RangeCut(_, from, to, _, _) =>
        val lo = from.map(boundCond(_, lower = true))
        val hi = to.map(boundCond(_, lower = false))
        (lo, hi) match {
          case (Some(a), Some(b)) => Some(a && b)
          case (Some(a), None)    => Some(a)
          case (None, Some(b))    => Some(b)
          case (None, None)       => None
        }
    }
    cond.map(c => if (cut.invert) !c else c)
  }

  private def orderColumns(
      dd: Seq[DrilldownItem],
      explicit: Seq[(String, Option[String])],
      hasSplit: Boolean
  ): Seq[Column] = {
    val splitCol = if (hasSplit) Seq(bcol(SplitColumn).asc) else Nil
    val explicitCols = explicit.map { case (r, d) => dirCol(bcol(r), d) }
    val explicitRefs = explicit.map(_._1).toSet
    val naturalCols = dd.flatMap(_.levels)
      .filterNot(l => explicitRefs.contains(l.orderAttribute.ref))
      .map(naturalOrderCol)
    splitCol ++ explicitCols ++ naturalCols
  }

  /** Refuse additive aggregation of a nonadditive measure along the
    * dimension kind it is nonadditive over (opt-in; A14). */
  private def checkNonadditive(
      dd: Seq[DrilldownItem], aggs: Seq[MeasureAggregate]): Unit = {
    if (!enforceNonadditive || dd.isEmpty) return
    val overTime = dd.exists(_.dim.role.contains("time"))
    aggs.filter(_.function.contains("sum")).foreach { a =>
      a.measure.flatMap(m => cube.measures.find(_.name == m)).foreach { m =>
        val bad = m.nonadditive.exists(n =>
          n == "all" || (n == "time" && overTime))
        if (bad)
          throw new IllegalArgumentException(
            s"measure '${m.name}' is nonadditive (${m.nonadditive.get}); " +
              "refusing sum over this drilldown")
      }
    }
  }

  private def checkHighCardinality(
      dd: Seq[DrilldownItem],
      cell: Cell,
      page: Option[Int],
      pageSize: Option[Int]
  ): Unit = {
    // reference query/browser.py:297-309: refuse high-cardinality drilldown
    // without pagination or a cut on that dimension
    val paginated = pageSize.isDefined
    dd.foreach { item =>
      val high = item.levels.exists(_.cardinality.contains("high")) ||
        (item.dim.cardinality.contains("high") &&
          item.levelNames.lastOption.contains(item.dim.hierarchy(item.hierarchyName).levelNames.last))
      if (high && !paginated && cell.cut(item.dim.name).isEmpty)
        throw new IllegalArgumentException(
          s"drilldown on high-cardinality dimension '${item.dim.name}' " +
            "requires pagination or a cut")
    }
  }
}

object Browser {
  /** Columns of [[AggregationResult.rows]]: the summary flag and the
    * row's JSON object. */
  val IsSummary = "__summary__"
  val RowJson = "__json__"

  /** [[AggregationResult.rows]] of a plan with no summary row: every row
    * of `cells`, flagged as a cell. */
  private[graft] def cellRows(cells: DataFrame): DataFrame =
    cells.select(lit(false).as(IsSummary), Formats.jsonObject(cells.columns.toSeq).as(RowJson))

  /** Functions whose partial aggregate carries a per-group OBJECT buffer
    * (quantile summaries, HLL sketches) rather than a few codegen'd
    * scalars. */
  private[graft] val SketchFns =
    Set("median", "approx_median", "approx_count_distinct")
  private[graft] val DistinctFns = Set("count_distinct")

  /** Whether the aggregate is sketch-class — by function name, or by a
    * sketch function appearing inside an expression-defined aggregate. */
  private[graft] def isSketchAgg(a: graft.model.MeasureAggregate): Boolean =
    a.function.exists(SketchFns) || a.expression.exists { e =>
      val l = e.toLowerCase; SketchFns.exists(l.contains) || l.contains("percentile")
    }

  /** Whether the aggregate is distinct-class — by function name, or a
    * DISTINCT inside an expression-defined aggregate. */
  private[graft] def isDistinctAgg(a: graft.model.MeasureAggregate): Boolean =
    a.function.exists(DistinctFns) ||
      a.expression.exists(_.toLowerCase.contains("distinct"))

  /** True when `aggs` mixes distinct-class with sketch-class aggregates —
    * the combination whose single-pass plan builds one sketch buffer per
    * DISTINCT VALUE (see `groupedAgg`), so `aggregate` does not answer
    * it in one grouping-sets pass. */
  def mixesDistinctAndSketch(aggs: Seq[graft.model.MeasureAggregate]): Boolean =
    aggs.exists(isDistinctAgg) && aggs.exists(isSketchAgg)
}
