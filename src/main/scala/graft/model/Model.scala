package graft.model

/** Logical multidimensional model: cubes, dimensions, hierarchies, levels,
  * measures, aggregates — the metadata layer of a ROLAP aggregation browser.
  *
  * Shapes mirror the reference model objects (DataBrewery cubes,
  * `cubes/metadata/{cube,dimension,attributes}.py`) but are plain Scala case
  * classes; physical schemas stay "reflected" — they come from the Parquet
  * `StructType` at read time, never declared here.
  */

/** A dimension (or fact) attribute.
  *
  * @param name       attribute name within its level / cube
  * @param dimName    owning dimension, if any (drives the `dim.attr` ref)
  * @param flatRef    when true the attribute ref is just the dimension name
  *                   (reference: flat dimension without details,
  *                   `attributes.py:249-255`)
  * @param expression optional arithmetic expression over other attributes
  *                   (`attributes.py:268-289`); compiled dependency-first
  * @param locales    available locales; localized physical column =
  *                   `col_<locale>` (`mapper.py:240-248`)
  */
final case class Attribute(
    name: String,
    dimName: Option[String] = None,
    flatRef: Boolean = false,
    expression: Option[String] = None,
    label: Option[String] = None,
    orderAttribute: Option[String] = None,
    order: Option[String] = None,
    missingValue: Option[Any] = None,
    locales: Seq[String] = Nil
) {
  /** Logical reference: `dim.attr` for dimension attributes, plain name for
    * measures/details, bare dimension name for flat dimensions. */
  def ref: String = dimName match {
    case Some(d) if flatRef => d
    case Some(d)            => s"$d.$name"
    case None               => name
  }
}

/** Ordering direction for natural per-level ordering. */
object Order {
  val Asc = "asc"
  val Desc = "desc"
}

/** One level of a hierarchy: named attribute set with a distinguished key
  * and label attribute (reference `dimension.py:982-1210`). */
final case class Level(
    name: String,
    attributes: Seq[Attribute],
    keyName: Option[String] = None,
    labelAttributeName: Option[String] = None,
    orderAttributeName: Option[String] = None,
    order: Option[String] = None,
    cardinality: Option[String] = None,
    role: Option[String] = None,
    nonadditive: Option[String] = None,
    label: Option[String] = None
) {
  require(attributes.nonEmpty, s"level '$name' has no attributes")

  /** Key attribute: declared, else first attribute
    * (reference `dimension.py:1076-1081`). */
  def key: Attribute =
    keyName.flatMap(k => attributes.find(_.name == k)).getOrElse(attributes.head)

  /** Label attribute: declared, else last attribute
    * (reference `dimension.py:1083-1093`). */
  def labelAttribute: Attribute =
    labelAttributeName.flatMap(k => attributes.find(_.name == k)).getOrElse(attributes.last)

  /** Attribute used for natural ordering: declared, else the key
    * (reference `dimension.py:1095-1103`). */
  def orderAttribute: Attribute =
    orderAttributeName.flatMap(k => attributes.find(_.name == k)).getOrElse(key)
}

/** Ordered list of levels (reference `dimension.py:745-979`). */
final case class Hierarchy(name: String, levelNames: Seq[String]) {
  require(levelNames.nonEmpty, s"hierarchy '$name' has no levels")

  def levelIndex(level: String): Int = {
    val i = levelNames.indexOf(level)
    require(i >= 0, s"level '$level' not in hierarchy '$name'")
    i
  }
  def levelsForDepth(depth: Int, drilldown: Boolean = false): Seq[String] = {
    val extra = if (drilldown) 1 else 0
    require(depth + extra <= levelNames.size,
      s"depth $depth${if (drilldown) "+1" else ""} exceeds hierarchy '$name' (${levelNames.size} levels)")
    levelNames.take(depth + extra)
  }
  def nextLevel(level: Option[String]): Option[String] = level match {
    case None => levelNames.headOption
    case Some(l) =>
      val i = levelIndex(l)
      if (i + 1 < levelNames.size) Some(levelNames(i + 1)) else None
  }
  /** Truncate a path at the named level (inclusive), reference
    * `dimension.py:907-930`. */
  def rollup(path: Seq[String], level: Option[String] = None): Seq[String] = level match {
    case None    => path.dropRight(1)
    case Some(l) => path.take(levelIndex(l) + 1)
  }
}

/** Dimension: levels + hierarchies + optional role ("time" drives calendar
  * member conversion), reference `dimension.py:49-343`. */
final case class Dimension(
    name: String,
    levels: Seq[Level],
    hierarchies: Seq[Hierarchy] = Nil,
    defaultHierarchyName: Option[String] = None,
    role: Option[String] = None,
    cardinality: Option[String] = None,
    nonadditive: Option[String] = None,
    label: Option[String] = None
) {
  require(levels.nonEmpty, s"dimension '$name' has no levels")

  val allHierarchies: Seq[Hierarchy] =
    if (hierarchies.nonEmpty) hierarchies
    else Seq(Hierarchy("default", levels.map(_.name)))

  def hierarchy(name: Option[String] = None): Hierarchy = {
    val hname = name.orElse(defaultHierarchyName)
    hname match {
      case Some(h) =>
        allHierarchies.find(_.name == h).getOrElse(
          throw new IllegalArgumentException(s"no hierarchy '$h' in dimension '${this.name}'"))
      case None => allHierarchies.head
    }
  }
  def level(name: String): Level =
    levels.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no level '$name' in dimension '${this.name}'"))

  def isFlat: Boolean = levels.size == 1
  def hasDetails: Boolean = levels.exists(_.attributes.size > 1)

  /** All attributes of this dimension, with refs resolved. */
  def attributes: Seq[Attribute] = levels.flatMap(_.attributes)

  /** Clone for a cube's dimension link (reference `Dimension.clone`,
    * `dimension.py:473-559`, applied by `Cube.link_dimension`,
    * `cube.py:519-530`):
    *  - `hierarchies` keeps only the named hierarchies (error when empty);
    *  - `excludeHierarchies` keeps all but the named ones;
    *  - levels are restricted to those the kept hierarchies use;
    *  - `alias` renames the dimension — level attributes are re-owned so
    *    their `dim.attr` refs follow the alias;
    *  - the default hierarchy survives if kept, else the first kept one. */
  def cloneWith(
      hierarchies: Option[Seq[String]] = None,
      excludeHierarchies: Seq[String] = Nil,
      alias: Option[String] = None,
      defaultHierarchyName: Option[String] = None,
      cardinality: Option[String] = None,
      nonadditive: Option[String] = None
  ): Dimension = {
    if (hierarchies.exists(_.isEmpty))
      throw new IllegalArgumentException(
        s"cannot remove all hierarchies from dimension '$name'")
    val kept = hierarchies match {
      case Some(hs) => hs.map(h => hierarchy(Some(h)))
      case None if excludeHierarchies.nonEmpty =>
        allHierarchies.filterNot(h => excludeHierarchies.contains(h.name))
      case None => allHierarchies
    }
    require(kept.nonEmpty, s"no hierarchies to clone in dimension '$name'")
    val newName = alias.getOrElse(name)
    val keptLevelNames = kept.flatMap(_.levelNames).distinct
    val keptLevels = keptLevelNames.map(level).map(l =>
      l.copy(attributes = l.attributes.map(a =>
        a.copy(dimName = a.dimName.map(_ => newName)))))
    val newDefault = defaultHierarchyName.getOrElse {
      val cur = hierarchy(None).name
      if (kept.exists(_.name == cur)) cur else kept.head.name
    }
    Dimension(newName, keptLevels, kept,
      defaultHierarchyName = Some(newDefault),
      role = role,
      cardinality = cardinality.orElse(this.cardinality),
      nonadditive = nonadditive.orElse(this.nonadditive),
      label = label)
  }
}

object Dimension {
  /** A flat dimension: single level, single attribute, ref == dim name. */
  def flat(name: String, cardinality: Option[String] = None): Dimension =
    Dimension(name,
      levels = Seq(Level(name, Seq(Attribute(name, Some(name), flatRef = true)))),
      cardinality = cardinality)
}

/** Numeric fact attribute (reference `attributes.py:292-403`). */
final case class Measure(
    name: String,
    expression: Option[String] = None,
    aggregates: Seq[String] = Seq("sum"),
    nonadditive: Option[String] = None,
    windowSize: Option[Int] = None,
    label: Option[String] = None
) {
  def ref: String = name
}

/** Named aggregation: (function, measure) or expression
  * (reference `attributes.py:406-499`). */
final case class MeasureAggregate(
    name: String,
    function: Option[String] = None,
    measure: Option[String] = None,
    expression: Option[String] = None,
    windowSize: Option[Int] = None,
    label: Option[String] = None
) {
  def ref: String = name
  /** Names this aggregate depends on (measure or expression identifiers),
    * reference `attributes.py:480-499`. */
  def dependencies: Set[String] = expression match {
    case Some(e) => graft.exprs.ExprLang.identifiers(e)
    case None    => measure.toSet
  }
}

/** Physical column reference produced by the mapper: table + column with an
  * optional date-part `extract` and unary `function`
  * (reference `sql/query.py:51,582-586`). */
final case class PhysicalRef(
    table: String,
    column: String,
    extract: Option[String] = None,
    function: Option[String] = None
)

/** Join spec between a master (fact-side) and detail (dimension-side) key.
  * Compound keys allowed. `method`: match → inner, master → left outer,
  * detail → right outer (reference `sql/query.py:176-224,791-804`).
  *
  * @param alias when the same detail table joins twice, results are exposed
  *              under this alias (reference `sql/query.py:451-463`)
  * @param broadcastHint force/forbid broadcast of the detail side; None
  *                      lets Catalyst/AQE decide (star dims are usually
  *                      broadcast-able; fact-sized details are not)
  */
final case class JoinSpec(
    masterTable: String,
    masterColumns: Seq[String],
    detailTable: String,
    detailColumns: Seq[String],
    alias: Option[String] = None,
    method: String = JoinMethod.Match,
    broadcastHint: Option[Boolean] = None,
    /** Referential-integrity declaration. `Some("verified")` asserts a
      * true FK→PK relationship: every master row's key is NON-NULL,
      * present in the detail table, and the detail key is UNIQUE (no
      * fan-out) — the classic RI hint (Oracle's RELY, DB2's NOT ENFORCED
      * TRUSTED). With it, a `match` join referenced only for its key
      * column(s) is ELIMINATED and the key served from the master side
      * ([[graft.star.StarSchema.star]]) — e.g. COUNT(DISTINCT dim.key)
      * without touching the dimension. All three legs of the contract
      * matter: without uniqueness the inner join would multiply master
      * rows, without presence/non-null it would drop them — either way
      * elimination would change results. Catalyst cannot do this on its
      * own; the declaration asserts the hazards away. */
    integrity: Option[String] = None
) {
  require(masterColumns.size == detailColumns.size,
    s"join $masterTable->$detailTable: key arity mismatch")
  require(integrity.forall(_ == "verified"),
    s"join $masterTable->$detailTable: unknown integrity " +
      s"'${integrity.get}' (only \"verified\" is defined)")
  def detailAlias: String = alias.getOrElse(detailTable)
  def integrityVerified: Boolean = integrity.contains("verified")
}

object JoinMethod {
  val Match = "match"   // INNER
  val Master = "master" // LEFT OUTER (keep all fact rows)
  val Detail = "detail" // RIGHT OUTER (keep all dimension rows)
}

/** The cube: fact dataset + dimensions + measures + aggregates + physical
  * hints (reference `cubes/metadata/cube.py:46-272`). */
final case class Cube(
    name: String,
    factTable: String,
    dimensions: Seq[Dimension],
    measures: Seq[Measure] = Nil,
    aggregates: Seq[MeasureAggregate] = Nil,
    details: Seq[Attribute] = Nil,
    joins: Seq[JoinSpec] = Nil,
    mappings: Map[String, PhysicalRef] = Map.empty,
    keyColumn: Option[String] = None,
    label: Option[String] = None,
    /** Naming convention: implicit dimension-table name = prefix + dim
      * name (reference `Naming`, `mapper.py:88-211`, e.g. `dim_`). */
    dimensionPrefix: String = ""
) {
  def dimension(name: String): Dimension =
    dimensions.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no dimension '$name' in cube '${this.name}'"))

  def measure(name: String): Measure =
    measures.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no measure '$name' in cube '${this.name}'"))

  def aggregate(name: String): MeasureAggregate =
    aggregates.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no aggregate '$name' in cube '${this.name}'"))

  /** All dimension attributes + measures + details, by ref. */
  lazy val allAttributes: Map[String, Attribute] = {
    val dimAttrs = dimensions.flatMap(_.attributes).map(a => a.ref -> a)
    // carry the measure's label: csv header=labels and other metadata
    // consumers look attributes up here
    val measAttrs = measures.map(m =>
      m.ref -> Attribute(m.name, expression = m.expression, label = m.label))
    val detAttrs = details.map(a => a.ref -> a)
    (dimAttrs ++ measAttrs ++ detAttrs).toMap
  }

  def attribute(ref: String): Attribute =
    allAttributes.getOrElse(ref,
      throw new IllegalArgumentException(s"no attribute '$ref' in cube '${this.name}'"))

  /** Clone pointed at a materialized denormalized table: joins dropped,
    * every attribute/measure/detail ref mapped to the bare column named by
    * the ref itself — the layout
    * [[graft.materialize.Materialize.denormalized]] writes (reference
    * `is_denormalized`/`use_denormalization` browser option →
    * `DenormalizedMapper`, `sql/browser.py:156-159`,
    * `sql/mapper.py:269-276`). Base columns referenced only through
    * derived expressions need no explicit mapping: a dot-free ref falls
    * through to an implicit fact-table mapping, and the denormalized sink
    * materializes those dependency columns too. */
  def denormalizedClone(table: String,
      keyCol: String = "__fact_key__"): Cube = copy(
    factTable = table,
    joins = Nil,
    mappings = allAttributes.keys.map(r => r -> PhysicalRef(table, r)).toMap,
    keyColumn = Some(keyCol))
}

object Cube {
  /** Default aggregate when a cube declares none: plain fact count
    * (reference `cube.py:26-30,120-121`). */
  val FactCount: MeasureAggregate =
    MeasureAggregate("fact_count", function = Some("count"))
}
