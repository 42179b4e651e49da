package graft.star

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import graft.exprs.ExprLang
import graft.ops.Fixpoint
import graft.model._

/** Maps logical attribute refs to physical (table, column) pairs.
  * Explicit `cube.mappings` win; otherwise naming conventions: `dim.attr` →
  * table `dim`, column `attr`; flat-dimension / measure / detail refs → a
  * fact-table column of the same name (reference `cubes/sql/mapper.py`,
  * `StarSchemaMapper` `mapper.py:279-323`).
  */
final class Mapper(cube: Cube) {
  private val dimNames = cube.dimensions.map(_.name).toSet

  def physical(ref: String): PhysicalRef =
    cube.mappings.getOrElse(ref, implicitMapping(ref))

  private def implicitMapping(ref: String): PhysicalRef = ref.split("\\.", 2) match {
    case Array(dim, attr) if dimNames.contains(dim) =>
      PhysicalRef(cube.dimensionPrefix + dim, attr)
    case _ => PhysicalRef(cube.factTable, ref)
  }
}

/** A star/snowflake over DataFrames.
  *
  * Design for scale: every input table is column-pruned *structurally*
  * before joining (only join keys + requested attribute columns survive, so
  * the Parquet scan's ReadSchema is minimal even before Catalyst pruning),
  * joins are emitted only for tables actually referenced by the query
  * (join pruning, reference `sql/query.py:606-676`), and dimension tables
  * can carry an explicit broadcast hint; otherwise AQE picks the strategy.
  *
  * Column-name discipline: every physical column is qualified as
  * `alias__column` while inside the star, which makes self-joined aliased
  * dimensions and same-named columns collision-free (the reference solves
  * this with SQL aliases, `sql/query.py:451-463`).
  */
final class StarSchema(
    val cube: Cube,
    val factDf: DataFrame,
    val tables: Map[String, DataFrame], // physical table name -> DataFrame
    /** The cube's shared pre-joined star (see [[PrejoinedStar]]); None
      * answers every request from its own join tree. */
    prejoined: Option[PrejoinedStar] = None
) {
  val mapper = new Mapper(cube)

  /** alias -> join providing it */
  private val joinByAlias: Map[String, JoinSpec] =
    cube.joins.map(j => j.detailAlias -> j).toMap

  def qual(alias: String, column: String): String = s"${alias}__$column"

  /** Physical refs for a set of logical attribute refs (base attrs only —
    * derived attributes must be resolved to their base deps by the caller). */
  def physicalOf(refs: Seq[String]): Map[String, PhysicalRef] =
    refs.map(r => r -> mapper.physical(r)).toMap

  /** Join-pruned alias closure: the aliases hosting the given physical refs
    * plus every master on the path back to the fact
    * (reference `required_tables`, `sql/query.py:606-676`). */
  def requiredAliases(phys: Iterable[PhysicalRef]): Set[String] = {
    val need = scala.collection.mutable.Set[String](cube.factTable)
    def addWithMasters(alias: String): Unit = {
      if (need.contains(alias)) return
      // an alias with no declared join has no path to the fact — fail HERE
      // with the intended diagnostic, not later as an unresolved-column
      // AnalysisException when star() silently omits its columns
      require(joinByAlias.contains(alias),
        s"table '$alias' is referenced by a mapping but has no join " +
          s"path to fact '${cube.factTable}'")
      need += alias
      addWithMasters(joinByAlias(alias).masterTable)
    }
    phys.foreach(p => if (p.table != cube.factTable) addWithMasters(p.table))
    need.toSet
  }

  /** Topologically ordered joins restricted to the required aliases: a join
    * is emitted once its master side is already part of the tree
    * (reference `get_star` fold, `sql/query.py:681-816`). */
  def orderedJoins(required: Set[String]): Seq[JoinSpec] = {
    val pending = scala.collection.mutable.ArrayBuffer(
      cube.joins.filter(j => required.contains(j.detailAlias)): _*)
    val available = scala.collection.mutable.Set[String](cube.factTable)
    val out = scala.collection.mutable.ArrayBuffer.empty[JoinSpec]
    var progress = true
    while (pending.nonEmpty && progress) {
      progress = false
      val i = pending.indexWhere(j => available.contains(j.masterTable))
      if (i >= 0) {
        val j = pending.remove(i)
        out += j
        available += j.detailAlias
        progress = true
      }
    }
    require(pending.isEmpty,
      s"unjoinable tables (no path to fact '${cube.factTable}'): " +
        pending.map(_.detailAlias).mkString(", "))
    out.toSeq
  }

  /** RI-based key-attribute join elimination: a detail alias that is
    * referenced ONLY for its join-key column(s), reached by a `match` join
    * whose [[JoinSpec.integrity]] is declared `verified`, and that is not
    * the master of another required alias, contributes nothing the master
    * side doesn't already have — key equality holds on every joined row,
    * and the declared integrity (non-null FK, present, detail key UNIQUE)
    * means the join neither drops nor multiplies master rows. The
    * join is elided and the key columns are served from the master,
    * aliased under the eliminated alias's qualified name so consumers are
    * oblivious. Iterates to fixpoint so snowflake chains referenced only
    * through their keys peel off leaf-first.
    *
    * Returns (substituted refs, map of eliminated (alias, column) →
    * providing (alias, column)). */
  private def eliminateKeyOnlyJoins(
      phys: Iterable[PhysicalRef]
  ): (Seq[PhysicalRef], Map[(String, String), (String, String)]) = {
    val elim = scala.collection.mutable.Map.empty[(String, String), (String, String)]
    var active = phys.toSeq.distinct
    var changed = true
    while (changed) {
      changed = false
      val required = requiredAliases(active)
      // aliases serving as the master of some OTHER required alias cannot
      // be eliminated — their join must be built anyway
      val masters = (required - cube.factTable)
        .flatMap(joinByAlias.get).map(_.masterTable)
      val byAlias = active.filter(_.table != cube.factTable).groupBy(_.table)
      byAlias.foreach { case (t, refs) =>
        joinByAlias.get(t).foreach { j =>
          val keyOf = j.detailColumns.zip(j.masterColumns).toMap
          if (j.integrityVerified && j.method == JoinMethod.Match &&
            !masters.contains(t) && refs.forall(r => keyOf.contains(r.column))) {
            refs.foreach(r => elim((t, r.column)) = (j.masterTable, keyOf(r.column)))
            active = active.filterNot(_.table == t) ++
              refs.map(r => PhysicalRef(j.masterTable, keyOf(r.column)))
            active = active.distinct
            changed = true
          }
        }
      }
    }
    (active, elim.toMap)
  }

  /** Fact column that identifies a fact row: the declared key, else `id`,
    * else the first fact column (reference `sql/query.py:380-396`). */
  def factKeyColumn: String = cube.keyColumn.getOrElse {
    if (factDf.columns.contains("id")) "id" else factDf.columns.head
  }

  /** Build the pruned, qualified star for the given base physical refs.
    * Output columns are `alias__column` for (at least) the needed columns.
    * A request whose pruned tree still holds a join reads a projection of
    * the cube's pre-joined star when [[prejoinable]], building the star if
    * need be; a fact-only request reads it only once it is built.
    * Otherwise the tree is built here. */
  def star(phys0: Iterable[PhysicalRef]): DataFrame = {
    val (phys, eliminated) = eliminateKeyOnlyJoins(phys0)
    val joins = orderedJoins(requiredAliases(phys))
    var starDf = fromPrejoined(phys, joined = joins.nonEmpty)
      .getOrElse(joinTree(phys, joins))
    // expose eliminated keys under their original qualified names (resolve
    // chains: an eliminated alias's provider may itself be eliminated)
    eliminated.foreach { case ((t, c), first) =>
      var (mt, mc) = first
      while (eliminated.contains((mt, mc))) {
        val next = eliminated((mt, mc)); mt = next._1; mc = next._2
      }
      starDf = starDf.withColumn(qual(t, c), col(qual(mt, mc)))
    }
    starDf
  }

  /** The fact table joined along `joins`, each input pruned to the
    * requested columns, its join keys and the fact key. */
  private def joinTree(phys: Seq[PhysicalRef], joins: Seq[JoinSpec]): DataFrame = {
    // per-alias needed columns: requested attribute columns + join keys
    val needed = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[String]]
    def need(alias: String, col: String): Unit =
      needed.getOrElseUpdate(alias, scala.collection.mutable.Set.empty) += col
    phys.foreach(p => need(p.table, p.column))
    joins.foreach { j =>
      j.masterColumns.foreach(need(j.masterTable, _))
      j.detailColumns.foreach(need(j.detailAlias, _))
    }
    cube.keyColumn.foreach(k => need(cube.factTable, k))

    def prefixed(df: DataFrame, alias: String): DataFrame = {
      val cols = needed.getOrElse(alias, scala.collection.mutable.Set.empty).toSeq.sorted
      // backticked: a denormalized table's columns are named by attribute
      // REF ("cat.key"), and a bare col("cat.key") would parse as a
      // struct-field access
      df.select(cols.map(c => col(s"`$c`").as(qual(alias, c))): _*)
    }

    var starDf = prefixed(factDf, cube.factTable)
    joins.foreach { j =>
      val detailBase = tables.getOrElse(j.detailTable,
        throw new IllegalArgumentException(s"unknown table '${j.detailTable}'"))
      var detail = prefixed(detailBase, j.detailAlias)
      detail = j.broadcastHint match {
        case Some(true) => broadcast(detail)
        case _          => detail
      }
      val cond = j.masterColumns.zip(j.detailColumns).map { case (m, d) =>
        col(qual(j.masterTable, m)) === col(qual(j.detailAlias, d))
      }.reduce(_ && _)
      val how = j.method match {
        case JoinMethod.Match  => "inner"
        case JoinMethod.Master => "left_outer"
        case JoinMethod.Detail => "right_outer"
        case other => throw new IllegalArgumentException(s"unknown join method '$other'")
      }
      starDf = starDf.join(detail, cond, how)
    }
    starDf
  }

  /** Whether a projection of the full join answers every request exactly
    * like its pruned tree: every join is a `match` join with verified
    * integrity, so the full join holds each fact row exactly once (the
    * guarantee [[eliminateKeyOnlyJoins]] relies on), and every detail
    * table is registered. */
  private val prejoinable: Boolean = cube.joins.nonEmpty && cube.joins.forall(j =>
    j.integrityVerified && j.method == JoinMethod.Match && tables.contains(j.detailTable))

  /** Physical columns of the pre-joined star: every existing column that
    * an attribute, measure, detail, mapping or expression identifier maps
    * to, its localized twins, the join keys (an eliminated join's key is
    * served from its master side) and the fact key. */
  private lazy val prejoinedColumns: Set[PhysicalRef] = {
    val columnsOf: Map[String, Set[String]] =
      cube.joins.map(j => j.detailAlias -> tables(j.detailTable).columns.toSet).toMap +
        (cube.factTable -> factDf.columns.toSet)
    val expressions = cube.allAttributes.values.flatMap(_.expression) ++
      cube.measures.flatMap(_.expression) ++ cube.aggregates.flatMap(_.expression)
    val refs = (cube.allAttributes.keys ++ cube.mappings.keys ++
      expressions.flatMap(ExprLang.identifiers)).toSeq.distinct
    val cols = refs.flatMap { r =>
      val p = mapper.physical(r)
      val locales = cube.allAttributes.get(r).map(_.locales).getOrElse(Nil)
      (p.column +: locales.map(l => s"${p.column}_$l")).map(PhysicalRef(p.table, _))
    } ++ cube.joins.flatMap(j => j.masterColumns.map(PhysicalRef(j.masterTable, _)) ++
      j.detailColumns.map(PhysicalRef(j.detailAlias, _))) :+
      PhysicalRef(cube.factTable, factKeyColumn)
    cols.filter(p => columnsOf.get(p.table).exists(_.contains(p.column))).toSet
  }

  /** `phys` projected from the pre-joined star, or None when the cube is
    * not [[prejoinable]], has no shared star, or a ref is not in it. A
    * `joined` request builds the star when absent; a fact-only one reads
    * it only once built and never builds it. */
  private def fromPrejoined(phys: Seq[PhysicalRef], joined: Boolean): Option[DataFrame] = {
    val cols = phys.map(p => PhysicalRef(p.table, p.column)).distinct
    prejoined.filter(_ => prejoinable && cols.forall(prejoinedColumns))
      .flatMap(p => if (joined) p.frame(joinTree(prejoinedColumns.toSeq,
        orderedJoins(cube.joins.map(_.detailAlias).toSet))) else p.ifBuilt)
      .map(_.select(cols.map(p => col(s"`${qual(p.table, p.column)}`")): _*))
  }
}

/** One pre-joined star of a cube, built on first use and shared by every
  * browser of the cube (all identities, restriction cells, locales and
  * hierarchy limits). The star is the round wrap of the iterative
  * operators ([[graft.ops.Fixpoint.persistedLeaf]]): the full join's rows,
  * persisted, under a leaf that keeps the join's lineage. The first
  * joined request fills it with one `count`, which also measures it. A
  * star no larger than the session's `spark.sql.autoBroadcastJoinThreshold`
  * (Spark's bound for a relation small enough to ship whole; negative
  * turns this off) is read as one partition that declares it: every
  * aggregate, distinct and sort over it plans with no exchange, so a
  * request runs as one stage. A lost block is recomputed on its next
  * read. [[drop]] releases the star for good, after which requests
  * answer from their join trees. The owner
  * ([[graft.workspace.Workspace]]) drops it when a table of the cube's
  * store is re-registered or the cube switches to a denormalized table. */
final class PrejoinedStar(cubeName: String) {
  // volatile: [[ifBuilt]] reads it without waiting on a build
  @volatile private var current: Option[(DataFrame, RDD[InternalRow])] = None
  private var dropped = false
  private var builds = 0

  /** The star, built and filled from `build` when absent; None once
    * dropped. Concurrent first requests build it once. */
  def frame(build: => DataFrame): Option[DataFrame] = synchronized {
    if (dropped) None
    else {
      if (current.isEmpty) {
        current = Some(fill(build))
        builds += 1
      }
      current.map(_._1)
    }
  }

  /** The star if it is built; never builds it. */
  def ifBuilt: Option[DataFrame] = current.map(_._1)

  /** `build` persisted, filled and measured, and the leaf that serves it. */
  private def fill(build: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val spark = build.sparkSession
    val bytes = spark.sparkContext.longAccumulator
    val (wrapped, rdd) = Fixpoint.persistedLeaf(build, {
      case r: UnsafeRow => bytes.add(r.getSizeInBytes.toLong)
      case _ => ()
    })
    rdd.setName(s"${PrejoinedStar.RddName} '$cubeName'")
    // a failed fill leaves no blocks behind; the next request builds anew
    val rows = try rdd.count() catch { case e: Throwable =>
      rdd.unpersist(blocking = false); throw e
    }
    val bound = spark.sessionState.conf.autoBroadcastJoinThreshold
    val single = bound >= 0 && bytes.value <= bound
    PrejoinedStar.log.info(s"${PrejoinedStar.RddName} '$cubeName': $rows rows, " +
      s"${bytes.value} bytes, ${rdd.getNumPartitions} partitions, " +
      s"served as one partition: $single (bound $bound bytes)")
    if (single)
      (GraftSqlBridge.singlePartitionDataFrame(spark, rdd.coalesce(1), build.schema), rdd)
    else (wrapped, rdd)
  }

  /** How many times the star was built. */
  def buildCount: Int = synchronized(builds)

  /** The star's persisted rows; None before the first build and once
    * dropped. */
  private[graft] def built: Option[RDD[InternalRow]] = current.map(_._2)

  /** Release the star's blocks; later requests read their join trees. */
  def drop(): Unit = synchronized {
    dropped = true
    current.foreach(_._2.unpersist(blocking = false))
    current = None
  }
}

object PrejoinedStar {
  /** Prefix of the name of every star's RDD (Spark's storage listings show
    * it): a star lives as long as its workspace serves the cube, unlike the
    * per-request and per-operator persists. */
  val RddName = "pre-joined star of cube"

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[PrejoinedStar])
}
