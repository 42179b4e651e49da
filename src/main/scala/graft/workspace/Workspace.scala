package graft.workspace

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.{Cube, Localization, ModelJson}
import graft.star.{PrejoinedStar, StarSchema}
import graft.browser.Browser
import graft.cells.Cell

/** Workspace: model registry + browser factory (reference
  * `cubes/workspace.py:56-230,510+` — config loads models and stores,
  * `workspace.browser(cube)` instantiates the store's browser). Here a
  * store is a directory (or explicit map) of parquet tables; models come
  * from JSON ([[ModelJson]]) or are registered programmatically. */
final class Workspace(val spark: SparkSession) {

  private val cubes = scala.collection.mutable.LinkedHashMap.empty[String, Cube]
  // per-store table registries: key "" is the default store, other keys are
  // namespaces (reference `workspace.py:205-223` — [store] is the default
  // store, [store_*] sections register named stores whose cubes live in a
  // namespace; each cube browses ITS store's tables)
  private val stores = scala.collection.mutable.LinkedHashMap(
    "" -> scala.collection.mutable.Map.empty[String, DataFrame])
  private def storeTables(ns: String) =
    stores.getOrElseUpdate(ns, scala.collection.mutable.Map.empty)
  // cube ref -> namespace whose store backs it ("" = default)
  private val cubeStore = scala.collection.mutable.Map.empty[String, String]
  // (cube, restriction, locale, hierarchy limits) -> browser; cube -> its
  // shared pre-joined star. Both guarded by `browsers`
  private val browsers = scala.collection.mutable.Map.empty[
    (String, String, Option[String], Seq[graft.auth.HierarchyLimit]), Browser]
  private val stars = scala.collection.mutable.Map.empty[String, PrejoinedStar]

  /** Forget the cached browsers and pre-joined stars of the cubes `which`
    * selects, so the next browse reads the current tables and model. */
  private def evict(which: String => Boolean): Unit = {
    val dropped = browsers.synchronized {
      browsers.filterInPlace { case (k, _) => !which(k._1) }
      val gone = stars.filter { case (c, _) => which(c) }
      stars --= gone.keys
      gone.values.toSeq
    }
    // outside the lock: a drop waits for a build in progress
    dropped.foreach(_.drop())
  }

  /** Evict every cube that can see the tables of store `ns`: all cubes for
    * the default store (its tables are shared dimensions), else the
    * store's own cubes. */
  private def evictStore(ns: String): Unit =
    evict(c => ns.isEmpty || cubeStore.get(c).contains(ns))

  def registerCube(cube: Cube): this.type = {
    cubes(cube.name) = cube
    evict(_ == cube.name)
    this
  }

  /** Register under a namespace: the cube is addressed as `ns.cube`
    * everywhere (reference `namespace.py` — hierarchical cube naming;
    * `find_cube` resolves the dotted path and the served name is the
    * fully-qualified reference, `workspace.py:536-541`), and browses the
    * namespace's store (falling back to default-store tables for shared
    * dimensions). */
  def registerCube(cube: Cube, namespace: String): this.type = {
    val ref = s"$namespace.${cube.name}"
    cubes(ref) = cube.copy(name = ref)
    cubeStore(ref) = namespace
    evict(_ == ref)
    this
  }

  def importModel(json: String): this.type = {
    ModelJson.loadString(json).foreach(registerCube)
    this
  }

  /** Import a model's cubes into `namespace` (reference store-bound models:
    * `workspace.py:357-364` — a store section's `model:` loads into the
    * store's namespace). */
  def importModel(json: String, namespace: String): this.type = {
    ModelJson.loadString(json).foreach(registerCube(_, namespace))
    this
  }

  /** Register every `<name>.parquet`, `<name>.csv`, and `<name>.jsonl` /
    * `<name>.ndjson` under the directory as a table of the given store
    * ("" = default store). Each entry may be a single file or a
    * directory of part files (a Spark sink's output registers as-is).
    * CSV reads with header + schema inference — schema-on-register, one
    * extra pass over the csv ONLY (reference stores type their columns
    * at load the same way, `tutorial create_table_from_csv`); parquet
    * stays the scale format, text formats are the ingest convenience. */
  def registerTableDir(dir: String, namespace: String = ""): this.type = {
    // tolerate TIMESTAMP(NANOS) columns (read as long nanos)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    def put(name: String, df: DataFrame): Unit =
      storeTables(namespace)(name) = df
    files.foreach { f =>
      val n = f.getName
      val p = f.getAbsolutePath
      if (n.endsWith(".parquet"))
        put(n.stripSuffix(".parquet"), spark.read.parquet(p))
      else if (n.endsWith(".csv"))
        // multiLine: quoted embedded newlines must not split records;
        // it pins each FILE to one input split, which is the right
        // trade for an ingest-convenience format (scale data is parquet)
        put(n.stripSuffix(".csv"), spark.read
          .option("header", "true").option("inferSchema", "true")
          .option("multiLine", "true").csv(p))
      else if (n.endsWith(".jsonl"))
        put(n.stripSuffix(".jsonl"), spark.read.json(p))
      else if (n.endsWith(".ndjson"))
        put(n.stripSuffix(".ndjson"), spark.read.json(p))
      else if (n.endsWith(".orc"))
        put(n.stripSuffix(".orc"), spark.read.orc(p))
    }
    evictStore(namespace)
    this
  }

  /** The registered table, as the store's cubes would see it. */
  def table(name: String, namespace: String = ""): DataFrame =
    storeTables(namespace)(name)

  /** Register (or replace) a table of a store; browsers of the cubes that
    * see the store are rebuilt on their next use. */
  def registerTable(name: String, df: DataFrame,
      namespace: String = ""): this.type = {
    storeTables(namespace)(name) = df
    evictStore(namespace)
    this
  }

  /** Tables visible to a cube: its own store's tables shadow same-named
    * default-store tables; default-store tables remain visible as shared
    * dimensions. */
  private def tablesFor(cubeName: String): Map[String, DataFrame] = {
    val ns = cubeStore.getOrElse(cubeName, "")
    if (ns.isEmpty) stores("").toMap
    else stores("").toMap ++ storeTables(ns).toMap
  }

  // HTTP-federated cubes (S9): cube ref -> (remote store, remote cube name)
  // (reference SlicerStore + SlicerModelProvider, cubes/server/store.py)
  private val federated = scala.collection.mutable.LinkedHashMap
    .empty[String, (graft.federation.SlicerStore, String)]

  /** Register every cube served by a remote slicer under `namespace`; the
    * remote executes all browsing, this workspace relays (reference
    * `[store] type: slicer`, `server/store.py:19-130`). */
  def registerSlicerStore(store: graft.federation.SlicerStore,
      namespace: String = ""): this.type = {
    store.listCubes().foreach { n =>
      val ref = if (namespace.isEmpty) n else s"$namespace.$n"
      federated(ref) = (store, n)
    }
    this
  }

  def isFederated(name: String): Boolean = federated.contains(name)

  /** Relay browser for a federated cube (the remote's model decides what
    * the verbs mean; see [[graft.federation.FederatedBrowser]]). */
  def federatedBrowser(name: String): graft.federation.FederatedBrowser = {
    val (store, remote) = federated.getOrElse(name,
      throw new IllegalArgumentException(s"cube '$name' is not federated"))
    new graft.federation.FederatedBrowser(store, remote, spark)
  }

  def cubeNames: Seq[String] =
    (cubes.synchronized(cubes.keys.toSeq) ++ federated.keys).toSeq.distinct
  def cube(name: String): Cube = cubes.synchronized(cubes.get(name)) match {
    case Some(c) => c
    case None => federated.get(name) match {
      case Some((store, remote)) =>
        // fetch the remote model OUTSIDE the lock (an HTTP round-trip must
        // not block every concurrent server request on the shared map),
        // then cache it like a local registration; the server's fixed
        // thread pool hits this map concurrently, and an unsynchronized
        // write could corrupt it (the `browsers` cache is guarded for the
        // same reason)
        val c = store.cube(remote).copy(name = name)
        cubes.synchronized(cubes.getOrElseUpdate(name, c))
      case None =>
        throw new IllegalArgumentException(s"unknown cube '$name'")
    }
  }

  /** Model-metadata translations (reference `translations=` workspace
    * option + `cube(..., locale=)`, `workspace.py:383,540-546`). */
  private var translations: Option[Localization.Translations] = None
  def importTranslations(byLocaleJson: Map[String, String]): this.type = {
    translations = Some(Localization.Translations.fromJson(byLocaleJson)); this
  }

  /** Cube with model labels localized for `locale` (falls back to the
    * untranslated model when no translation is registered). */
  def cube(name: String, locale: Option[String]): Cube = locale match {
    case Some(l) => translations.map(_.localize(cube(name), l)).getOrElse(cube(name))
    case None    => cube(name)
  }

  /** Authorizer consulted by [[browserFor]] / [[authorizedCubes]] and the
    * slicer server (reference `workspace.py` wires `authorization=` from
    * config; programmatic here). None = everything allowed. */
  private var auth: Option[graft.auth.SimpleAuthorizer] = None
  def setAuthorizer(a: graft.auth.SimpleAuthorizer): this.type = {
    auth = Some(a); this
  }
  def authorizer: Option[graft.auth.SimpleAuthorizer] = auth

  /** Cube names the identity may see (reference `authorized_cube` /
    * `/cubes`, `server/blueprint.py:265-293`). */
  def authorizedCubes(identity: Option[String]): Seq[String] = auth match {
    case Some(a) => a.authorize(identity.getOrElse(""), cubeNames)
    case None    => cubeNames
  }

  // cube name -> registered table holding its materialized denormalized
  // star (reference browser option `is_denormalized`/`use_denormalization`,
  // `sql/browser.py:156-159`)
  private val denormTables = scala.collection.mutable.Map.empty[String, String]

  /** Point a cube's browser at a materialized denormalized table (written
    * by [[graft.materialize.Materialize.writeDenormalized]] and registered
    * with [[registerTable]]): browsing skips the fold-joins entirely —
    * every attribute is the bare column named by its ref. The Spark
    * analogue of the reference's `DenormalizedMapper` switch
    * (`sql/mapper.py:269-276`). */
  def useDenormalized(cubeName: String, table: String): this.type = {
    denormTables(cubeName) = table
    evict(_ == cubeName)
    this
  }

  /** Browser for a cube (cached; reference builds mapper+star once per
    * browser, `sql/browser.py:102-190`). Every browser of a cube shares
    * one pre-joined star ([[graft.star.PrejoinedStar]]), built by the
    * first request that needs a join. */
  def browser(cubeName: String, restriction: Cell = Cell.empty,
      locale: Option[String] = None,
      hierarchyLimits: Seq[graft.auth.HierarchyLimit] = Nil): Browser =
    // synchronized: the multi-threaded server resolves a browser per
    // request; getOrElseUpdate on a mutable map is not atomic. Browser
    // construction is cheap (plans stay lazy), so the lock is uncontended
    browsers.synchronized(browsers.getOrElseUpdate(
      (cubeName, restriction.toCutString, locale, hierarchyLimits), {
      require(!federated.contains(cubeName),
        s"cube '$cubeName' is browsed remotely — use federatedBrowser")
      val c0 = cube(cubeName)
      val visible = tablesFor(cubeName)
      val c = denormTables.get(cubeName) match {
        case Some(t) =>
          require(visible.contains(t),
            s"denormalized table '$t' for cube '$cubeName' is not registered")
          c0.denormalizedClone(t)
        case None => c0
      }
      val fact = visible.getOrElse(c.factTable,
        throw new IllegalArgumentException(s"no table '${c.factTable}' registered"))
      val shared = stars.getOrElseUpdate(cubeName, new PrejoinedStar(cubeName))
      new Browser(c, new StarSchema(c, fact, visible, Some(shared)), spark,
        restrictionCell = restriction, locale = locale,
        hierarchyLimits = hierarchyLimits)
    }))

  /** The cube's pre-joined star while it is cached. */
  private[graft] def prejoinedStar(cubeName: String): Option[PrejoinedStar] =
    browsers.synchronized(stars.get(cubeName))

  /** Browser restricted for an identity: restriction cell AND hierarchy
    * limits from the authorizer (reference `server/decorators.py:41-46` +
    * `blueprint.py:293-302`). Unknown identity throws NotAuthorized. */
  def browserFor(identity: Option[String], cubeName: String,
      locale: Option[String] = None): Browser = auth match {
    case Some(a) =>
      val id = identity.getOrElse("")
      if (!authorizedCubes(identity).contains(cubeName))
        throw new graft.auth.NotAuthorized(s"cube '$cubeName' is not authorized")
      browser(cubeName, a.restrictedCell(id, cube(cubeName)), locale,
        a.hierarchyLimits(id, cubeName))
    case None => browser(cubeName, locale = locale)
  }
}
