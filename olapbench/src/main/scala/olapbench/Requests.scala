package olapbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import graft.cells.{Cell, Cut, PointCut, RangeCut, SetCut}

/** One slicer request, kept structured so the same request can be sent over
  * HTTP and called in-process on the browser. */
final case class Req(verb: String, dim: String = "", hierarchy: Option[String] = None,
    cut: Seq[Cut] = Nil,
    drilldown: Seq[String] = Nil, aggregates: Seq[String] = Nil,
    page: Option[Int] = None, pageSize: Option[Int] = None,
    depth: Option[Int] = None, key: Long = 0L) {

  def cutString: String = Cell(cut).toCutString

  /** Path and query string, relative to `/cube/<cube>/`. */
  def url: String = {
    def enc(s: String) = URLEncoder.encode(s, UTF_8)
    val q = Seq(
      Some("cut" -> cutString).filter(_._2.nonEmpty),
      Some("drilldown" -> drilldown.mkString("|")).filter(_._2.nonEmpty),
      Some("aggregates" -> aggregates.mkString("|")).filter(_._2.nonEmpty),
      hierarchy.map(h => "hierarchy" -> h),
      depth.map(d => "depth" -> d.toString),
      page.map(p => "page" -> p.toString),
      pageSize.map(p => "pagesize" -> p.toString)).flatten
    val path = verb match {
      case "members" => s"members/$dim"
      case "fact"    => s"fact/$key"
      case v         => v
    }
    if (q.isEmpty) path else path + "?" + q.map { case (k, v) => s"$k=${enc(v)}" }.mkString("&")
  }
}

/** A dimension as the generator sees it: its drilldown levels, the member
  * attribute of each pooled level, and the rough member count of each level
  * (used only to decide when a drilldown needs a page). */
final case class DimSpec(name: String, hierarchy: Option[String], levels: Seq[String],
    keys: Seq[String], cardinality: Seq[Int]) {
  def spec: String = name + hierarchy.map("@" + _).getOrElse("")
  def poolDepth: Int = keys.size
  def isTime: Boolean = name == "date" || name == "shipdate"
}

/** Member paths drawn from `members` responses, and fact keys drawn from a
  * `facts` page, both fetched during setup. */
final case class Pools(members: Map[String, IndexedSeq[Seq[String]]], factKeys: IndexedSeq[Long])

object Requests {

  private def time(n: String, days: Int) = DimSpec(n, None,
    Seq("year", "quarter", "month", "day"),
    Seq(s"$n.year", s"$n.quarter", s"$n.month"), Seq(7, 28, 80, days))

  /** The `sales` cube's dimensions. */
  val Dims: IndexedSeq[DimSpec] = IndexedSeq(
    time("date", 2400),
    time("shipdate", 2500),
    DimSpec("customer", None, Seq("region", "nation", "customer"),
      Seq("customer.region_name", "customer.nation_name"), Seq(5, 25, 1000)),
    DimSpec("customer", Some("nation"), Seq("nation", "customer"),
      Seq("customer.nation_name"), Seq(25, 1000)),
    DimSpec("supplier", None, Seq("region", "nation", "supplier"),
      Seq("supplier.region_name", "supplier.nation_name"), Seq(5, 25, 100)),
    DimSpec("part", None, Seq("brand", "part"), Seq("part.brand"), Seq(25, 2000)),
    DimSpec("returnflag", None, Seq("returnflag"), Seq("returnflag"), Seq(3)),
    DimSpec("linestatus", None, Seq("linestatus"), Seq("linestatus"), Seq(2)),
    DimSpec("orderstatus", None, Seq("orderstatus"), Seq("orderstatus"), Seq(3)),
    DimSpec("orderpriority", None, Seq("orderpriority"), Seq("orderpriority"), Seq(5)),
    DimSpec("shipdow", None, Seq("shipdow"), Seq("shipdow"), Seq(7)))

  val Aggregates: IndexedSeq[String] = IndexedSeq("quantity_sum", "price_sum",
    "revenue_sum", "price_avg", "price_min", "price_max", "discount_avg", "parts",
    "price_stddev")

  /** Drilldowns estimated above this many cells are paged. */
  val PageAbove = 800

  /** Each verb's requests in a cycle of 40: 55% `aggregate`, 15% `members`,
    * 15% `facts`, 7.5% `fact`, 7.5% `cell`. */
  val VerbCycle: Seq[(String, Int)] =
    Seq("aggregate" -> 22, "members" -> 6, "facts" -> 6, "fact" -> 3, "cell" -> 3)

  /** Fisher-Yates shuffle driven by `rnd`. */
  private def shuffle[T](rnd: SplittableRandom, xs: Seq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** The verbs of [[VerbCycle]], each cycle shuffled, so any 20 consecutive
    * requests hold close to the nominal shares. */
  private def verbs(rnd: SplittableRandom): Iterator[String] = {
    val cycle = VerbCycle.flatMap { case (v, n) => Seq.fill(n)(v) }
    Iterator.continually(shuffle(rnd, cycle)).flatten
  }

  private def paths(pools: Pools, d: DimSpec, depth: Int): IndexedSeq[Seq[String]] =
    pools.members(d.spec).map(_.take(depth)).distinct

  /** Cells a drilldown at these levels would return. */
  private def estimate(drill: Seq[(DimSpec, Int)]): Double =
    drill.map { case (d, lv) => d.cardinality(lv).toDouble }.product

  private def page(rnd: SplittableRandom): (Option[Int], Option[Int]) =
    (Some(rnd.nextInt(3)), Some(Seq(20, 50, 100)(rnd.nextInt(3))))

  private def aggregates(rnd: SplittableRandom): Seq[String] =
    "fact_count" +: shuffle(rnd, Aggregates).take(1 + rnd.nextInt(3))

  private val ordering: Ordering[Seq[String]] =
    Ordering.Implicits.seqOrdering[Seq, String](Ordering.by((s: String) =>
      s.toIntOption.map(i => f"$i%012d").getOrElse(s)))

  /** Two generators: `shape` draws what a request is (verb, levels, number
    * and kind of cuts, page) from a seed fixed per workload, so every run
    * sends the same mix of request shapes in the same order; `value` draws
    * which members the cuts and keys name from the run's seed. */
  private final class Draw(workloadSeed: Long, seed: Long, pools: Pools) {
    val shape = new SplittableRandom(workloadSeed)
    val value = new SplittableRandom(seed)

    def dim(not: Set[String] = Set.empty): DimSpec = {
      val free = Dims.filterNot(d => not.contains(d.name))
      free(shape.nextInt(free.size))
    }

    /** A point, range or set cut on `d`, drawn from its member pool. */
    def cut(d: DimSpec): Cut = {
      val ps = paths(pools, d, 1 + shape.nextInt(d.poolDepth))
      val kind = shape.nextInt(3)
      if (kind == 1 && d.isTime) {
        val a = ps(value.nextInt(ps.size)); val b = ps(value.nextInt(ps.size))
        val (from, to) = if (ordering.lteq(a, b)) (a, b) else (b, a)
        RangeCut(d.name, Some(from), Some(to), d.hierarchy)
      } else if (kind == 2 && ps.size > 2) {
        val n = 2 + shape.nextInt(2)
        SetCut(d.name, shuffle(value, ps).take(n).sorted(ordering), d.hierarchy)
      } else PointCut(d.name, ps(value.nextInt(ps.size)), d.hierarchy)
    }

    /** Up to `n` cuts on distinct dimensions outside `not`. */
    def cuts(n: Int, not: Set[String] = Set.empty): Seq[Cut] =
      (0 until n).map(_ => cut(dim(not))).groupBy(_.dim).values.map(_.head).toSeq.sortBy(_.dim)
  }

  private def mixRequest(g: Draw, pools: Pools, verb: String): Req = {
    val rnd = g.shape
    verb match {
      case "aggregate" =>
        val nDrill = 1 + rnd.nextInt(2)
        val drill = (1 to nDrill).foldLeft(Seq.empty[(DimSpec, Int)]) { (acc, _) =>
          val d = g.dim(acc.map(_._1.name).toSet)
          acc :+ (d -> rnd.nextInt(d.levels.size))
        }
        val cuts = g.cuts(rnd.nextInt(3), drill.map(_._1.name).toSet)
        val (pg, ps) = if (estimate(drill) > PageAbove) page(rnd) else (None, None)
        Req("aggregate", cut = cuts,
          drilldown = drill.map { case (d, lv) => s"${d.spec}:${d.levels(lv)}" },
          aggregates = aggregates(rnd), page = pg, pageSize = ps)
      case "members" =>
        val d = g.dim()
        val depth = 1 + rnd.nextInt(d.levels.size)
        val cut = if (rnd.nextBoolean()) {
          val p = paths(pools, d, 1)
          Seq(PointCut(d.name, p(g.value.nextInt(p.size)), d.hierarchy))
        } else Nil
        val (pg, ps) = if (depth == d.levels.size && d.cardinality.last > PageAbove) page(rnd)
          else (None, None)
        Req("members", dim = d.name, hierarchy = d.hierarchy, cut = cut, depth = Some(depth),
          page = pg, pageSize = ps)
      case "facts" =>
        Req("facts", cut = g.cuts(rnd.nextInt(3)), page = Some(rnd.nextInt(5)),
          pageSize = Some(Seq(10, 20, 50)(rnd.nextInt(3))))
      case "fact" =>
        Req("fact", key = pools.factKeys(g.value.nextInt(pools.factKeys.size)))
      case _ =>
        Req("cell", cut = g.cuts(1 + rnd.nextInt(2)))
    }
  }

  /** `slicer_mix`: distinct requests, none repeated within a run. */
  def mix(seed: Long, pools: Pools): Iterator[Req] = {
    val g = new Draw(0x6d6978L, seed, pools)
    val seen = scala.collection.mutable.HashSet.empty[String]
    verbs(new SplittableRandom(0x76657262L)).map(mixRequest(g, pools, _))
      .filter(r => seen.add(r.url))
  }
}
