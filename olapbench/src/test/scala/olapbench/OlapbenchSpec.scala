package olapbench

import org.scalatest.funsuite.AnyFunSuite

class OlapbenchSpec extends AnyFunSuite {

  /** Pools shaped like the ones fetched from the generated `sales` cube. */
  private val pools: Pools = {
    val regions = Data.Regions
    val nations = (0 until 25).map(i => s"NATION_$i")
    val time = for (y <- 1995 to 2001; q <- 1 to 4; m <- (q - 1) * 3 + 1 to q * 3)
      yield Seq(y.toString, q.toString, m.toString)
    val geo = nations.zipWithIndex.map { case (n, i) => Seq(regions(i % 5), n) }
    def flat(xs: String*) = xs.map(Seq(_)).toIndexedSeq
    Pools(Map(
      "date" -> time, "shipdate" -> time, "customer" -> geo, "supplier" -> geo,
      "customer@nation" -> nations.map(Seq(_)),
      "part" -> (1 to 25).map(i => Seq(s"Brand#$i")),
      "returnflag" -> flat("A", "N", "R"), "linestatus" -> flat("F", "O"),
      "orderstatus" -> flat("F", "O", "P"),
      "orderpriority" -> flat("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
      "shipdow" -> flat("1", "2", "3", "4", "5", "6", "7")),
      (0L until 100L).toIndexedSeq)
  }

  private def urls(seed: Long, n: Int): String =
    Requests.mix(seed, pools).take(n).map(_.url).mkString("\n")

  test("the same seed gives a byte-identical request stream") {
    assert(urls(7, 1000).getBytes("UTF-8").sameElements(urls(7, 1000).getBytes("UTF-8")))
    assert(urls(7, 1000) != urls(8, 1000), "the stream ignores its seed")
  }

  test("slicer_mix never repeats a request") {
    val mix = Requests.mix(3, pools).take(2000).map(_.url).toSeq
    assert(mix.distinct.size == mix.size)
  }

  test("the tail percentile keeps ten samples beyond it; the median is smooth") {
    val (p200, v200) = Stats.tail((1 to 200).map(_.toDouble))
    assert(p200 == 0.95 && math.abs(v200 - 190.5) < 1.0)
    val (p, v) = Stats.tail((1 to 40).map(_.toDouble).reverse)
    assert(p == 0.75 && math.abs(v - 30.75) < 1.0 && (1 to 40).count(_ > v) == 10)
    // too few samples for ten beyond: the tail falls back to the median
    val few = (1 to 12).map(_.toDouble)
    assert(Stats.tail(few) == ((0.5, Stats.median(few))))
    assert(Stats.tail(Seq(5.0))._2 == 5.0)
    // the tail is never below the median, even with two clusters of samples
    val clusters = Seq.fill(12)(1000.0) ++ Seq.fill(13)(3000.0)
    assert(Stats.tail(clusters)._2 >= Stats.median(clusters))
    assert(math.abs(Stats.median(Seq(3.0, 1.0, 2.0)) - 2.0) < 1e-9)
    // a lone far sample moves the estimate a little, not to itself
    val m = Stats.median(Seq(1.0, 1.0, 1.0, 10.0))
    assert(m > 1.0 && m < 5.5)
  }

  test("self time subtracts the union of the children's intervals") {
    // request [0,100] > parse [10,40] > exec [15,20]; request > render [30,60]
    val spans = Seq(
      Span(0, "request", 0, 100, -1, 1),
      Span(1, "parse", 10, 40, 0, 1),
      Span(2, "exec", 15, 20, 1, 1),
      Span(3, "render", 30, 60, 0, 1),
      // a child running past its parent is clipped to the parent
      Span(4, "exec", 55, 70, 3, 1))
    val self = Trace.selfTimes(spans)
    assert(self == Map(0L -> 50L, 1L -> 25L, 2L -> 5L, 3L -> 25L, 4L -> 15L))
    assert(Trace.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
  }
}
