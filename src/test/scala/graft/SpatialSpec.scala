package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.Spatial

class SpatialSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  /** Deterministic pseudo-random scatter, negative coords included —
    * the grid join must floor (not truncate) cell indices for these. */
  private def scatter(n: Int): Seq[(Long, Long, Long)] =
    (0 until n).map { i =>
      val h1 = (i * 2654435761L) % 401 - 200
      val h2 = (i * 40503L + 7) % 401 - 200
      (i.toLong, h1, h2)
    }

  test("gridRadiusJoin: equals brute force, negative coords, " +
      "inclusive boundary, each pair exactly once") {
    val pts = scatter(300)
    val df = pts.toDF("id", "x", "y")
    val got = Spatial.gridRadiusJoin(df, "id", "x", "y", radius = 25L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val want = (for {
      (ia, xa, ya) <- pts; (ib, xb, yb) <- pts if ia < ib
      d2 = (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
      if d2 <= 625L
    } yield (ia, ib, d2)).sorted
    assert(got == want)
    assert(got.size == got.distinct.size) // exactly once, no dup cells
    // boundary pair at EXACTLY the radius is kept (inclusive contract)
    val b = Seq((1L, 0L, 0L), (2L, 25L, 0L)).toDF("id", "x", "y")
    val eb = Spatial.gridRadiusJoin(b, "id", "x", "y", 25L).collect()
    assert(eb.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq((1L, 2L, 625L)))
    // fuzz across radii: cell-boundary behavior at tiny, odd and large
    // widths must all match brute force
    for (r <- Seq(1L, 7L, 64L)) {
      val g = Spatial.gridRadiusJoin(df, "id", "x", "y", r)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
        .sorted.toSeq
      val w = (for {
        (ia, xa, ya) <- pts; (ib, xb, yb) <- pts if ia < ib
        d2 = (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
        if d2 <= r * r
      } yield (ia, ib, d2)).sorted
      assert(g == w, s"radius $r")
    }
  }

  test("dbscanLite: core/border/noise roles, min-id clusters, " +
      "deterministic border attachment") {
    // cluster A: 4 mutually-close points (all core at minPts=3)
    // border b: within eps of A's edge point only (1 core neighbor)
    // cluster B: 3 points in a line, middle is core, ends are border
    // noise n: isolated
    val df = Seq(
      (1L, 0L, 0L), (2L, 1L, 0L), (3L, 0L, 1L), (4L, 1L, 1L), // A
      (5L, 4L, 1L),                                           // border of A
      (10L, 100L, 0L), (11L, 103L, 0L), (12L, 106L, 0L),      // B (line)
      (99L, 500L, 500L))                                      // noise
      .toDF("id", "x", "y")
    val got = Spatial.dbscanLite(df, "id", "x", "y", eps = 3L, minPts = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]))))
      .toMap
    for (i <- Seq(1L, 2L, 3L, 4L)) assert(got(i) == (("core", Some(1L))))
    assert(got(5L) == (("border", Some(1L))))
    // line: ends see 2 points each (self+middle) -> border; middle sees 3
    assert(got(11L) == (("core", Some(11L))))
    assert(got(10L) == (("border", Some(11L))))
    assert(got(12L) == (("border", Some(11L))))
    assert(got(99L) == (("noise", None)))
  }

  test("dbscanLite: two eps-adjacent cores bridge into ONE cluster " +
      "(density-connectivity, not blob geometry)") {
    val df = (Seq((1L, 0L, 0L), (2L, 1L, 0L), (3L, 2L, 0L)) ++
      Seq((4L, 5L, 0L), (5L, 6L, 0L), (6L, 7L, 0L)))
      .toDF("id", "x", "y")
    val got = Spatial.dbscanLite(df, "id", "x", "y", eps = 2L, minPts = 3)
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    // chains 0..2 and 5..7: the 2->5 gap is 3 > eps, so two clusters
    assert(got(2L) == Some(1L) && got(5L) == Some(4L))
    // pull the chains together: 3-4 gap becomes 1, ends bridge
    val df2 = (Seq((1L, 0L, 0L), (2L, 1L, 0L), (3L, 2L, 0L)) ++
      Seq((4L, 3L, 0L), (5L, 4L, 0L), (6L, 5L, 0L)))
      .toDF("id", "x", "y")
    val got2 = Spatial.dbscanLite(df2, "id", "x", "y", eps = 2L, minPts = 3)
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(got2.values.toSet == Set(Some(1L))) // one component
  }

  test("spatialHotspots: injected dense box flags hot, uniform does not") {
    // 20x20 near-uniform field (one point per cell center), plus 60
    // extra points inside the single cell (5, 5)
    val uniform = for (cx <- 0 until 20; cy <- 0 until 20)
      yield (cx * 10L + 5L, cy * 10L + 5L)
    val dense = (0 until 60).map(i => (55L + i % 3, 55L + (i / 3) % 3))
    val df = (uniform ++ dense).toDF("x", "y")
    val got = Spatial.spatialHotspots(df, "x", "y", cellWidth = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got((5L, 5L))._1 == 61L)
    assert(got((5L, 5L))._3, "dense cell must flag hot")
    // a far-away uniform cell: neighborhood of 9 single-point cells
    assert(got((15L, 15L)) == ((1L, 9L, false)))
    // hot spills only into the 3x3 ring around the dense cell
    val hots = got.filter(_._2._3).keys.toSet
    assert(hots.forall { case (cx, cy) =>
      math.abs(cx - 5) <= 1 && math.abs(cy - 5) <= 1 })
  }

  test("fixedRadiusNN: nearest within radius, inclusive boundary, " +
      "id tie-break, out-of-range reports null") {
    val df = Seq((1L, 0L, 0L), (2L, 3L, 0L), (3L, 3L, 4L),
      (4L, 100L, 100L), (10L, 50L, 50L), (11L, 52L, 50L),
      (12L, 48L, 50L)).toDF("id", "x", "y")
    val got = Spatial.fixedRadiusNN(df, "id", "x", "y", radius = 5L)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2))))).toMap
    assert(got(1L) == ((Some(2L), Some(9L))))
    assert(got(2L) == ((Some(1L), Some(9L)))) // 9 beats 16
    assert(got(3L) == ((Some(2L), Some(16L)))) // 25 is in range but worse
    assert(got(4L) == ((None, None)))
    // 11 and 12 both at dist² 4 from 10: lower id wins
    assert(got(10L) == ((Some(11L), Some(4L))))
  }

  test("gridRadiusJoinAB: equals brute force across two sets, " +
      "no self-pairing semantics, negative coords") {
    val as = scatter(150).map { case (i, x, y) => (i, x, y) }
    val bs = scatter(150).map { case (i, x, y) => (i + 1000, y, x) }
    val got = Spatial.gridRadiusJoinAB(
        as.toDF("id", "x", "y"), "id",
        bs.toDF("id", "x", "y"), "id", "x", "y", radius = 30L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val want = (for {
      (ia, xa, ya) <- as; (ib, xb, yb) <- bs
      d2 = (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
      if d2 <= 900L
    } yield (ia, ib, d2)).sorted
    assert(got == want && got.nonEmpty)
  }

  test("ripleyK: exact pair ladder, K above/at the CSR line where " +
      "the pattern clumps") {
    val df = Seq((1L, 0L, 0L), (2L, 0L, 3L), (3L, 3L, 0L),
      (4L, 3L, 3L)).toDF("id", "x", "y")
    val got = Spatial.ripleyK(df, "id", "x", "y", Seq(3L, 5L),
        area = 100L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getAs[Double]("k_hat"),
          r.getAs[Double]("l_hat"), r.getAs[Double]("csr_k")))).toMap
    // r=3: the 4 square sides -> 8 ordered pairs
    assert(got(3L) == ((8L, 66.666667, 4.606589, 28.274334)))
    // r=5: diagonals too -> all 12
    assert(got(5L) == ((12L, 100.0, 5.641896, 78.539816)))
  }

  test("gridRadiusJoin: refuses non-integral coordinates and bad radius") {
    val df = Seq((1L, 1.5, 2.5)).toDF("id", "x", "y")
    intercept[IllegalArgumentException] {
      Spatial.gridRadiusJoin(df, "id", "x", "y", 10L)
    }
    val ok = Seq((1L, 1L, 2L)).toDF("id", "x", "y")
    intercept[IllegalArgumentException] {
      Spatial.gridRadiusJoin(ok, "id", "x", "y", 0L)
    }
    intercept[IllegalArgumentException] {
      Spatial.dbscanLite(ok, "id", "x", "y", 5L, minPts = 0)
    }
  }

  test("ripleyKBorder: brute-force differential on a jittered grid; " +
      "interior-only radii match the all-centers formula") {
    // 7x5 jittered lattice in [0,60]x[0,40]
    val pts = (for (i <- 0 until 7; j <- 0 until 5) yield {
      val id = (i * 5 + j).toLong
      (id, (i * 10 + (id * 7) % 3).toLong, (j * 10 + (id * 11) % 3).toLong)
    }).toSeq
    val radii = Seq(6L, 15L)
    val (x0, y0, x1, y1) = (0L, 0L, 62L, 42L)
    val got = Spatial.ripleyKBorder(pts.toDF("id", "x", "y"), "id",
        "x", "y", radii, x0, y0, x1, y1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    val area = (x1 - x0).toDouble * (y1 - y0).toDouble
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    for (r <- radii) {
      def bd(p: (Long, Long, Long)) =
        Seq(p._2 - x0, x1 - p._2, p._3 - y0, y1 - p._3).min
      val centers = pts.filter(bd(_) >= r)
      val np = (for (a <- centers; b <- pts if b._1 != a._1) yield {
        val dx = a._2 - b._2; val dy = a._3 - b._3
        if (dx * dx + dy * dy <= r * r) 1 else 0
      }).sum.toLong
      val k = r6(area * np / (pts.size.toDouble * centers.size))
      assert(got(r) == ((np, centers.size.toLong, k)),
        s"r=$r: got ${got(r)} want ($np, ${centers.size}, $k)")
    }
  }
}
