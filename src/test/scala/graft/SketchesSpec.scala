package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.Sketches

class SketchesSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("heavyHitters: exact ranks, CMS bound holds, estimate one-sided") {
    // "alpha" dominates; long tail of uniques stresses the sketch
    val docs = (Seq.fill(40)("alpha beta") ++ Seq.fill(10)("beta gamma") ++
      (0 until 200).map(i => s"unique$i"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val rows = Sketches.heavyHitters(docs, "text", topK = 3).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("beta", "alpha", "gamma"))
    assert(rows.map(_.getLong(1)).toSeq == Seq(50L, 40L, 10L))
    assert(rows.forall(_.getBoolean(2)), rows.mkString(";"))
  }

  test("profile: one-pass per-column stats with nulls and extrema") {
    val df = Seq(
      (1L, Some("en"), 10L), (2L, Some("de"), 5L),
      (3L, None, 10L), (4L, Some("en"), 7L))
      .toDF("id", "lang", "n")
    val out = graft.ops.Profiling.profile(df, Seq("id", "lang", "n"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getString(5))).toMap
    assert(out("id") == ((4L, 0L, 4L, "1", "4")))
    assert(out("lang") == ((4L, 1L, 2L, "de", "en")))
    assert(out("n") == ((4L, 0L, 3L, "5", "10")))
    // ONE scan feeds every statistic (not one job per column)
    val plan = graft.ops.Profiling.profile(df, Seq("id", "lang", "n"))
      .queryExecution.executedPlan.toString
    assert("LocalTableScan".r.findAllIn(plan).size == 1, plan)
  }

  test("shardedDistinct: union of per-shard HLLs matches exact count") {
    // overlapping shards: naive per-shard sums would overcount 3×
    val rows = (0 until 3).flatMap(shard =>
      (0 until 500).map(v => (s"shard$shard", (v % 400).toLong)))
      .toDF("shard", "v")
    val out = Sketches.shardedDistinct(rows, "v", "shard").collect().head
    assert(out.getAs[Long]("n_shards") == 3L)
    assert(out.getAs[Long]("exact") == 400L)
    assert(out.getAs[Boolean]("hll_ok"))
  }

  test("histogram: integer bucketing, guard rows, empty buckets emitted") {
    import spark.implicits._
    // domain 0..9, 5 buckets of width 2; values hit buckets 0,0,1,4 and
    // out-of-domain -5 / 12 land in the guard rows
    val df = Seq(0L, 1L, 2L, 9L, -5L, 12L).toDF("v")
    val got = graft.ops.Profiling.histogram(df, "v", 0L, 9L, 5)
      .collect()
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n"), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(got(-1L) == ((1L, Some(-5L), Some(-5L))))
    assert(got(0L) == ((2L, Some(0L), Some(1L))))
    assert(got(1L) == ((1L, Some(2L), Some(2L))))
    assert(got(2L) == ((0L, None, None)), "empty bucket emitted with n=0")
    assert(got(3L) == ((0L, None, None)))
    assert(got(4L) == ((1L, Some(9L), Some(9L))))
    assert(got(5L) == ((1L, Some(12L), Some(12L))))
    assert(got.size == 7)
  }

  test("quantileProfile: exact interpolated quartiles + rank gate holds") {
    import spark.implicits._
    // group g: 1..100 (quartiles 25.75 / 50.5 / 75.25); group h: 1..5
    val df = ((1 to 100).map(i => ("g", i.toLong)) ++
      (1 to 5).map(i => ("h", i.toLong))).toDF("k", "v")
    val got = graft.ops.Sketches.quantileProfile(df, "k", "v",
        Seq(0.25, 0.5, 0.75), accuracy = 50)
      .collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Double]("q")) ->
        (r.getAs[Double]("exact_q"), r.getAs[Boolean]("rank_ok"))).toMap
    assert(got(("g", 0.25))._1 == 25.75)
    assert(got(("g", 0.5))._1 == 50.5)
    assert(got(("g", 0.75))._1 == 75.25)
    assert(got(("h", 0.5))._1 == 3.0)
    assert(got.size == 6)
    assert(got.values.forall(_._2), "GK guarantee must hold at accuracy=50")
  }

  test("equiDepthBins: ANSI fill order, ties split by id, per-key") {
    import spark.implicits._
    // key a: 7 rows into 3 bins → sizes 3,2,2 (first n%bins bins larger);
    // values tie in pairs, so the id tie-break decides bin boundaries
    val df = ((1 to 7).map(i => ("a", i.toLong, (i / 2).toLong)) ++
      Seq(("b", 100L, 1L))).toDF("k", "id", "v")
    val got = graft.ops.Profiling.equiDepthBins(df, "k", "v", "id", 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        r.getAs[Int]("bin")).toMap
    // order by (v, id): ids 1(v0),2(v1),3(v1),4(v2),5(v2),6(v3),7(v3)
    assert(got(("a", 1L)) == 1 && got(("a", 2L)) == 1 && got(("a", 3L)) == 1)
    assert(got(("a", 4L)) == 2 && got(("a", 5L)) == 2)
    assert(got(("a", 6L)) == 3 && got(("a", 7L)) == 3)
    // singleton key: everything in bin 1
    assert(got(("b", 100L)) == 1)
  }

  test("categoryDrift: one-sided categories flag; exact threshold is strict") {
    import spark.implicits._
    // old: a×6, b×4 (N1=10). new: a×3, c×2 (N2=5).
    // a: |6·5 − 3·10| = 0 → no drift at any t.
    // b: |4·5 − 0| = 20; t=0.4 → 20·tDen(10) = 200 vs 4·50 = 200 → strict
    //    > does NOT flag at exactly-threshold.
    // c: |0 − 2·10| = 20 → same boundary, also unflagged at t=0.4.
    val old = (Seq.fill(6)("a") ++ Seq.fill(4)("b")).toDF("cat")
    val neu = (Seq.fill(3)("a") ++ Seq.fill(2)("c")).toDF("cat")
    val at = (tn: Int, td: Int) =>
      graft.ops.Profiling.categoryDrift(old, neu, "cat", tn, td)
        .collect().map(r => r.getString(0) ->
          (r.getAs[Long]("n_old"), r.getAs[Long]("n_new"),
           r.getAs[Boolean]("drift"))).toMap
    val exact = at(4, 10) // t = 0.4: b and c sit exactly ON the threshold
    assert(exact("a") == ((6L, 3L, false)))
    assert(exact("b") == ((4L, 0L, false)))   // strict >, not >=
    assert(exact("c") == ((0L, 2L, false)))   // absent-in-old still counted
    val below = at(39, 100) // t = 0.39: both one-sided categories flag
    assert(below("b")._3 && below("c")._3 && !below("a")._3)
  }

  test("overlapEstimate: exact inclusion-exclusion, gate holds, disjoint and nested cases") {
    import spark.implicits._
    val a = (1L to 100L).toDF("v")
    val b = (51L to 150L).toDF("v")
    val r = graft.ops.Sketches.overlapEstimate(a, b, "v").collect().head
    assert(r.getAs[Long]("n_a") == 100L && r.getAs[Long]("n_b") == 100L)
    assert(r.getAs[Long]("n_union") == 150L)
    assert(r.getAs[Long]("inter_exact") == 50L)
    assert(r.getAs[Boolean]("hll_ok"))
    // disjoint: intersection exactly 0
    val d = graft.ops.Sketches.overlapEstimate(
      (1L to 50L).toDF("v"), (100L to 149L).toDF("v"), "v").collect().head
    assert(d.getAs[Long]("inter_exact") == 0L && d.getAs[Boolean]("hll_ok"))
    // nested: B ⊂ A → intersection = |B|
    val n = graft.ops.Sketches.overlapEstimate(
      (1L to 100L).toDF("v"), (40L to 49L).toDF("v"), "v").collect().head
    assert(n.getAs[Long]("inter_exact") == 10L && n.getAs[Boolean]("hll_ok"))
  }

  test("joinSizeProfile: exact per-key products and total, never runs the join") {
    import spark.implicits._
    // a: k1×3, k2×1; b: k1×4, k3×2 → join = 3·4 = 12 rows, only k1
    val a = (Seq.fill(3)("k1") :+ "k2").toDF("k")
    val b = (Seq.fill(4)("k1") ++ Seq.fill(2)("k3")).toDF("k")
    val rows = graft.ops.Profiling.joinSizeProfile(a, b, "k", topN = 3)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_left"), r.getAs[Long]("n_right"),
         r.getAs[java.math.BigDecimal]("n_out").longValueExact(),
         r.getAs[Int]("rank"))).toMap
    assert(rows("k1") == ((3L, 4L, 12L, 1)))
    assert(rows("(total)") == ((3L, 4L, 12L, 0))) // only matching keys
    assert(rows.size == 2) // k2/k3 never match, never profiled
  }

  test("duplicationProfile: exact dup counts, strict threshold, clean source") {
    import spark.implicits._
    // s1: 5 docs, 4 distinct → 1/5 = exactly 20% → strict >, NOT heavy;
    // s2: 4 docs, 2 distinct → 50% → heavy; s3 clean
    val df = (Seq(("s1", "a"), ("s1", "a"), ("s1", "b"), ("s1", "c"),
      ("s1", "d")) ++ Seq(("s2", "x"), ("s2", "x"), ("s2", "y"),
      ("s2", "y")) ++ Seq(("s3", "p"))).toDF("src", "text")
    val got = graft.ops.Profiling.duplicationProfile(df, "src", "text",
        20, 100)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_distinct"),
         r.getAs[Long]("n_dups"), r.getAs[Boolean]("dup_heavy"))).toMap
    assert(got("s1") == ((5L, 4L, 1L, false))) // exactly on threshold
    assert(got("s2") == ((4L, 2L, 2L, true)))
    assert(got("s3") == ((1L, 1L, 0L, false)))
  }

  test("hhi: equal split = 1/k, monopoly = 1, exact integer moments") {
    val df = Seq(
      ("en", "s1"), ("en", "s1"), ("en", "s2"), ("en", "s2"),
      ("fr", "s1"), ("fr", "s1"), ("fr", "s1"))
      .toDF("lang", "source")
    val got = graft.ops.Profiling.hhi(df, "lang", "source")
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    val en = got("en")
    assert(en.getAs[Long]("n") == 4L && en.getAs[Long]("n_keys") == 2L)
    assert(en.getAs[Long]("max_count") == 2L)
    assert(en.getAs[Long]("sum_sq_counts") == 8L)
    assert(en.getAs[Double]("hhi") == 0.5) // two equal sources → 1/2
    val fr = got("fr")
    assert(fr.getAs[Double]("hhi") == 1.0) // monopoly
    assert(fr.getAs[Long]("sum_sq_counts") == 9L)
  }

  test("missingness: identical, disjoint, and independent null patterns") {
    val df = Seq[(Option[Int], Option[Int], Option[Int])](
      (None, None, Some(1)),      // a,b co-missing
      (None, None, Some(2)),
      (Some(1), Some(2), None),   // c missing alone
      (Some(3), Some(4), Some(5)) // complete row
    ).toDF("a", "b", "c")
    val got = graft.ops.Profiling.missingness(df, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got(("a", "b")) == ((2L, 2L, 2L, 2L)))  // perfectly coupled
    assert(got(("a", "c")) == ((2L, 1L, 0L, 1L)))  // disjoint causes
    assert(got(("b", "c")) == ((2L, 1L, 0L, 1L)))
    // one scan: the plan has a single aggregation pair, no join
    val plan = graft.ops.Profiling.missingness(df, Seq("a", "b", "c"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
  }

  test("cohensKappa: perfect = 1, chance-level ≈ 0, skew doesn't flatter") {
    // g1: perfect agreement on a balanced pair of labels → kappa 1
    val perfect = Seq.tabulate(8)(i => ("g1", i % 2, i % 2))
    // g2: rater B ignores A entirely — every A label gets every B label
    // equally → observed = chance → kappa 0
    val chance = for (a <- 0 to 1; b <- 0 to 1; _ <- 1 to 2)
      yield ("g2", a, b)
    // g3: both stamp the same constant → vacuous, kappa null
    val vacuous = Seq.fill(4)(("g3", 1, 1))
    val df = (perfect ++ chance ++ vacuous).toDF("g", "a", "b")
    val got = graft.ops.Profiling.cohensKappa(df, "g", "a", "b")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(got("g1").getAs[Double]("kappa") == 1.0)
    assert(got("g2").getAs[Double]("kappa") == 0.0)
    assert(got("g3").isNullAt(got("g3").fieldIndex("kappa")))
    assert(got("g3").getAs[Long]("kappa_den") == 0L)
    // exact rationals: g1 is (8·8 − 32)/(64 − 32)
    assert(got("g1").getAs[Long]("kappa_num") == 32L)
    assert(got("g1").getAs[Long]("kappa_den") == 32L)
  }

  test("confusionStats: exact counts, algebraic F1, null-on-empty rates") {
    val df = Seq(
      ("g", true, true), ("g", true, true),   // 2 tp
      ("g", true, false),                     // 1 fn
      ("g", false, true),                     // 1 fp
      ("g", false, false), ("g", false, false), // 2 tn
      ("h", false, false))                    // never predicts, no pos
      .toDF("g", "label", "pred")
    val got = graft.ops.Profiling.confusionStats(df, "g", "label", "pred")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    val g = got("g")
    assert((g.getAs[Long]("tp"), g.getAs[Long]("fp"),
      g.getAs[Long]("fn"), g.getAs[Long]("tn")) == ((2L, 1L, 1L, 2L)))
    assert(g.getAs[Double]("precision") == 2.0 / 3.0)
    assert(g.getAs[Double]("recall") == 2.0 / 3.0)
    assert(g.getAs[Double]("f1") == 4.0 / 6.0)
    assert(g.getAs[Double]("accuracy") == 4.0 / 6.0)
    val h = got("h")
    assert(h.isNullAt(h.fieldIndex("precision"))) // no predictions
    assert(h.isNullAt(h.fieldIndex("recall")))    // no positives
    assert(h.getAs[Double]("accuracy") == 1.0)
  }

  test("simpsonsCheck: the textbook flip is caught; one-sided segments drop") {
    // classic construction: treatment wins INSIDE both segments but the
    // allocation skew makes it lose pooled.
    //  seg A: t 8/10 (.8)  vs c 7/10 (.7)   → t ahead
    //  seg B: t 2/10 (.2)  vs c 9/90 (.1)   → t ahead
    //  pooled: t 10/20 (.5) vs c 16/100 (.16) — stays ahead; flip the
    //  seating instead: use control as "treatment" → both segs behind,
    //  pooled ahead? Use the numbers straight and assert signs per seg.
    def rows(seg: String, v: String, conv: Int, n: Int) =
      Seq.fill(n)((seg, v, true)).take(conv) ++
        Seq.fill(n - conv)((seg, v, false))
    val df = (rows("A", "t", 8, 10) ++ rows("A", "c", 7, 10) ++
      rows("B", "t", 2, 10) ++ rows("B", "c", 9, 90) ++
      rows("C", "t", 1, 5)) // no control in C → dropped
      .toDF("seg", "v", "conv")
    val got = graft.ops.Profiling.simpsonsCheck(df, "seg", "v", "conv",
      treatment = "c", control = "t") // seat control as treatment
      .collect().map(r => r.getAs[String]("seg") -> r).toMap
    assert(!got.contains("C"))
    // per segment, c is BEHIND t (negative sign)…
    assert(got("A").getAs[Int]("seg_diff_sign") == -1)
    assert(got("B").getAs[Int]("seg_diff_sign") == -1)
    // …but pooled, c (16/100 = .16) vs t (10/20 = .5): still behind —
    // no flip with these numbers; now verify the true paradox variant:
    val df2 = (rows("A", "t", 81, 87) ++ rows("A", "c", 234, 270) ++
      rows("B", "t", 192, 263) ++ rows("B", "c", 55, 80))
      .toDF("seg", "v", "conv") // the Berkeley-style numbers
    val g2 = graft.ops.Profiling.simpsonsCheck(df2, "seg", "v", "conv",
      "t", "c").collect().map(r => r.getAs[String]("seg") -> r).toMap
    // t ahead in both segments (81/87 > 234/270; 192/263 > 55/80)
    assert(g2("A").getAs[Int]("seg_diff_sign") == 1)
    assert(g2("B").getAs[Int]("seg_diff_sign") == 1)
    // pooled: t 273/350 (.78) vs c 289/350 (.826) → behind → both flip
    assert(g2("A").getAs[Int]("pooled_diff_sign") == -1)
    assert(g2("A").getAs[Boolean]("flips") && g2("B").getAs[Boolean]("flips"))
  }

  test("winMatrix: seating is erased, seat counts survive, ties excluded " +
    "from the rate") {
    val df = Seq(
      // x beats y twice from the A seat, loses once from the B seat
      ("x", "y", "a"), ("x", "y", "a"), ("y", "x", "a"),
      ("y", "x", "b"),                  // x wins from the B seat
      ("x", "y", "tie"),
      ("z", "x", "b"))                  // x beats z seated B
      .toDF("ma", "mb", "o")
    val got = graft.ops.Profiling.winMatrix(df, "ma", "mb", "o")
      .collect().map(r => (r.getAs[String]("model_1"),
        r.getAs[String]("model_2")) -> r).toMap
    val xy = got(("x", "y"))
    assert(xy.getAs[Long]("n") == 5L)
    assert(xy.getAs[Long]("wins_1") == 3L)  // x: 2 as A + 1 as B
    assert(xy.getAs[Long]("wins_2") == 1L)
    assert(xy.getAs[Long]("ties") == 1L)
    assert(xy.getAs[Long]("a_seat_first") == 3L) // x sat in seat A 3×
    assert(xy.getAs[Double]("winrate_1") == 0.75) // ties excluded
    val xz = got(("x", "z"))
    assert(xz.getAs[Long]("wins_1") == 1L && xz.getAs[Long]("n") == 1L)
  }

  test("gini: equal shares = 0, monopoly tail → high; tie-order invariant") {
    // en: 4 equal sources → G = 0; fr: 9-vs-1-vs-1-vs-1 → counts
    // sorted [1,1,1,9], Σi·c = 1+2+3+36 = 42, k=4, total=12:
    // num = 84 − 60 = 24, den = 48 → G = 0.5
    val df = (Seq.fill(1)("s1") ++ Seq.fill(1)("s2") ++ Seq.fill(1)("s3") ++
      Seq.fill(1)("s4")).map(("en", _)) ++
      (Seq.fill(9)("a") ++ Seq("b", "c", "d")).map(("fr", _))
    val got = graft.ops.Profiling.gini(df.toDF("lang", "source"),
      "lang", "source").collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    assert(got("en").getAs[Long]("gini_num") == 0L)
    assert(got("en").getAs[Double]("gini") == 0.0)
    val fr = got("fr")
    assert(fr.getAs[Long]("n") == 12L && fr.getAs[Long]("n_keys") == 4L)
    assert(fr.getAs[Long]("gini_num") == 24L)
    assert(fr.getAs[Long]("gini_den") == 48L)
    assert(fr.getAs[Double]("gini") == 0.5)
  }

  test("keySkew: exact top-N, strict cross-multiplied hot flag, null key counted") {
    import spark.implicits._
    // a×6, b×3, null×1 → total 10. At 30%: a (60%) flags; b sits
    // EXACTLY on the threshold (3·100 = 30·10) → strict >, not hot.
    val df = (Seq.fill(6)(Some("a")) ++ Seq.fill(3)(Some("b")) ++
      Seq(Option.empty[String])).toDF("k")
    val got = graft.ops.Profiling.keySkew(df, "k", topN = 3, 30, 100)
      .collect().map(r => Option(r.getString(0)) ->
        (r.getAs[Long]("n"), r.getAs[Int]("rank"),
         r.getAs[Boolean]("hot")))
    assert(got.toSeq == Seq(
      Some("a") -> ((6L, 1, true)),
      Some("b") -> ((3L, 2, false)),
      None -> ((1L, 3, false))))
  }

  test("keySkew: null key tied on count ranks AFTER non-null (ASC NULLS LAST)") {
    import spark.implicits._
    // z×2, null×2 tie on count; SQL's ASC NULLS LAST (the oracle's
    // ORDER BY n DESC, key ASC) must put z at rank 1, null at rank 2
    val df = (Seq.fill(2)(Some("z")) ++ Seq.fill(2)(Option.empty[String]))
      .toDF("k")
    val got = graft.ops.Profiling.keySkew(df, "k", topN = 2, 90, 100)
      .collect().map(r => Option(r.getString(0)) -> r.getAs[Int]("rank"))
    assert(got.toSeq == Seq(Some("z") -> 1, None -> 2))
  }

  test("prCurve: exact confusion counts per distinct score, keep iff score >= s") {
    import spark.implicits._
    val df = Seq((3L, true), (3L, false), (2L, true), (1L, false),
      (1L, false), (0L, true)).toDF("s", "y")
    val got = graft.ops.Profiling.prCurve(df, "s", "y")
      .collect().map(r => r.getAs[Long]("score") ->
        (r.getAs[Long]("tp"), r.getAs[Long]("fp"),
         r.getAs[Long]("fn"), r.getAs[Long]("tn"))).toMap
    assert(got == Map(
      3L -> ((1L, 1L, 2L, 2L)),
      2L -> ((2L, 1L, 1L, 2L)),
      1L -> ((2L, 3L, 1L, 0L)),
      0L -> ((3L, 3L, 0L, 0L))))
    // non-integral scores are rejected (quantization bounds the curve)
    val e = intercept[IllegalArgumentException] {
      graft.ops.Profiling.prCurve(
        Seq((0.5, true)).toDF("s", "y"), "s", "y")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("skyline2d ≡ brute-force dominance; dups and ties survive together") {
    import spark.implicits._
    val pts = Seq((1L, 5L, 5L), (2L, 5L, 5L),   // duplicate frontier point
      (3L, 6L, 4L), (4L, 4L, 6L), (5L, 6L, 5L), // 5 dominates 3
      (6L, 2L, 2L), (7L, 6L, 5L),               // equal to 5 — both live
      (8L, 1L, 7L), (9L, 1L, 6L))               // 8 dominates 9 (same x)
    val df = pts.toDF("id", "x", "y")
    val got = graft.ops.Profiling.skyline2d(df, "x", "y")
      .collect().map(_.getAs[Long]("id")).toSet
    val want = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, x2, y2) =>
        x2 >= x && y2 >= y && (x2 > x || y2 > y) }
    }.map(_._1).toSet
    assert(got == want && want == Set(4L, 5L, 7L, 8L), s"got $got")
    graft.ops.Caches.releaseAll()
    // pseudo-random cross-validation incl. many same-x collisions
    val rnd = (0 until 500).map(i =>
      (i.toLong, (i * 37 % 50).toLong, (i * 91 % 200).toLong))
    val got2 = graft.ops.Profiling.skyline2d(rnd.toDF("id", "x", "y"), "x", "y")
      .collect().map(_.getAs[Long]("id")).toSet
    val want2 = rnd.filter { case (_, x, y) =>
      !rnd.exists { case (_, x2, y2) =>
        x2 >= x && y2 >= y && (x2 > x || y2 > y) }
    }.map(_._1).toSet
    assert(got2 == want2)
    graft.ops.Caches.releaseAll()
    // float coordinates refuse loudly
    val e = intercept[IllegalArgumentException] {
      graft.ops.Profiling.skyline2d(
        Seq((1L, 1.5, 2.0)).toDF("id", "x", "y"), "x", "y")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("quantileBuckets: exact crossing boundaries, ties share, float refusal") {
    import spark.implicits._
    val df = (1L to 10L).map(v => (v, v)).toDF("id", "v")
    val got = graft.ops.Profiling.quantileBuckets(df, "v", Seq(30, 60))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("bucket"))
      .toMap
    // boundaries: cum(3)=3 >= 30% of 10 → 3; cum(6)=6 >= 60% → 6
    assert((1L to 3L).forall(got(_) == 1))
    assert((4L to 6L).forall(got(_) == 2))
    assert((7L to 10L).forall(got(_) == 3))
    // ties always share a bucket: 7 copies of one value cross BOTH the
    // 33% and 66% boundaries at once, so both boundaries collapse to 5,
    // all duplicates stay in bucket 1, and bucket 2 is legitimately
    // EMPTY — the 9s land in bucket 3
    val ties = (Seq.fill(7)(5L) ++ Seq.fill(3)(9L)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val tb = graft.ops.Profiling.quantileBuckets(ties, "v", Seq(33, 66))
      .collect().map(r => (r.getAs[Long]("v"), r.getAs[Int]("bucket")))
      .distinct.sorted.toSeq
    assert(tb == Seq((5L, 1), (9L, 3)), s"got $tb")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Profiling.quantileBuckets(
        Seq((1L, 1.5)).toDF("id", "v"), "v", Seq(50))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("powerLawAlpha: CSN MLE hand values, xmin filter, absent keys") {
    import spark.implicits._
    val df = Seq(("k", 2L), ("k", 4L), ("k", 8L), ("k", 1L), // 1 < xmin
      ("flat", 1L)).toDF("key", "x")                         // all < xmin
    val got = graft.ops.Profiling.powerLawAlpha(df, "key", "x", xmin = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("alpha")))).toMap
    val s = math.log(2 / 1.5) + math.log(4 / 1.5) + math.log(8 / 1.5)
    assert(got.keySet == Set("k"), "below-xmin-only keys must be absent")
    assert(got("k")._1 == 3L)
    assert(got("k")._2 == math.round((1.0 + 3 / s) * 1e6) / 1e6)
  }

  test("madOutliers: robust flags, half-integral medians exact, zero MAD") {
    import spark.implicits._
    // key a: 1..9 + 100 — median 5.5 (med2=11), dev2 of 100 = 189,
    // median(dev2)=5 → mad4=10; flag iff 2·dev2 > 5·10 → only the 100.
    // key b: four equal + one spike — MAD 0, spike still flags (2·dev2>0).
    val df = ((1L to 9L).map(("a", _)) ++ Seq(("a", 100L)) ++
      Seq(("b", 7L), ("b", 7L), ("b", 7L), ("b", 7L), ("b", 50L)))
      .toDF("k", "v")
    val got = graft.ops.Profiling.madOutliers(df, "k", "v", k = 5)
      .collect().map(r => (r.getString(0), r.getAs[Long]("v")) ->
        (r.getAs[Long]("dev2"), r.getAs[Boolean]("outlier"))).toMap
    assert(got(("a", 100L)) == ((189L, true)))
    assert((1L to 9L).forall(v => !got(("a", v))._2))
    assert(got(("b", 50L))._2 && !got(("b", 7L))._2)
  }

  test("infoGain: perfect predictor = H(L) bits, constant feature = 0") {
    import spark.implicits._
    // f mirrors the label exactly; g is constant; h has a null (its row
    // drops for h only); one null label row drops everywhere
    val df = Seq(
      ("0", "a", "x", "p"), ("0", "a", "x", "p"),
      ("1", "b", "x", null), ("1", "b", "x", "q"),
      (null, "a", "x", "p")
    ).toDF("l", "f", "g", "h")
    val got = graft.ops.Profiling.infoGain(df, Seq("f", "g", "h"), "l")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("h_label"),
          r.getAs[Double]("h_cond"), r.getAs[Double]("gain")))).toMap
    assert(got("f") == ((4L, 1.0, 0.0, 1.0)))
    assert(got("g") == ((4L, 1.0, 1.0, 0.0)))
    // h sees 3 rows: l=0,0,1 → H = log2(3) − (2·1)/3 = 0.918296;
    // h=p ⇒ l=0 (2 rows), h=q ⇒ l=1 → H(L|H) = 0 (perfect on survivors)
    assert(got("h") == ((3L, 0.918296, 0.0, 0.918296)))
  }

  test("ksTest: hand-computed D, argmax location, identical = 0") {
    import spark.implicits._
    val a = Seq(1L, 1L, 2L, 3L).toDF("v")
    val b = Seq(2L, 3L, 3L, 4L, 4L).toDF("v")
    // grid 1,2,3,4: cuma 2,3,4,4; cumb 0,1,3,5
    // |cuma·5 − cumb·4| = 10, 11, 8, 0 → D = 11/20 at v = 2
    val r = graft.ops.Profiling.ksTest(a, b, "v").collect().head
    assert((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
      r.getAs[Long]("d_num"), r.getAs[Long]("d_den"),
      r.getAs[Long]("d_at"), r.getAs[Double]("d")) ==
      ((4L, 5L, 11L, 20L, 2L, 0.55)))
    // identical samples → D = 0, location = smallest grid value
    val r2 = graft.ops.Profiling.ksTest(a, a, "v").collect().head
    assert(r2.getAs[Long]("d_num") == 0L && r2.getAs[Long]("d_at") == 1L)
    // disjoint supports → D = 1
    val r3 = graft.ops.Profiling.ksTest(
      Seq(1L).toDF("v"), Seq(2L).toDF("v"), "v").collect().head
    assert(r3.getAs[Double]("d") == 1.0 && r3.getAs[Long]("d_at") == 1L)
  }

  test("psi: identical = 0, shifted mass decomposes per bin") {
    import spark.implicits._
    val a = (1L to 10L).toDF("v")
    val same = graft.ops.Profiling.psi(a, a, "v").collect()
    assert(same.length == 10)
    assert(same.forall(_.getAs[Double]("term") == 0.0))
    assert(same.forall(_.getAs[Double]("psi") == 0.0))
    // baseline uniform deciles; comparison all-mass-in-top-bin
    val b = Seq.fill(10)(10L).toDF("v")
    val got = graft.ops.Profiling.psi(a, b, "v").collect()
      .map(r => r.getAs[Int]("bin") ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Double]("term"), r.getAs[Double]("psi")))).toMap
    def rnd(x: Double) = math.round(x * 1e6) / 1e6
    val tLow = rnd((0.1 - 0.05) * math.log(0.1 / 0.05))
    val tTop = rnd((0.1 - 0.55) * math.log(0.1 / 0.55))
    val psi = rnd(9 * ((0.1 - 0.05) * math.log(0.1 / 0.05)) +
      (0.1 - 0.55) * math.log(0.1 / 0.55))
    (1 to 9).foreach { i =>
      assert(got(i) == ((1L, 0L, tLow, psi)), s"bin $i: ${got(i)}")
    }
    assert(got(10) == ((1L, 10L, tTop, psi)))
    // lo column: bin 1 open-ended (null), others carry the boundary
    val lows = graft.ops.Profiling.psi(a, b, "v").collect()
      .map(r => r.getAs[Int]("bin") ->
        Option(r.getAs[java.lang.Long]("lo"))).toMap
    assert(lows(1).isEmpty && lows(2) == Some(1L) && lows(10) == Some(9L))
  }

  test("bootstrapCI: deterministic, brackets the mean, integral-only") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, "g", i % 50)).toDF("id", "grp", "v")
    def run() = graft.ops.Profiling.bootstrapCI(df, "grp", "v", "id",
      b = 40).collect().head
    val r1 = run()
    val r2 = run()
    assert(r1 == r2) // content-addressed weights: no RNG state anywhere
    assert(r1.getAs[Long]("n") == 200L)
    val mean = r1.getAs[Double]("mean")
    val lo = r1.getAs[Double]("ci_lo")
    val hi = r1.getAs[Double]("ci_hi")
    assert(lo < mean && mean < hi, s"[$lo, $hi] vs $mean")
    assert(r1.getAs[Long]("n_reps") == 40L)
    // CI shrinks roughly with sqrt(n): 10x data gives a tighter interval
    val big = (1L to 2000L).map(i => (i, "g", i % 50)).toDF("id", "grp", "v")
    val rBig = graft.ops.Profiling.bootstrapCI(big, "grp", "v", "id",
      b = 40).collect().head
    assert(rBig.getAs[Double]("ci_hi") - rBig.getAs[Double]("ci_lo") <
      (hi - lo), "10x data must tighten the CI")
    // non-integral value column is refused
    val e = intercept[IllegalArgumentException] {
      graft.ops.Profiling.bootstrapCI(
        Seq((1L, "g", 1.5)).toDF("id", "grp", "v"), "grp", "v", "id")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("ndcg: perfect ranking scores 1, inverted scores less, no-truth 0") {
    import spark.implicits._
    def rnd(x: Double) = math.round(x * 1e6) / 1e6
    val truth = Seq(("q1", "a", 3L), ("q1", "b", 1L), ("q3", "x", 2L))
      .toDF("q", "item", "rel")
    // q1 ranked ideally; q2 has no truth at all
    val perfect = Seq(("q1", "a", 1), ("q1", "b", 2), ("q2", "z", 1))
      .toDF("q", "item", "rank")
    val got = graft.ops.Profiling.ndcg(perfect, truth, "q", "item",
      "rank", "rel", k = 5).collect()
      .map(r => r.getAs[String]("q") ->
        ((r.getAs[Double]("dcg"), r.getAs[Double]("idcg"),
          r.getAs[Double]("ndcg")))).toMap
    val ideal = 3.0 / (math.log(2.0) / math.log(2.0)) +
      1.0 / (math.log(3.0) / math.log(2.0))
    assert(got("q1") == ((rnd(ideal), rnd(ideal), 1.0)))
    assert(got("q2") == ((0.0, 0.0, 0.0)))
    // inverted ranking: dcg < idcg
    val inverted = Seq(("q1", "b", 1), ("q1", "a", 2)).toDF("q", "item", "rank")
    val inv = graft.ops.Profiling.ndcg(inverted, truth, "q", "item",
      "rank", "rel", k = 5).collect().head
    assert(inv.getAs[Double]("ndcg") < 1.0 && inv.getAs[Double]("ndcg") > 0)
  }

  test("benford: first digits, chi2 against the log curve, verdicts") {
    import spark.implicits._
    def rnd(x: Double) = math.round(x * 1e6) / 1e6
    // a perfectly Benford-weighted sample: 1000 draws at the ideal
    // frequencies round to counts whose chi2 is tiny
    val ideal = (1 to 9).flatMap { d =>
      val n = math.round(1000 * math.log10(1.0 + 1.0 / d)).toInt
      Seq.fill(n)(("g", d.toLong * 100 + 7))
    }.toDF("grp", "v")
    val okRows = graft.ops.Profiling.benford(ideal, "grp", "v").collect()
    assert(okRows.length == 9)
    assert(okRows.forall(_.getAs[Boolean]("benford_ok")))
    // a uniform-first-digit sample fails loudly
    val flat = (1 to 9).flatMap(d => Seq.fill(100)(("g", d.toLong * 10)))
      .toDF("grp", "v")
    val badRows = graft.ops.Profiling.benford(flat, "grp", "v").collect()
    assert(badRows.forall(!_.getAs[Boolean]("benford_ok")))
    // digit extraction + zero/negative filtering
    val digits = graft.ops.Profiling.benford(
      Seq(("g", 912L), ("g", 0L), ("g", 37L)).toDF("grp", "v"),
      "grp", "v").collect()
      .map(r => r.getAs[Int]("digit") -> r.getAs[Long]("observed")).toMap
    assert(digits(9) == 1L && digits(3) == 1L && digits(1) == 0L)
    // hand-check one chi2 term: observed o at digit d with n total
    val n = 2.0
    val p9 = math.log(1.0 + 1.0 / 9) / math.log(10.0)
    val t9 = (1.0 - n * p9) * (1.0 - n * p9) / (n * p9)
    val r9 = graft.ops.Profiling.benford(
      Seq(("g", 912L), ("g", 0L), ("g", 37L)).toDF("grp", "v"),
      "grp", "v").collect().find(_.getAs[Int]("digit") == 9).get
    assert(r9.getAs[Double]("term") == rnd(t9))
  }

  test("calibration: exact per-bin ratios, bin-ordered ECE fold") {
    import spark.implicits._
    val df = Seq((50L, false), (150L, true), (950L, true), (1000L, true))
      .toDF("score_mil", "label")
    val rows = graft.ops.Profiling.calibration(df, "score_mil", "label")
      .collect().map(r => r.getAs[Int]("bin") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("conf_mil"),
          r.getAs[Double]("acc_mil"), r.getAs[Double]("ece_mil")))).toMap
    // score 1000 folds into bin 9 with 950
    assert(rows.keySet == Set(0, 1, 9))
    val ece = 0.25 * 50 + 0.25 * (1000 - 150) + 0.5 * (1000 - 975)
    assert(rows(0) == ((1L, 50.0, 0.0, ece)))
    assert(rows(1) == ((1L, 150.0, 1000.0, ece)))
    assert(rows(9) == ((2L, 975.0, 1000.0, ece)))
  }

  test("ksTest plan: histogram collapses map-side before the grid window") {
    import spark.implicits._
    val a = Seq(1L, 2L).toDF("v")
    val plan = graft.ops.Profiling.ksTest(a, a, "v")
      .queryExecution.executedPlan.toString
    // per-side histograms partial-aggregate before any exchange; the
    // single-partition window rides the |grid|-sized histogram only
    assert(plan.contains("partial_count"), plan)
  }

  test("infoGain plan: melt once, partial-aggregable counts") {
    import spark.implicits._
    val df = Seq(("0", "a"), ("1", "b")).toDF("l", "f")
    val plan = graft.ops.Profiling.infoGain(df, Seq("f"), "l")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("corrMatrix: hand moments, listwise deletion, zero variance") {
    import spark.implicits._
    // after listwise-dropping the null row: x=[1,2,3], y=[2,4,6],
    // z=[3,1,2], w=[5,5,5]; y = 2x → corr 1; corr(x,z) = −3/6 = −0.5;
    // w is constant → null against everything
    val df = Seq(
      (Some(1L), Some(2L), Some(3L), Some(5L)),
      (Some(2L), Some(4L), Some(1L), Some(5L)),
      (Some(3L), Some(6L), Some(2L), Some(5L)),
      (Some(4L), None, Some(0L), Some(9L)))
      .toDF("x", "y", "z", "w")
    val got = graft.ops.Profiling.corrMatrix(df,
        Seq("x", "y", "z", "w")).collect()
      .map(r => (r.getAs[String]("col_x"), r.getAs[String]("col_y")) ->
        ((r.getAs[Long]("n"),
          Option(r.getAs[java.lang.Double]("corr")).map(_.toDouble))))
      .toMap
    assert(got(("x", "y")) == ((3L, Some(1.0))))
    assert(got(("x", "z")) == ((3L, Some(-0.5))))
    assert(got(("y", "z")) == ((3L, Some(-0.5))))
    assert(got(("x", "w")) == ((3L, None)))
    assert(got(("y", "w")) == ((3L, None)))
    assert(got(("z", "w")) == ((3L, None)))
    assert(got.size == 6)
    // fractional columns are rejected, not silently cast
    val e = intercept[IllegalArgumentException] {
      graft.ops.Profiling.corrMatrix(
        Seq((1L, 0.5)).toDF("a", "b"), Seq("a", "b"))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("corrMatrix plan: one aggregation pass, no joins") {
    import spark.implicits._
    val df = Seq((1L, 2L, 3L), (4L, 5L, 6L)).toDF("a", "b", "c")
    val plan = graft.ops.Profiling.corrMatrix(df, Seq("a", "b", "c"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      plan)
  }

  test("percentileRank: ECDF micro-units, ties share a rank, null group") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("A"), 10L), (2L, Some("A"), 20L), (3L, Some("A"), 20L),
      (4L, Some("A"), 30L),
      (5L, None, 5L), (6L, None, 7L))
      .toDF("id", "g", "v")
    val got = graft.ops.Profiling.percentileRank(df, "g", "v").collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("group_n"), r.getAs[Long]("cdf_micro")))).toMap
    assert(got(1L) == ((4L, 250000L)))
    assert(got(2L) == ((4L, 750000L)))   // ties: both 20s rank together
    assert(got(3L) == ((4L, 750000L)))
    assert(got(4L) == ((4L, 1000000L)))
    assert(got(5L) == ((2L, 500000L)))   // NULL group joins null-safely
    assert(got(6L) == ((2L, 1000000L)))
    assert(got.size == 6)
    intercept[IllegalArgumentException] {
      graft.ops.Profiling.percentileRank(
        Seq(("a", 0.5)).toDF("g", "v"), "g", "v")
    }
  }

  test("liftTable: top-down cumulative gains and integer-exact lift") {
    import spark.implicits._
    // scores 1..10, positives are exactly the top half; a perfect
    // ranking's top bucket doubles the base rate → lift 2.0
    val df = (1L to 10L).map(s => (s, s > 5)).toDF("s", "y")
    val got = graft.ops.Profiling.liftTable(df, "s", "y",
        probsPct = Seq(50)).collect()
      .map(r => r.getAs[Int]("bucket") ->
        ((Option(r.getAs[java.lang.Long]("lo")).map(_.toLong),
          r.getAs[Long]("n"), r.getAs[Long]("n_pos"),
          r.getAs[Long]("cum_n"), r.getAs[Long]("cum_pos"),
          r.getAs[Double]("gains"), r.getAs[Double]("lift")))).toMap
    assert(got(2) == ((Some(5L), 5L, 5L, 5L, 5L, 1.0, 2.0)))
    assert(got(1) == ((None, 5L, 0L, 10L, 5L, 1.0, 1.0)))
    assert(got.size == 2)
    // no positives anywhere → gains/lift null, counts intact
    val none = graft.ops.Profiling.liftTable(
      (1L to 4L).map(s => (s, false)).toDF("s", "y"), "s", "y",
      probsPct = Seq(50)).collect()
    assert(none.forall(r =>
      r.isNullAt(r.fieldIndex("lift")) && r.isNullAt(r.fieldIndex("gains"))))
    intercept[IllegalArgumentException] {
      graft.ops.Profiling.liftTable(
        Seq((0.5, true)).toDF("s", "y"), "s", "y")
    }
  }

  test("proportionTest: Wilson intervals, pooled z, per-unit OR") {
    import spark.implicits._
    // unit 13 has rows (false, true) → converts once, not twice
    val rows = Seq(
      (10L, "control", false), (11L, "control", true),
      (12L, "control", false), (13L, "control", false),
      (13L, "control", true),
      (20L, "treatment", true), (21L, "treatment", true),
      (22L, "treatment", true), (23L, "treatment", true))
      .toDF("u", "v", "conv")
    val got = graft.ops.Profiling.proportionTest(rows, "u", "v",
        "conv", control = "control").collect()
      .map(r => r.getAs[String]("variant") ->
        ((r.getAs[Long]("n_units"), r.getAs[Long]("n_converted"),
          r.getAs[Double]("rate"), r.getAs[Double]("ci_lo"),
          r.getAs[Double]("ci_hi"),
          Option(r.getAs[java.lang.Double]("z_vs_control")),
          Option(r.getAs[java.lang.Boolean]("significant"))))).toMap
    assert(got("control") == ((4L, 2L, 0.5, 0.150036, 0.849964,
      None, None)))
    assert(got("treatment") == ((4L, 4L, 1.0, 0.5101, 1.0,
      Some(1.632993), Some(false))))
  }

  test("wasserstein1: exact mass-times-distance, zero on identity") {
    import spark.implicits._
    // a=[0,0,10], b=[0,10,10]: one third of the mass moves 10 → 10/3
    val a = Seq(0L, 0L, 10L).toDF("v")
    val b = Seq(0L, 10L, 10L).toDF("v")
    val r = graft.ops.Profiling.wasserstein1(a, b, "v").collect().head
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[java.math.BigDecimal]("w1_num").longValueExact() == 30L)
    assert(r.getAs[Double]("w1") == 3.333333)
    // identical distributions: exactly zero
    val same = graft.ops.Profiling.wasserstein1(a, a, "v").collect().head
    assert(same.getAs[java.math.BigDecimal]("w1_num")
      .longValueExact() == 0L)
    assert(same.getAs[Double]("w1") == 0.0)
    // KS blind spot: shift every value by 5 — same D as a tiny shift,
    // but W1 grows with the distance
    val shifted = Seq(5L, 5L, 15L).toDF("v")
    val w = graft.ops.Profiling.wasserstein1(a, shifted, "v")
      .collect().head
    assert(w.getAs[Double]("w1") == 5.0, w)
  }

  test("effectiveSampleSize: uniform = n, skew shrinks, zero-sum null") {
    import spark.implicits._
    val df = Seq(("g", 1L), ("g", 1L), ("g", 1L), ("g", 1L),
      ("h", 3L), ("h", 1L), ("z", 0L), ("z", 0L)).toDF("grp", "w")
    val got = graft.ops.Profiling.effectiveSampleSize(df, "grp", "w")
      .collect().map(r => r.getAs[String]("grp") ->
        ((r.getAs[Long]("n"),
          r.getAs[java.math.BigDecimal]("sum_w").longValueExact(),
          Option(r.getAs[java.lang.Double]("ess")),
          Option(r.getAs[java.lang.Double]("ess_ratio"))))).toMap
    assert(got("g") == ((4L, 4L, Some(4.0), Some(1.0))))
    assert(got("h") == ((2L, 4L, Some(1.6), Some(0.8))))
    assert(got("z") == ((2L, 0L, None, None)))
  }

  test("ratioMetric: delta method, per-unit collapse, zero denominator") {
    import spark.implicits._
    val rows = Seq(
      // control units: x = 1,2,3 over y = 10 each → ratio 0.2
      ("control", 10L, 1L, 10L), ("control", 11L, 2L, 10L),
      ("control", 12L, 3L, 10L),
      // treatment: x = 4,5,6 (unit 20 split across two rows → collapse)
      ("treatment", 20L, 2L, 4L), ("treatment", 20L, 2L, 6L),
      ("treatment", 21L, 5L, 10L), ("treatment", 22L, 6L, 10L),
      // degenerate variant: all-zero denominator
      ("zden", 30L, 1L, 0L))
      .toDF("variant", "u", "x", "y")
    val got = graft.ops.Profiling.ratioMetric(rows, "u", "variant",
        "x", "y", control = "control").collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_units"),
          r.getAs[java.math.BigDecimal]("sum_num").longValueExact(),
          r.getAs[java.math.BigDecimal]("sum_den").longValueExact(),
          Option(r.getAs[java.lang.Double]("ratio")),
          Option(r.getAs[java.lang.Double]("diff_vs_control")),
          Option(r.getAs[java.lang.Boolean]("significant"))))).toMap
    assert(got("control") == ((3L, 6L, 30L, Some(0.2), None, None)))
    // vars: s_x² = 1, s_y² = s_xy = 0 per side → var = 1/300 each;
    // z² = 0.09 / (2/300) = 13.5 ≥ 3.8416
    assert(got("treatment") ==
      ((3L, 15L, 30L, Some(0.5), Some(0.3), Some(true))))
    assert(got("zden") == ((1L, 1L, 0L, None, None, None)))
  }

  test("conformalThreshold: exact rank index, ties, alpha clamps") {
    import spark.implicits._
    val g = (1L to 10L).map(v => ("g", v)) ++
      Seq(("t", 1L), ("t", 1L), ("t", 1L), ("t", 2L))
    val df = g.toDF("grp", "s")
    def run(aN: Long, aD: Long) =
      graft.ops.Profiling.conformalThreshold(df, "grp", "s", aN, aD)
        .collect().map(r => r.getAs[String]("grp") ->
          ((r.getAs[Long]("n"), r.getAs[Long]("k"),
            r.getAs[Long]("threshold")))).toMap
    // α = 1/10, n = 10: k = ⌈11·0.9⌉ = 10 → the max score
    assert(run(1, 10)("g") == ((10L, 10L, 10L)))
    // α = 1/2: k = 11 − 5 = 6
    assert(run(1, 2)("g") == ((10L, 6L, 6L)))
    // ties: n = 4, α = 1/4 → k = 4; cum reaches 4 only at score 2
    assert(run(1, 4)("t") == ((4L, 4L, 2L)))
    // clamps: α = 1 → k = 1 (min score); α = 0 → k = n (max score)
    assert(run(1, 1)("g") == ((10L, 1L, 1L)))
    assert(run(0, 1)("g") == ((10L, 10L, 10L)))
  }

  test("leaveOneOutMeans: exact influence, whole-table group null") {
    import spark.implicits._
    val df = Seq(("a", 1L), ("a", 1L), ("b", 4L)).toDF("grp", "v")
    val got = graft.ops.Profiling.leaveOneOutMeans(df, "grp", "v")
      .collect().map(r => r.getAs[String]("grp") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("mean"),
          Option(r.getAs[java.lang.Double]("loo_mean")),
          Option(r.getAs[java.lang.Double]("influence"))))).toMap
    // global mean 2.0; dropping a → 4.0 (+2), dropping b → 1.0 (−1)
    assert(got("a") == ((2L, 1.0, Some(4.0), Some(2.0))))
    assert(got("b") == ((1L, 4.0, Some(1.0), Some(-1.0))))
    val solo = graft.ops.Profiling.leaveOneOutMeans(
      Seq(("only", 7L)).toDF("grp", "v"), "grp", "v").collect().head
    assert(solo.isNullAt(solo.fieldIndex("loo_mean")))
  }

  test("rankSumTest: midranks on ties, exact AUC, hand-computed U") {
    import spark.implicits._
    // positives [3,5,5] vs negatives [1,5,2]: ranks 1..3 then midrank 5
    // for the three 5s → R_pos = 13, U = 7, AUC = 7/9
    val df = Seq(
      ("g", true, 3L), ("g", true, 5L), ("g", true, 5L),
      ("g", false, 1L), ("g", false, 5L), ("g", false, 2L),
      // perfect separation, tiny n → AUC 1.0 but not significant
      ("h", true, 10L), ("h", true, 11L),
      ("h", false, 1L), ("h", false, 2L))
      .toDF("g", "label", "v")
    val got = graft.ops.Profiling.rankSumTest(df, "g", "label", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg"),
          r.getAs[java.math.BigDecimal]("u2").longValueExact(),
          r.getAs[Double]("auc"),
          r.getAs[Boolean]("significant")))).toMap
    assert(got("g") == ((3L, 3L, 14L, 0.777778, false)))
    assert(got("h") == ((2L, 2L, 8L, 1.0, false)))
  }

  test("rankSumTest: tie-corrected significance fires at scale") {
    import spark.implicits._
    // 20 pos all at 2, 20 neg all at 1: U = n_pos·n_neg (perfect),
    // tie-corrected var stays positive (two tie blocks, not one)
    val rows = (0 until 20).map(_ => ("g", true, 2L)) ++
      (0 until 20).map(_ => ("g", false, 1L))
    val got = graft.ops.Profiling.rankSumTest(rows.toDF("g", "label", "v"),
      "g", "label", "v").collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[java.math.BigDecimal]("u2").longValueExact() == 800L)
    assert(r.getAs[Double]("auc") == 1.0)
    assert(r.getAs[Boolean]("significant"))
    // all-tied group: var = 0 → never significant, AUC exactly half
    val tied = (0 until 10).map(i => ("t", i % 2 == 0, 7L))
    val rt = graft.ops.Profiling.rankSumTest(tied.toDF("g", "label", "v"),
      "g", "label", "v").collect().head
    assert(rt.getAs[Double]("auc") == 0.5)
    assert(!rt.getAs[Boolean]("significant"))
  }

  test("rankSumTest: one-sided group reports null AUC, plan partial-aggs") {
    import spark.implicits._
    val df = Seq(("g", true, 1L), ("g", true, 2L)).toDF("g", "label", "v")
    val r = graft.ops.Profiling.rankSumTest(df, "g", "label", "v")
      .collect().head
    assert(r.isNullAt(r.fieldIndex("auc")))
    assert(!r.getAs[Boolean]("significant"))
    // histogram collapse must partial-aggregate before the window
    val plan = graft.ops.Profiling.rankSumTest(df, "g", "label", "v")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), plan)
  }

  test("welchTTest: hand moments, significance, control nulls") {
    import spark.implicits._
    // control [1,2,3] vs treatment [5,6,7]: both s²=1, t² = 24 → sig
    val df = Seq(
      ("control", 1L), ("control", 2L), ("control", 3L),
      ("treatment", 5L), ("treatment", 6L), ("treatment", 7L),
      // same mean as control, zero variance on one side only
      ("flat", 2L), ("flat", 2L))
      .toDF("variant", "v")
    val got = graft.ops.Profiling.welchTTest(df, "variant", "v",
        control = "control").collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("mean"),
          Option(r.getAs[java.lang.Double]("diff_vs_control")),
          Option(r.getAs[java.lang.Boolean]("significant"))))).toMap
    assert(got("control") == ((3L, 2.0, None, None)))
    assert(got("treatment") == ((3L, 6.0, Some(4.0), Some(true))))
    // flat vs control: diff 0 → t² = 0 → not significant
    assert(got("flat") == ((2L, 2.0, Some(0.0), Some(false))))
  }

  test("welchTTest: both-constant comparison degrades to null flag") {
    import spark.implicits._
    val df = Seq(("control", 5L), ("control", 5L),
      ("treatment", 9L), ("treatment", 9L)).toDF("variant", "v")
    val got = graft.ops.Profiling.welchTTest(df, "variant", "v",
        control = "control").collect()
      .map(r => r.getString(0) ->
        Option(r.getAs[java.lang.Boolean]("significant"))).toMap
    // zero variance on BOTH sides: t² undefined — null, never a verdict
    assert(got("treatment").isEmpty)
  }

  test("spearman: perfect monotone, midranked ties, constant column") {
    import spark.implicits._
    val df = Seq(
      // perfect monotone (nonlinear is fine — ranks only)
      ("g", Some(1L), Some(10L)), ("g", Some(2L), Some(40L)),
      ("g", Some(3L), Some(90L)),
      // ties: x=[1,1,2] → a=[3,3,6]; y=[5,7,7] → b=[2,5,5] → rho 0.5
      ("t", Some(1L), Some(5L)), ("t", Some(1L), Some(7L)),
      ("t", Some(2L), Some(7L)),
      // constant x → zero variance → null rho (n still counts)
      ("c", Some(4L), Some(1L)), ("c", Some(4L), Some(2L)),
      // a null in either column drops the row BEFORE ranking
      ("g", Some(9L), None), ("g", None, Some(9L)))
      .toDF("grp", "x", "y")
    val got = graft.ops.Profiling.spearman(df, "grp", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"),
          Option(r.getAs[java.lang.Double]("rho"))))).toMap
    assert(got("g") == ((3L, Some(1.0))))
    assert(got("t") == ((3L, Some(0.5))))
    assert(got("c") == ((2L, None)))
  }

  test("kruskalWallis: hand H, tie correction, all-tied null") {
    import spark.implicits._
    val df = Seq(
      // three clean arms, no ties: H = 12/42·(R²/n sum) − 21 = 32/7
      ("g", "a", 1L), ("g", "a", 2L), ("g", "b", 3L), ("g", "b", 4L),
      ("g", "c", 5L), ("g", "c", 6L),
      // tie-corrected: a=[1,1], b=[2,2] → H = 2.4, C = 0.8 → H' = 3.0
      ("t", "a", 1L), ("t", "a", 1L), ("t", "b", 2L), ("t", "b", 2L),
      // every value equal: variance vanishes → null verdict
      ("z", "a", 7L), ("z", "b", 7L))
      .toDF("grp", "variant", "v")
    val got = graft.ops.Profiling.kruskalWallis(df, "grp", "variant", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("k"),
          Option(r.getAs[java.lang.Double]("h")),
          Option(r.getAs[java.lang.Boolean]("significant"))))).toMap
    assert(got("g") == ((6L, 3L, Some(4.571429), Some(false))))
    assert(got("t") == ((4L, 2L, Some(3.0), Some(false))))
    assert(got("z") == ((2L, 2L, None, None)))
  }

  test("kruskalWallis: separation at scale fires the verdict") {
    import spark.implicits._
    val rows = (1L to 200L).map(v => ("g", "lo", v)) ++
      (201L to 400L).map(v => ("g", "hi", v))
    val got = graft.ops.Profiling.kruskalWallis(
      rows.toDF("grp", "variant", "v"), "grp", "variant", "v")
      .collect()(0)
    assert(got.getAs[Boolean]("significant"))
  }

  test("anovaF: hand F, one-arm shift, constant arms degrade to null") {
    import spark.implicits._
    val df = Seq(
      // a=[1,2,3], b=[5,6,7]: SSB=24, SSW=4, F = (24/1)/(4/4) = 24
      ("g", "a", 1L), ("g", "a", 2L), ("g", "a", 3L),
      ("g", "b", 5L), ("g", "b", 6L), ("g", "b", 7L),
      // both arms constant: SSW exact-zero → null (never a verdict)
      ("z", "a", 5L), ("z", "a", 5L), ("z", "b", 5L), ("z", "b", 5L))
      .toDF("grp", "variant", "v")
    val got = graft.ops.Profiling.anovaF(df, "grp", "variant", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("k"),
          Option(r.getAs[java.lang.Double]("f_stat")),
          Option(r.getAs[java.lang.Boolean]("significant"))))).toMap
    assert(got("g") == ((6L, 2L, Some(24.0), Some(true))))
    assert(got("z") == ((4L, 2L, None, None)))
  }

  test("effectiveRank: collapsed, even, and zero-variance embeddings") {
    import spark.implicits._
    // variance rides only dim 0 → PR = 1 (full collapse)
    val collapsed = Seq(Seq(1.0f, 0.0f), Seq(3.0f, 0.0f))
      .toDF("embedding")
    val c = graft.ops.Similarity.effectiveRank(collapsed, "embedding")
      .collect()(0)
    assert((c.getAs[Long]("n_dims"), c.getAs[Long]("n"),
      c.getAs[Double]("pr"), c.getAs[Double]("pr_ratio")) ==
      ((2L, 2L, 1.0, 0.5)))
    // equal variance in both dims → PR = dims
    val even = Seq(Seq(1.0f, 1.0f), Seq(3.0f, 3.0f)).toDF("embedding")
    val e = graft.ops.Similarity.effectiveRank(even, "embedding")
      .collect()(0)
    assert((e.getAs[Double]("pr"), e.getAs[Double]("pr_ratio")) ==
      ((2.0, 1.0)))
    // a single row has zero variance everywhere → null, never 0/0
    val one = Seq(Seq(2.0f, 2.0f)).toDF("embedding")
    val z = graft.ops.Similarity.effectiveRank(one, "embedding")
      .collect()(0)
    assert(z.isNullAt(z.fieldIndex("pr")) &&
      z.isNullAt(z.fieldIndex("pr_ratio")))
  }

  test("bhProcedure: step-up drags covered ranks in, families separate") {
    import spark.implicits._
    val df = Seq(
      // m=4 at alpha=0.1: thresholds 25k/50k/75k/100k → k*=2
      ("f1", 1L, 10000L), ("f1", 2L, 30000L),
      ("f1", 3L, 200000L), ("f1", 4L, 900000L),
      // THE step-up case: rank 1 misses its own threshold (60k > 50k)
      // but rank 2 passes (70k <= 100k) → BOTH reject
      ("f2", 1L, 60000L), ("f2", 2L, 70000L),
      // nothing passes anywhere → zero rejections, no null flags
      ("f3", 1L, 999999L))
      .toDF("fam", "tid", "p_micro")
    val got = graft.ops.Profiling.bhProcedure(df, "fam", "tid",
        "p_micro", alphaMicro = 100000L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getAs[Long]("rank"), r.getAs[Boolean]("reject")))).toMap
    assert(got(("f1", 1L)) == ((1L, true)))
    assert(got(("f1", 2L)) == ((2L, true)))
    assert(got(("f1", 3L)) == ((3L, false)))
    assert(got(("f1", 4L)) == ((4L, false)))
    assert(got(("f2", 1L)) == ((1L, true)))
    assert(got(("f2", 2L)) == ((2L, true)))
    assert(got(("f3", 1L)) == ((1L, false)))
  }

  test("kendallTau: hand pairs with ties, perfect orders, constant null") {
    import spark.implicits._
    val df = Seq(
      // (1,1),(2,2),(2,3),(3,1): the x<x' pairs are AB:C, AC:C,
      // AD:tie-y, BD:D, CD:D (BC ties on x) → C = D = 2, tau 0
      ("g", 1L, 1L), ("g", 2L, 2L), ("g", 2L, 3L), ("g", 3L, 1L),
      // perfect agreement → tau = 1; perfect reversal → −1
      ("p", 1L, 10L), ("p", 2L, 20L), ("p", 3L, 30L),
      ("r", 1L, 30L), ("r", 2L, 20L), ("r", 3L, 10L),
      // constant y → zero denominator → null tau
      ("z", 1L, 7L), ("z", 2L, 7L))
      .toDF("grp", "x", "y")
    val got = graft.ops.Profiling.kendallTau(df, "grp", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("concordant"),
          r.getAs[Long]("discordant"),
          Option(r.getAs[java.lang.Double]("tau"))))).toMap
    assert(got("p") == ((3L, 3L, 0L, Some(1.0))))
    assert(got("r") == ((3L, 0L, 3L, Some(-1.0))))
    assert(got("z")._4.isEmpty)
    // g: x-ordered pairs: (1,1)<(2,2) C, (1,1)<(2,3) C, (1,1)<(3,1) tie-y,
    // (2,2)<(3,1) D, (2,3)<(3,1) D; C=2 D=2, n0*2=12, tx2=2, ty2=0
    // → tau = (2-2)*2/... = 0.0
    assert(got("g") == ((4L, 2L, 2L, Some(0.0))))
  }

  test("theilSen: outlier-proof median slope, weights, constant-x null") {
    import spark.implicits._
    val df = Seq(
      // clean slope 2 with one wild point: pairwise slopes
      // 2,2,2,100/3,49,96 → lower weighted median 2 (OLS would not be)
      ("g", 0L, 0L), ("g", 1L, 2L), ("g", 2L, 4L), ("g", 3L, 100L),
      // duplicate rows collapse to one cell pair of weight 2
      ("w", 0L, 0L), ("w", 0L, 0L), ("w", 1L, 1L),
      // even total weight: slopes 1,1,103/3,51,51,101 sorted cum
      // 2,3,5,6 → doubled cum reaches 6 at 103/3 (lower median)
      ("e", 0L, 0L), ("e", 1L, 1L), ("e", 2L, 102L), ("e", 3L, 103L),
      // constant x → no pairs → null slope, n_pairs 0
      ("z", 5L, 1L), ("z", 5L, 9L))
      .toDF("grp", "x", "y")
    val got = graft.ops.Profiling.theilSen(df, "grp", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_pairs"),
          Option(r.getAs[java.lang.Double]("slope"))))).toMap
    assert(got("g") == ((4L, 6L, Some(2.0))))
    assert(got("w") == ((3L, 2L, Some(1.0))))
    assert(got("e") == ((4L, 6L, Some(34.333333))))
    assert(got("z") == ((2L, 0L, None)))
  }

  test("rbo: identical/reversed rankings, tail weights, empty top-d") {
    import spark.implicits._
    // hand-check at depth 3, p 0.5: S(3)=1/12, S(2)=1/4+S(3),
    // S(1)=1+S(2)
    val s = graft.ops.Profiling.rboTailWeights(0.5, 3)
    assert(math.abs(s(2) - 0.25 / 3) < 1e-15)
    assert(math.abs(s(1) - (0.25 + 0.25 / 3)) < 1e-15)
    assert(math.abs(s(0) - (1.0 + 0.25 + 0.25 / 3)) < 1e-15)
    val df = Seq(
      // identical rankings, 2 items: rbo = 0.5*(S(1)+S(2)) = 0.833333
      ("i", 1L, 10L, 20L), ("i", 2L, 5L, 7L),
      // reversed rankings of 3: m = (3,2,3), rbo = 0.5*(2*S(3)+S(2))
      // = 0.25 (matches the direct per-depth intersection formula)
      ("d", 1L, 30L, 10L), ("d", 2L, 20L, 20L), ("d", 3L, 10L, 30L),
      // score tie broken by id asc on BOTH rankers -> identical order
      ("t", 1L, 5L, 5L), ("t", 2L, 5L, 5L))
      .toDF("grp", "id", "sa", "sb")
    val got = graft.ops.Profiling.rbo(df, "grp", "id", "sa", "sb",
        depth = 3, p = 0.5)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_items"), r.getAs[Long]("overlap_at_d"),
          r.getAs[Double]("rbo")))).toMap
    assert(got("i") == ((2L, 2L, 0.833333)))
    assert(got("d") == ((3L, 3L, 0.25)))
    assert(got("t") == ((2L, 2L, 0.833333)))
    // depth 1, disagreeing tops: nothing survives the prefix -> 0
    val z = Seq(("z", 1L, 10L, 1L), ("z", 2L, 1L, 10L))
      .toDF("grp", "id", "sa", "sb")
    val gz = graft.ops.Profiling.rbo(z, "grp", "id", "sa", "sb",
        depth = 1, p = 0.5).collect()(0)
    assert((gz.getAs[Long]("overlap_at_d"), gz.getAs[Double]("rbo")) ==
      ((0L, 0.0)))
  }

  test("mcnemar: discordant pairs only, exact verdict, agree-only null") {
    import spark.implicits._
    def rows(g: String, n: Int, a: Boolean, b: Boolean) =
      Seq.fill(n)((g, Some(a), Some(b)))
    val df = (rows("g", 10, true, true) ++ rows("g", 8, true, false) ++
      rows("g", 2, false, true) ++ rows("g", 5, false, false) ++
      // b=9, c=0: chi2 = 81/9 = 9 -> significant
      rows("s", 9, true, false) ++ rows("s", 3, true, true) ++
      // all agree: verdict undefined
      rows("z", 4, true, true) ++
      Seq(("z", None: Option[Boolean], Some(true)))) // unpaired: dropped
      .toDF("grp", "ok_a", "ok_b")
    val got = graft.ops.Profiling.mcnemar(df, "grp", "ok_a", "ok_b")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("only_a"),
          r.getAs[Long]("only_b"),
          Option(r.getAs[java.lang.Double]("chi2")),
          Option(r.getAs[java.lang.Boolean]("significant"))))).toMap
    // chi2 = (8-2)^2/10 = 3.6 < 3.841: real difference but not enough
    // discordant pairs
    assert(got("g") == ((25L, 8L, 2L, Some(3.6), Some(false))))
    assert(got("s") == ((12L, 9L, 0L, Some(9.0), Some(true))))
    assert(got("z") == ((4L, 0L, 0L, None, None)))
  }

  test("chiSquared: independence, zero cells, dof-0 null, Cramer's V") {
    import spark.implicits._
    def rows(g: String, n: Int, a: String, b: Long) =
      Seq.fill(n)((g, a, b))
    val df = (rows("g", 10, "x", 0L) ++ rows("g", 10, "x", 1L) ++
      rows("g", 10, "y", 0L) ++ rows("g", 10, "y", 1L) ++
      rows("s", 20, "x", 0L) ++ rows("s", 5, "x", 1L) ++
      rows("s", 5, "y", 0L) ++ rows("s", 20, "y", 1L) ++
      // missing cells (x,1)/(y,0) still contribute their E
      rows("zc", 4, "x", 0L) ++ rows("zc", 4, "y", 1L) ++
      // single row label: dof = 0, no test
      rows("one", 5, "x", 0L) ++ rows("one", 5, "x", 1L))
      .toDF("grp", "fa", "fb")
    val got = graft.ops.Profiling.chiSquared(df, "grp", "fa", "fb")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Int]("dof"),
          Option(r.getAs[java.lang.Double]("chi2")),
          Option(r.getAs[java.lang.Double]("cramers_v")),
          Option(r.getAs[java.lang.Boolean]("significant"))))).toMap
    assert(got("g") == ((40L, 1, Some(0.0), Some(0.0), Some(false))))
    // E = 12.5 everywhere, 4 terms of 7.5^2/12.5: chi2 = 18, V = 0.6
    assert(got("s") == ((50L, 1, Some(18.0), Some(0.6), Some(true))))
    assert(got("zc") == ((8L, 1, Some(8.0), Some(1.0), Some(true))))
    assert(got("one") == ((10L, 0, None, None, None)))
  }

  test("krippendorffAlpha: textbook hand case, degenerate label, " +
      "unpairable units") {
    import spark.implicits._
    val df = Seq(
      // u1: {a,a} agree; u2: {a,b} disagree; u3: {b,b,b} agree
      // Do = 2/1, De = (49-25)/6 = 4 -> alpha = 1 - 2/4 = 0.5
      ("g", 1L, "a"), ("g", 1L, "a"), ("g", 2L, "a"), ("g", 2L, "b"),
      ("g", 3L, "b"), ("g", 3L, "b"), ("g", 3L, "b"),
      // lone rating: unpairable, excluded from n_units/n_ratings
      ("g", 4L, "c"),
      // perfect agreement across 2 units
      ("p", 1L, "x"), ("p", 1L, "x"), ("p", 2L, "y"), ("p", 2L, "y"),
      // every pooled rating identical: De = 0, alpha undefined
      ("z", 1L, "s"), ("z", 1L, "s"), ("z", 2L, "s"), ("z", 2L, "s"))
      .toDF("grp", "unit", "label")
    val got = graft.ops.Profiling.krippendorffAlpha(df, "grp", "unit",
        "label")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_units"), r.getAs[Long]("n_ratings"),
          r.getAs[Long]("n_unpairable"),
          Option(r.getAs[java.lang.Double]("alpha"))))).toMap
    assert(got("g") == ((3L, 7L, 1L, Some(0.5))))
    assert(got("p") == ((2L, 4L, 0L, Some(1.0))))
    assert(got("z") == ((2L, 4L, 0L, None)))
  }

  test("cochranQ: hand Q, incomplete-task drop, unanimous null") {
    import spark.implicits._
    // tasks x models: t1:(1,1,0) t2:(1,0,0) t3:(1,1,1) t4:(0,0,0)
    // G=(3,2,1) S=6 SG2=14; L=(2,1,3,0) SL=6 SL2=14
    // Q = 2*(3*14-36)/(3*6-14) = 12/4 = 3.0 < 5.991 (df 2)
    val g = for {
      (t, oks) <- Seq(1L -> Seq(true, true, false),
        2L -> Seq(true, false, false), 3L -> Seq(true, true, true),
        4L -> Seq(false, false, false))
      (ok, m) <- oks.zipWithIndex
    } yield ("g", t, s"m$m", ok)
    // perfect separation: m0 always right, m1/m2 never:
    // Q = 2*(3*16-16)/(3*4-4) = 64/8 = 8.0 > 5.991 -> significant
    val s = for {
      t <- 1L to 4L
      m <- 0 to 2
    } yield ("s", t, s"m$m", m == 0)
    // task 5 scored by only 2 of 3 models: dropped, reported
    val inc = Seq(("s", 5L, "m0", true), ("s", 5L, "m1", false))
    // unanimous on every task: denominator 0, Q undefined
    val z = for { t <- 1L to 3L; m <- 0 to 1 }
      yield ("z", t, s"m$m", t % 2 == 0)
    val got = graft.ops.Profiling.cochranQ(
        (g ++ s ++ inc ++ z).toDF("grp", "task", "model", "ok"),
        "grp", "task", "model", "ok")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("k"), r.getAs[Long]("n_tasks"),
          r.getAs[Long]("n_incomplete"),
          Option(r.getAs[java.lang.Double]("q")),
          Option(r.getAs[java.lang.Boolean]("significant"))))).toMap
    assert(got("g") == ((3L, 4L, 0L, Some(3.0), Some(false))))
    assert(got("s") == ((3L, 4L, 1L, Some(8.0), Some(true))))
    assert(got("z") == ((2L, 3L, 0L, None, None)))
  }

  test("cochranArmitage: hand trend, flat zero, degenerate nulls") {
    import spark.implicits._
    def rows(g: String, x: Long, nOk: Int, nFail: Int) =
      Seq.fill(nOk)((g, x, true)) ++ Seq.fill(nFail)((g, x, false))
    val df = (
      // pass rate 2/10 -> 5/10 -> 8/10 over doses 0,1,2:
      // num = 30*21 - 15*30 = 180, var = 15*15*600, z2 = 7.2
      rows("g", 0L, 2, 8) ++ rows("g", 1L, 5, 5) ++
        rows("g", 2L, 8, 2) ++
      // identical rate at every dose: z2 = 0, no direction
      rows("f", 0L, 3, 7) ++ rows("f", 1L, 3, 7) ++
        rows("f", 2L, 3, 7) ++
      // single dose: trend variance 0
      rows("d", 5L, 2, 2) ++
      // all pass: R = N, variance 0
      rows("p", 0L, 3, 0) ++ rows("p", 1L, 3, 0))
      .toDF("grp", "dose", "ok")
    val got = graft.ops.Profiling.cochranArmitage(df, "grp", "dose",
        "ok")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("k_doses"),
          Option(r.getAs[java.lang.Double]("z2")),
          Option(r.getAs[java.lang.Boolean]("rising")),
          Option(r.getAs[java.lang.Boolean]("significant"))))).toMap
    assert(got("g") == ((30L, 3L, Some(7.2), Some(true), Some(true))))
    assert(got("f") == ((30L, 3L, Some(0.0), None, Some(false))))
    assert(got("d") == ((4L, 1L, None, None, None)))
    assert(got("p") == ((6L, 2L, None, None, None)))
  }

  test("mantelHaenszel: pooled OR, CMH chi2, thin strata, no-discord") {
    import spark.implicits._
    def cell(g: String, s: String, t: Boolean, ok: Boolean, n: Int) =
      Seq.fill(n)((g, s, t, ok))
    val df = (
      // two strata, each OR 6: ad/n = 1.2+1.2, bc/n = 0.2+0.2 -> 6.0
      // E = 3+2, a = 4+3, V = 2/3+2/3 -> chi2 = 4/(4/3) = 3.0
      cell("g", "s1", true, true, 4) ++ cell("g", "s1", true, false, 1) ++
      cell("g", "s1", false, true, 2) ++ cell("g", "s1", false, false, 3) ++
      cell("g", "s2", true, true, 3) ++ cell("g", "s2", true, false, 2) ++
      cell("g", "s2", false, true, 1) ++ cell("g", "s2", false, false, 4) ++
      // single-row stratum: no variance, excluded and counted
      cell("g", "s3", true, true, 1) ++
      // perfect concordance: OR undefined, chi2 still defined
      cell("z", "s1", true, true, 2) ++ cell("z", "s1", false, false, 2))
      .toDF("grp", "stratum", "treated", "ok")
    val got = graft.ops.Profiling.mantelHaenszel(df, "grp", "stratum",
        "treated", "ok")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_strata"), r.getAs[Long]("n_thin"),
          r.getAs[Long]("n"),
          Option(r.getAs[java.lang.Double]("or_mh")),
          Option(r.getAs[java.lang.Double]("chi2")),
          Option(r.getAs[java.lang.Boolean]("significant"))))).toMap
    assert(got("g") == ((2L, 1L, 20L, Some(6.0), Some(3.0),
      Some(false))))
    assert(got("z") == ((1L, 0L, 4L, None, Some(3.0), Some(false))))
  }

  test("chi2GoodnessOfFit: on-plan zero, off-plan verdict, " +
      "vanished category, unplanned excluded") {
    import spark.implicits._
    val target = Map("a" -> 500000L, "b" -> 250000L, "c" -> 250000L)
    def rows(g: String, c: String, n: Int) = Seq.fill(n)((g, c))
    val df = (
      rows("g", "a", 50) ++ rows("g", "b", 25) ++ rows("g", "c", 25) ++
        rows("g", "x", 3) ++ // unplanned: excluded, reported
      rows("s", "a", 20) ++ rows("s", "b", 40) ++ rows("s", "c", 40) ++
      rows("m", "a", 10) ++ rows("m", "b", 10)) // c vanished
      .toDF("grp", "cat")
    val got = graft.ops.Profiling.chi2GoodnessOfFit(df, "grp", "cat",
        target)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_unplanned"),
          Option(r.getAs[java.lang.Double]("chi2")),
          Option(r.getAs[java.lang.Boolean]("significant"))))).toMap
    assert(got("g") == ((100L, 3L, Some(0.0), Some(false))))
    // E=(50,25,25): 900/50 + 225/25 + 225/25 = 36 > 5.991
    assert(got("s") == ((100L, 0L, Some(36.0), Some(true))))
    // E=(10,5,5): 0 + 5 + 5 = 10 — a missing category is evidence
    assert(got("m") == ((20L, 0L, Some(10.0), Some(true))))
  }

  test("wilsonInterval: exact-moment bounds, k=0 pins lo at 0") {
    import spark.implicits._
    val df = (Seq.fill(50)(("g", true)) ++ Seq.fill(50)(("g", false)) ++
      Seq.fill(4)(("z", false))).toDF("grp", "ok")
    val got = graft.ops.Profiling.wilsonInterval(df, "grp", "ok")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("k"),
          r.getAs[Double]("rate"), r.getAs[Double]("lo"),
          r.getAs[Double]("hi")))).toMap
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def wilson(n: Long, k: Long) = {
      val z = 1.959964; val z2 = z * z
      val nD = n.toDouble; val p = k.toDouble / nD
      val denom = 1.0 + z2 / nD
      val center = (p + z2 / (2.0 * nD)) / denom
      val hw = z * math.sqrt(p * (1.0 - p) / nD +
        z2 / (4.0 * nD * nD)) / denom
      (r6(p), r6(center - hw), r6(center + hw))
    }
    val (rg, lg, hg) = wilson(100, 50)
    assert(got("g") == ((100L, 50L, rg, lg, hg)))
    // symmetric bounds around 0.5, sane width
    assert(lg > 0.40 && lg < 0.42 && math.abs(lg + hg - 1.0) < 1e-9)
    val (rz, lz, hz) = wilson(4, 0)
    assert(got("z") == ((4L, 0L, rz, lz, hz)))
    assert(rz == 0.0 && math.abs(lz) < 1e-6 && hz > 0.4)
  }

  test("bestThreshold: max-F1 pick, tie to lowest, all-negative") {
    import spark.implicits._
    val df = (
      // F1 by threshold: s>=3 -> 0.8, s>=2 -> 6/7 (best), s>=1 -> 2/3
      Seq(("g", 3L, true), ("g", 3L, true), ("g", 2L, true),
        ("g", 2L, false), ("g", 1L, false), ("g", 1L, false)) ++
      // F1 ties at s>=3 and s>=1 (both 2/3): lowest threshold wins
      Seq(("t", 3L, true), ("t", 2L, false), ("t", 1L, true),
        ("t", 1L, false)) ++
      // no positives anywhere: F1 = 0 at every cut, recall undefined
      Seq(("z", 1L, false), ("z", 1L, false), ("z", 0L, false)))
      .toDF("grp", "score", "label")
    val got = graft.ops.Profiling.bestThreshold(df, "grp", "score",
        "label")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("threshold"), r.getAs[Long]("tp"),
          r.getAs[Long]("fp"), r.getAs[Long]("fn"),
          Option(r.getAs[java.lang.Double]("precision")),
          Option(r.getAs[java.lang.Double]("recall")),
          r.getAs[Double]("f1")))).toMap
    assert(got("g") == ((2L, 3L, 1L, 0L, Some(0.75), Some(1.0),
      0.857143)))
    assert(got("t") == ((1L, 2L, 2L, 0L, Some(0.5), Some(1.0),
      0.666667)))
    assert(got("z") == ((0L, 0L, 3L, 0L, Some(0.0), None, 0.0)))
  }

  test("theilSen/kendallTau/rbo: grid collapses equal brute force " +
      "on seeded fuzz") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    // heavy duplication on purpose: the cell-grid weights must
    // reproduce row-pair semantics exactly
    val rows = (1 to 120).map { i =>
      (s"g${rnd.nextInt(3)}", i.toLong, rnd.nextInt(6).toLong,
        rnd.nextInt(7).toLong)
    }
    val df = rows.toDF("grp", "id", "x", "y")

    // Theil–Sen brute force: every ROW pair with x2 > x1, weight 1
    val tsGot = graft.ops.Profiling.theilSen(df, "grp", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_pairs"),
          Option(r.getAs[java.lang.Double]("slope"))))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val slopes = for {
        a <- rs; b <- rs
        if b._3 > a._3
      } yield (b._4 - a._4).toDouble / (b._3 - a._3).toDouble
      val np = slopes.size.toLong
      val med = if (slopes.isEmpty) None else {
        val sorted = slopes.sorted
        var cum = 0L
        Some(sorted.find { s => cum += 1; 2 * cum >= np }.get)
      }
      assert(tsGot(g)._1 == np, s"$g pairs")
      (tsGot(g)._2, med) match {
        case (Some(got), Some(want)) =>
          assert(math.abs(got - want) < 1e-6, s"$g slope $got $want")
        case (a, b) => assert(a.isEmpty == b.isEmpty, s"$g")
      }
    }

    // Kendall tau-b brute force over row pairs
    val ktGot = graft.ops.Profiling.kendallTau(df, "grp", "x", "y")
      .collect().map(r => r.getString(0) ->
        Option(r.getAs[java.lang.Double]("tau"))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      var c = 0L; var d = 0L; var tx = 0L; var ty = 0L
      for (i <- rs.indices; j <- (i + 1) until rs.size) {
        val (a, b) = (rs(i), rs(j))
        val sx = java.lang.Long.signum(b._3 - a._3)
        val sy = java.lang.Long.signum(b._4 - a._4)
        if (sx == 0 && sy == 0) { tx += 1; ty += 1 }
        else if (sx == 0) tx += 1
        else if (sy == 0) ty += 1
        else if (sx == sy) c += 1 else d += 1
      }
      val n0 = rs.size.toLong * (rs.size - 1) / 2
      val want =
        if (n0 - tx == 0 || n0 - ty == 0) None
        else Some((c - d).toDouble /
          math.sqrt((n0 - tx).toDouble * (n0 - ty).toDouble))
      (ktGot(g), want) match {
        case (Some(got), Some(w)) =>
          assert(math.abs(got - w) < 1e-6, s"$g tau $got $w")
        case (a, b) => assert(a.isEmpty == b.isEmpty, s"$g tau")
      }
    }

    // RBO brute force: per-depth prefix intersections
    val depth = 7; val p = 0.5
    val scored = rows.map { case (g, id, x, y) => (g, id, x, y) }
    val rboGot = graft.ops.Profiling.rbo(df, "grp", "id", "x", "y",
        depth = depth, p = p)
      .collect().map(r => r.getString(0) ->
        r.getAs[Double]("rbo")).toMap
    scored.groupBy(_._1).foreach { case (g, rs) =>
      val byA = rs.sortBy(r => (-r._3, r._2)).map(_._2)
      val byB = rs.sortBy(r => (-r._4, r._2)).map(_._2)
      val want = (1 to depth).map { k =>
        val inter = byA.take(k).toSet
          .intersect(byB.take(k).toSet).size
        math.pow(p, k - 1) * inter / k
      }.sum * (1 - p)
      assert(math.abs(rboGot(g) - want) < 1e-6, s"$g rbo")
    }
  }

  test("groupSequential: OBF boundary, crossing latches, empty-arm " +
      "null") {
    import spark.implicits._
    def rows(g: String, k: Long, t: Boolean, ok: Boolean, n: Int) =
      Seq.fill(n)((g, k, t, ok))
    val df = (
      // interim 1: both arms 5/10 -> z2 = 0, boundary sqrt(2) * z
      rows("g", 1L, true, true, 5) ++ rows("g", 1L, true, false, 5) ++
      rows("g", 1L, false, true, 5) ++ rows("g", 1L, false, false, 5) ++
      // interim 2: treated adds 10/10, control 0/10:
      // cum pA = 0.75, pB = 0.25, pbar = 0.5 -> z2 = 10, crossed
      rows("g", 2L, true, true, 10) ++ rows("g", 2L, false, false, 10) ++
      // control arm empty at interim 1: no test yet
      rows("e", 1L, true, true, 4) ++
      rows("e", 2L, false, true, 2) ++ rows("e", 2L, false, false, 2))
      .toDF("grp", "interim", "treated", "ok")
    val got = graft.ops.Profiling.groupSequential(df, "grp", "interim",
        "treated", "ok", totalInterims = 2)
      .collect().map(r => (r.getString(0), r.getAs[Long]("interim")) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          Option(r.getAs[java.lang.Double]("z2")),
          r.getAs[Double]("z_bound"),
          Option(r.getAs[java.lang.Boolean]("crossed")),
          r.getAs[Boolean]("decided")))).toMap
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val b1 = r6(1.959964 * math.sqrt(2.0 / 1.0))
    val b2 = r6(1.959964 * math.sqrt(2.0 / 2.0))
    assert(got(("g", 1L)) ==
      ((10L, 10L, Some(0.0), b1, Some(false), false)))
    // z2 = 0.25 / (0.25 * (0.05 + 0.05)) = 10 >= 1.959964^2
    assert(got(("g", 2L)) ==
      ((20L, 20L, Some(10.0), b2, Some(true), true)))
    assert(got(("e", 1L)) == ((4L, 0L, None, b1, None, false)))
    // interim 2 has both arms but pbar degenerate? pA=1, pB=0.5,
    // pbar=(4+2)/8=0.75 -> testable
    assert(got(("e", 2L))._3.isDefined)
  }

  test("powerPlan: textbook two-proportion n, out-of-range target null") {
    import spark.implicits._
    val df = (Seq.fill(10)(("g", true)) ++ Seq.fill(90)(("g", false)) ++
      Seq.fill(99)(("h", true)) ++ Seq.fill(1)(("h", false)))
      .toDF("grp", "ok")
    val got = graft.ops.Profiling.powerPlan(df, "grp", "ok",
        Seq(50000L, 20000L))
      .collect().map(r => (r.getString(0), r.getAs[Long]("mde_micro")) ->
        ((r.getAs[Long]("n_baseline"), r.getAs[Double]("baseline_rate"),
          Option(r.getAs[java.lang.Double]("target_rate")),
          Option(r.getAs[java.lang.Long]("n_per_arm")).map(_.toLong))))
      .toMap
    def want(p1: Double, d: Double): Long = {
      val p2 = p1 + d; val pb = (p1 + p2) / 2.0
      val s = 1.959964 * math.sqrt(2.0 * pb * (1.0 - pb)) +
        0.841621 * math.sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))
      math.ceil(s * s / (d * d)).toLong
    }
    // baseline 10%: detecting +5pp needs ~1600/arm, +2pp ~9000/arm —
    // the classic "small effects are brutally expensive" curve
    assert(got(("g", 50000L)) ==
      ((100L, 0.1, Some(0.15), Some(want(0.1, 0.05)))))
    assert(got(("g", 20000L)) ==
      ((100L, 0.1, Some(0.12), Some(want(0.1, 0.02)))))
    assert(want(0.1, 0.02) > 3 * want(0.1, 0.05))
    // baseline 99%: +2pp overshoots 1.0 -> untestable
    assert(got(("h", 20000L)) == ((100L, 0.99, None, None)))
    assert(got(("h", 50000L))._3.isEmpty)
  }

  test("quantileTreatmentEffect: exact nearest-rank diffs, missing arm") {
    import spark.implicits._
    val df = ((1L to 10L).map(v => ("g", true, v)) ++
      (11L to 20L).map(v => ("g", false, v)) ++
      // duplicates shift the rank boundary exactly
      Seq(("d", true, 1L), ("d", true, 1L), ("d", true, 1L),
        ("d", true, 9L), ("d", false, 5L)) ++
      // control-only group: treated side null
      Seq(("c", false, 7L)))
      .toDF("grp", "treated", "v")
    val got = graft.ops.Profiling.quantileTreatmentEffect(df, "grp",
        "treated", "v", Seq(500000L, 900000L))
      .collect().map(r => (r.getString(0), r.getAs[Long]("prob_micro"))
        -> ((Option(r.getAs[java.lang.Long]("q_treated")),
          Option(r.getAs[java.lang.Long]("q_control")),
          Option(r.getAs[java.lang.Long]("diff"))))).toMap
    // uniform 1..10 vs 11..20: p50 = 5 vs 15, p90 = 9 vs 19
    assert(got(("g", 500000L)) == ((Some(5L), Some(15L), Some(-10L))))
    assert(got(("g", 900000L)) == ((Some(9L), Some(19L), Some(-10L))))
    // 3 copies of 1 + one 9: p50 needs cum >= 2 -> 1; p90 cum >= 3.6
    // -> the 9 enters only at the top rank
    assert(got(("d", 500000L)) == ((Some(1L), Some(5L), Some(-4L))))
    assert(got(("d", 900000L)) == ((Some(9L), Some(5L), Some(4L))))
    assert(got(("c", 500000L)) == ((None, Some(7L), None)))
  }

  test("krippendorff/mantelHaenszel/chiSquared equal direct formulas " +
      "on seeded fuzz") {
    import spark.implicits._
    val rnd = new scala.util.Random(42_2026L)
    val rows = (1 to 160).map { _ =>
      (s"g${rnd.nextInt(2)}", rnd.nextInt(12).toLong,
        s"l${rnd.nextInt(3)}", s"s${rnd.nextInt(4)}",
        rnd.nextBoolean(), rnd.nextBoolean())
    }
    val df = rows.toDF("grp", "unit", "label", "stratum", "t", "ok")

    // Krippendorff vs the direct coincidence formulation
    val ka = graft.ops.Profiling.krippendorffAlpha(df, "grp", "unit",
        "label")
      .collect().map(r => r.getString(0) ->
        Option(r.getAs[java.lang.Double]("alpha"))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val units = rs.groupBy(_._2).values.map(_.map(_._3))
        .filter(_.size >= 2).toSeq
      val n = units.map(_.size).sum.toLong
      val doSum = units.map { ls =>
        val o2 = ls.groupBy(identity).values
          .map(v => v.size.toLong * v.size).sum
        (ls.size.toLong * ls.size - o2).toDouble / (ls.size - 1)
      }.sum
      val nc2 = units.flatten.groupBy(identity).values
        .map(v => v.size.toLong * v.size).sum
      val deDen = (n * n - nc2).toDouble
      val want = if (n > 1 && deDen > 0)
        Some(1.0 - doSum * (n - 1) / deDen) else None
      (ka(g), want) match {
        case (Some(got), Some(w)) =>
          assert(math.abs(got - w) < 1e-6, s"$g alpha $got $w")
        case (a, b) => assert(a.isEmpty == b.isEmpty, s"$g alpha")
      }
    }

    // Mantel-Haenszel vs the direct per-stratum sums
    val mh = graft.ops.Profiling.mantelHaenszel(df, "grp", "stratum",
        "t", "ok")
      .collect().map(r => r.getString(0) ->
        ((Option(r.getAs[java.lang.Double]("or_mh")),
          Option(r.getAs[java.lang.Double]("chi2"))))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val strata = rs.groupBy(_._4).values.map { v =>
        val a = v.count(r => r._5 && r._6).toLong
        val b = v.count(r => r._5 && !r._6).toLong
        val c = v.count(r => !r._5 && r._6).toLong
        val d = v.count(r => !r._5 && !r._6).toLong
        (a, b, c, d, a + b + c + d)
      }.filter(_._5 >= 2).toSeq
      val sad = strata.map(s => s._1.toDouble * s._4 / s._5).sum
      val sbc = strata.map(s => s._2.toDouble * s._3 / s._5).sum
      val se = strata.map(s =>
        (s._1 + s._2).toDouble * (s._1 + s._3) / s._5).sum
      val sv = strata.map { s =>
        val ni = s._5.toDouble
        (s._1 + s._2).toDouble * (s._3 + s._4) * (s._1 + s._3) *
          (s._2 + s._4) / (ni * ni * (ni - 1.0))
      }.sum
      val asum = strata.map(_._1).sum.toDouble
      val wantOr = if (sbc > 0) Some(sad / sbc) else None
      val wantChi = if (sv > 0)
        Some((asum - se) * (asum - se) / sv) else None
      (mh(g)._1, wantOr) match {
        case (Some(got), Some(w)) =>
          assert(math.abs(got - w) < 1e-6, s"$g or $got $w")
        case (a, b) => assert(a.isEmpty == b.isEmpty, s"$g or")
      }
      (mh(g)._2, wantChi) match {
        case (Some(got), Some(w)) =>
          assert(math.abs(got - w) < 1e-6, s"$g chi $got $w")
        case (a, b) => assert(a.isEmpty == b.isEmpty, s"$g chi")
      }
    }

    // chi-squared independence vs the direct contingency sum
    val cs = graft.ops.Profiling.chiSquared(df, "grp", "label",
        "stratum")
      .collect().map(r => r.getString(0) ->
        ((Option(r.getAs[java.lang.Double]("chi2")),
          Option(r.getAs[java.lang.Double]("cramers_v"))))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val n = rs.size.toDouble
      val as = rs.map(_._3).distinct.sorted
      val bs = rs.map(_._4).distinct.sorted
      val chi = (for { a <- as; b <- bs } yield {
        val o = rs.count(r => r._3 == a && r._4 == b).toDouble
        val e = rs.count(_._3 == a).toDouble *
          rs.count(_._4 == b).toDouble / n
        (o - e) * (o - e) / e
      }).sum
      val dof = (as.size - 1) * (bs.size - 1)
      if (dof > 0) {
        assert(math.abs(cs(g)._1.get - chi) < 1e-6, s"$g chi2")
        val v = math.sqrt(chi /
          (n * math.min(as.size - 1, bs.size - 1)))
        assert(math.abs(cs(g)._2.get - v) < 1e-6, s"$g v")
      }
    }
  }

  test("leveneTest: spread difference detected, equal spread F=0") {
    import spark.implicits._
    def rows(g: String, v: String, x: Long, n: Int) =
      Seq.fill(n)((g, v, x))
    val df = (
      // arm a spreads {0,10} around median 0, arm b {4,6} around 4:
      // |dev| means 5 vs 1 -> F = (80/1)/(260/18) = 5.538462
      rows("g", "a", 0L, 5) ++ rows("g", "a", 10L, 5) ++
      rows("g", "b", 4L, 5) ++ rows("g", "b", 6L, 5) ++
      // same spread at different locations: deviations identical
      rows("e", "a", 0L, 5) ++ rows("e", "a", 10L, 5) ++
      rows("e", "b", 100L, 5) ++ rows("e", "b", 110L, 5))
      .toDF("grp", "variant", "v")
    val got = graft.ops.Profiling.leveneTest(df, "grp", "variant", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("k"),
          Option(r.getAs[java.lang.Double]("f_stat")),
          Option(r.getAs[java.lang.Boolean]("significant"))))).toMap
    assert(got("g") == ((20L, 2L, Some(5.538462), Some(true))))
    assert(got("e") == ((20L, 2L, Some(0.0), Some(false))))
  }

  test("dunnTest: pooled-midrank pairwise z, all-tied null") {
    import spark.implicits._
    val df = (Seq("a", "b").flatMap(v => (1L to 3L).map(x =>
        ("g", v, x))) ++
      (101L to 103L).map(x => ("g", "c", x)) ++
      // every value identical: tie-corrected variance is 0
      Seq(("z", "a", 5L), ("z", "a", 5L), ("z", "b", 5L)))
      .toDF("grp", "variant", "v")
    val got = graft.ops.Profiling.dunnTest(df, "grp", "variant", "v")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2)) -> ((Option(r.getAs[java.lang.Double]("z")),
          Option(r.getAs[java.lang.Boolean]("significant"))))).toMap
    // doubled midranks: {1,1}=3 {2,2}=7 {3,3}=11, 101/102/103=14/16/18
    // means: a = b = 7, c = 16; vb = (9*10 - 18/8)/12 = 7.3125
    // z_ac = (7-16)/sqrt(4*7.3125*(2/3)) = -2.038099
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val zac = r6(-9.0 / math.sqrt(4.0 * 7.3125 * (2.0 / 3.0)))
    assert(got(("g", "a", "b")) == ((Some(0.0), Some(false))))
    assert(got(("g", "a", "c")) == ((Some(zac), Some(false))))
    assert(got(("g", "b", "c")) == ((Some(zac), Some(false))))
    assert(got(("z", "a", "b")) == ((None, None)))
  }

  test("friedmanTest: textbook chi2, within-block ties, all-tied null, " +
      "incomplete drop") {
    import spark.implicits._
    // 4 blocks, c always best, b always middle: ranks (1,2,3) per
    // block -> chi2 = (k-1)*S/(A-C) = 2*32/(56-48) = 8.0 > 5.991
    val g = for { blk <- 1L to 4L; (t, v) <- Seq(("a", 1L), ("b", 2L),
      ("c", 3L)) } yield ("g", blk, t, v)
    // a and b tied in every block: midranks (1.5,1.5,3) -> chi2 = 8.0
    val t = for { blk <- 1L to 4L; (m, v) <- Seq(("a", 5L), ("b", 5L),
      ("c", 9L)) } yield ("t", blk, m, v)
    // every block fully tied: A = C, untestable
    val z = for { blk <- 1L to 3L; m <- Seq("a", "b") }
      yield ("z", blk, m, 7L)
    // one incomplete block in g: dropped and counted
    val inc = Seq(("g", 9L, "a", 1L), ("g", 9L, "b", 2L))
    val got = graft.ops.Profiling.friedmanTest(
        (g ++ t ++ z ++ inc).toDF("grp", "blk", "trt", "v"),
        "grp", "blk", "trt", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("k"), r.getAs[Long]("n_blocks"),
          r.getAs[Long]("n_incomplete"),
          Option(r.getAs[java.lang.Double]("chi2")),
          Option(r.getAs[java.lang.Boolean]("significant"))))).toMap
    assert(got("g") == ((3L, 4L, 1L, Some(8.0), Some(true))))
    assert(got("t") == ((3L, 4L, 0L, Some(8.0), Some(true))))
    assert(got("z") == ((2L, 3L, 0L, None, None)))
  }

  test("friedmanTest equals the direct ranked formula on seeded fuzz") {
    import spark.implicits._
    val rnd = new scala.util.Random(3232L)
    // complete blocks, heavy within-block ties from the tiny value range
    val rows = for {
      g <- Seq("g0", "g1"); blk <- 1L to 25L; m <- 0 until 4
    } yield (g, blk, s"m$m", rnd.nextInt(4).toLong)
    val got = graft.ops.Profiling.friedmanTest(
        rows.toDF("grp", "blk", "trt", "v"), "grp", "blk", "trt", "v")
      .collect().map(r => r.getString(0) ->
        Option(r.getAs[java.lang.Double]("chi2"))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val k = 4
      // midranks within block
      val ranked = rs.groupBy(_._2).values.flatMap { blk =>
        blk.map { r =>
          val less = blk.count(_._4 < r._4)
          val tied = blk.count(_._4 == r._4)
          (r._3, less + (tied + 1) / 2.0)
        }
      }.toSeq
      val n = rs.size / k
      val rj = ranked.groupBy(_._1).map { case (_, v) =>
        v.map(_._2).sum }
      val s = rj.map(x => (x - n * (k + 1) / 2.0) *
        (x - n * (k + 1) / 2.0)).sum
      val a = ranked.map(r => r._2 * r._2).sum
      val c = n.toDouble * k * (k + 1) * (k + 1) / 4.0
      val want = (k - 1) * s / (a - c)
      assert(math.abs(got(g).get - want) < 1e-6, s"$g $want")
    }
  }

  test("rankEffectSize: exact delta/VDA, tie weight, magnitude buckets") {
    import spark.implicits._
    val df = (
      // variant a {1,2} vs control {1}: gt=1, lt=0, ties=1 ->
      // delta = 0.5 (large), A = (2+1)/4 = 0.75
      Seq(("g", "a", 1L), ("g", "a", 2L), ("g", "ctl", 1L)) ++
      // variant b identical to control: delta 0, A 0.5, negligible
      Seq(("g", "b", 1L), ("g", "b", 2L),
        ("g", "ctl", 2L)) ++ // ctl now {1,2}
      // boundary: delta exactly 0.147 must read "small"
      // gt - lt = 147, pairs = 1000: 500 values above, 353 below, 147
      // tied at control's single value
      (1 to 500).map(i => ("m", "a", 10L)) ++
      (1 to 353).map(i => ("m", "a", 1L)) ++
      (1 to 147).map(i => ("m", "a", 5L)) ++
      Seq(("m", "ctl", 5L)))
      .toDF("grp", "variant", "v")
    val got = graft.ops.Profiling.rankEffectSize(df, "grp", "variant",
        "v", control = "ctl")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Double]("delta"), r.getAs[Double]("vda"),
          r.getAs[String]("magnitude")))).toMap
    // g/ctl is {1,2}: a {1,2} vs ctl {1,2}: gt=1, lt=1, ties=2 ->
    // delta 0, A = (2+2)/8 = 0.5
    assert(got(("g", "a")) == ((0.0, 0.5, "negligible")))
    assert(got(("g", "b")) == ((0.0, 0.5, "negligible")))
    assert(got(("m", "a")) ==
      ((0.147, 0.5735, "small"))) // boundary hits the bucket exactly
  }

  test("equivalenceTest: TOST verdicts, inferior candidate, empty arm") {
    import spark.implicits._
    def arm(g: String, cand: Boolean, ok: Int, fail: Int) =
      Seq.fill(ok)((g, cand, true)) ++ Seq.fill(fail)((g, cand, false))
    val df = (
      // candidate 49% vs baseline 50%, margin 5pp: both one-sided
      // tests pass -> equivalent AND non-inferior
      arm("g", false, 500, 500) ++ arm("g", true, 490, 510) ++
      // candidate 40%: far outside the margin
      arm("w", false, 500, 500) ++ arm("w", true, 400, 600) ++
      // candidate BETTER by 8pp: non-inferior but NOT equivalent
      // (equivalence is two-sided: much-better is still "different")
      arm("s", false, 500, 500) ++ arm("s", true, 580, 420) ++
      // no candidate data: untestable
      arm("e", false, 3, 1))
      .toDF("grp", "cand", "ok")
    val got = graft.ops.Profiling.equivalenceTest(df, "grp", "cand",
        "ok", marginMicro = 50000L)
      .collect().map(r => r.getString(0) ->
        ((Option(r.getAs[java.lang.Double]("diff")),
          Option(r.getAs[java.lang.Boolean]("non_inferior")),
          Option(r.getAs[java.lang.Boolean]("equivalent"))))).toMap
    assert(got("g") == ((Some(-0.01), Some(true), Some(true))))
    assert(got("w") == ((Some(-0.1), Some(false), Some(false))))
    assert(got("s") == ((Some(0.08), Some(true), Some(false))))
    assert(got("e") == ((None, None, None)))
  }

  test("offPolicyValue: IPS/SNIPS hand case, skewed weights shrink ESS") {
    import spark.implicits._
    val df = (
      // uniform p=0.5, reward 1.0 on the 2 matched of 4 rows:
      // IPS = (2 * 1/0.5)/4 = 1.0, SNIPS = 1.0, ESS = 2
      Seq(("g", true, 500000L, 1000L), ("g", true, 500000L, 1000L),
        ("g", false, 500000L, 1000L), ("g", false, 500000L, 1000L)) ++
      // one rare-action match (p=0.01) dominates: ESS collapses
      // toward 1 even with 3 matched rows
      Seq(("s", true, 10000L, 1000L), ("s", true, 900000L, 1000L),
        ("s", true, 900000L, 1000L), ("s", false, 500000L, 0L)) ++
      // zero/negative propensity rows are unusable and excluded
      Seq(("g", true, 0L, 5000L)))
      .toDF("grp", "m", "p", "r")
    val got = graft.ops.Profiling.offPolicyValue(df, "grp", "m", "p",
        "r")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_match"),
          r.getAs[Double]("ips"), r.getAs[Double]("snips"),
          r.getAs[Double]("ess_matched")))).toMap
    assert(got("g") == ((4L, 2L, 1.0, 1.0, 2.0)))
    // s: integer-div weights 1e12/p: 1e8, 1111111, 1111111
    val ws = Seq(100000000L, 1111111L, 1111111L).map(_.toDouble)
    val ess = math.pow(ws.sum, 2) / ws.map(x => x * x).sum
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(got("s")._5 == r6(ess))
    assert(got("s")._5 < 1.05) // one row dominates
    // SNIPS self-normalizes: all matched rewards are 1.0 -> exactly
    // the weighted mean 1.0 despite the skew (up to quantization)
    assert(math.abs(got("s")._4 - 1.0) < 1e-4)
  }

  test("doublyRobustValue: perfect model needs no correction, " +
      "biased model corrected via matches, sign-symmetric floor") {
    import spark.implicits._
    val df = (
      // perfect predictions: residuals 0, DR = DM exactly
      Seq(("g", true, 500000L, 1000L, 1000L),
        ("g", false, 500000L, 2000L, 2000L)) ++
      // model predicts 0 everywhere; p=0.5, matched rewards 1.0:
      // DM = 0, correction = (2 * 1/0.5 * 1.0)/4 = 1.0 -> DR = 1.0
      Seq(("b", true, 500000L, 1000L, 0L), ("b", true, 500000L, 1000L, 0L),
        ("b", false, 500000L, 1000L, 0L),
        ("b", false, 500000L, 1000L, 0L)) ++
      // negative residual: model over-predicts on the matched row
      // (q=2000, r=1000, p=0.5): corr = -2.0; DM = 2.0 -> DR = 1.0
      Seq(("neg", true, 500000L, 1000L, 2000L)))
      .toDF("grp", "m", "p", "r", "q")
    val got = graft.ops.Profiling.doublyRobustValue(df, "grp", "m",
        "p", "r", "q")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("dm"), r.getAs[Double]("dr"),
          r.getAs[Double]("correction")))).toMap
    assert(got("g") == ((1.5, 1.5, 0.0)))
    assert(got("b") == ((0.0, 1.0, 1.0)))
    assert(got("neg") == ((2.0, 0.0, -2.0)))
  }

  test("cohensD: pooled-variance d, Hedges correction, magnitude " +
      "buckets, control and degenerate rows null") {
    import spark.implicits._
    val df = (Seq(12L, 14L, 16L).map(("t", _)) ++
      Seq(10L, 10L, 12L, 12L).map(("c", _)) ++
      Seq(9L).map(("solo", _))).toDF("variant", "v")
    val got = graft.ops.Profiling.cohensD(df, "variant", "v", "c")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("mean"),
          Option(r.getAs[java.lang.Double]("d")).map(_.doubleValue),
          Option(r.getAs[java.lang.Double]("hedges_g"))
            .map(_.doubleValue),
          Option(r.getAs[String]("magnitude"))))).toMap
    // pooled s² = (2·4 + 3·4/3)/5 = 2.4; d = 3/√2.4; g = d·16/19
    assert(got("t") == ((14.0, Some(1.936492), Some(1.63073),
      Some("large"))))
    assert(got("c") == ((11.0, None, None, None)))
    assert(got("solo") == ((9.0, None, None, None))) // n = 1
  }

  test("ipwAte: post-stratified ATE, single-arm buckets dropped " +
      "and counted") {
    import spark.implicits._
    val df = Seq(
      ("b1", true, 10L), ("b1", true, 12L),
      ("b1", false, 5L), ("b1", false, 7L),
      ("b2", true, 20L), ("b2", false, 10L), ("b2", false, 10L),
      ("b3", true, 99L)) // no control -> dropped
      .toDF("bucket", "treated", "y")
    val r = graft.ops.Profiling.ipwAte(df, "bucket", "treated", "y")
      .collect().head
    assert(r.getLong(0) == 7L && r.getLong(1) == 3L)
    assert(r.getLong(2) == 2L && r.getLong(3) == 1L && r.getLong(4) == 1L)
    // ATE = (4·5 + 3·10)/7
    assert(r.getAs[Double]("ate") == 7.142857)
    assert(r.getAs[Double]("treated_mean") == 14.857143)
    assert(r.getAs[Double]("control_mean") == 7.714286)
  }

  test("differential fuzz: trimmed/winsorized means and quantile " +
      "normalization equal sort-based brute force on skewed multisets") {
    import spark.implicits._
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    // deterministic skewed multisets with heavy ties per group
    val data: Seq[(String, Long)] = (0 until 400).map { i =>
      val g = "g" + (i % 3)
      val v = ((i * 2654435761L) % 23) match {
        case m if m < 8 => m % 3           // tie block at 0..2
        case m if m < 20 => m * 7 % 50     // mid values
        case m => 1000L + m                // whales
      }
      (g, v)
    }
    val df = data.toDF("g", "v")
    for (pct <- Seq(0L, 100000L, 250000L, 400000L)) {
      val tm = graft.ops.Profiling.trimmedMean(df, "g", "v", pct)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(2), Option(r.getAs[java.lang.Double]("trimmed_mean"))
            .map(_.doubleValue)))).toMap
      val wm = graft.ops.Profiling.winsorizedMean(df, "g", "v", pct)
        .collect().map(r => r.getString(0) ->
          r.getAs[Double]("winsorized_mean")).toMap
      data.groupBy(_._1).foreach { case (g, rows) =>
        val sorted = rows.map(_._2).sorted
        val n = sorted.size
        val k = (n * pct / 1000000L).toInt
        val trimmed = sorted.slice(k, n - k)
        assert(tm(g)._1 == trimmed.size.toLong, s"$g $pct")
        if (trimmed.nonEmpty)
          assert(tm(g)._2 ==
            Some(r6(trimmed.sum.toDouble / trimmed.size)), s"$g $pct")
        val lo = sorted(k); val hi = sorted(n - k - 1)
        val wins = sorted.map(v => math.max(lo, math.min(hi, v)))
        assert(wm(g) == r6(wins.sum.toDouble / n), s"win $g $pct")
      }
    }
    // quantile normalization vs per-row brute force
    val qn = graft.ops.Profiling.quantileNormalize(df, "g", "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        r.getLong(3)).toMap
    val globalSorted = data.map(_._2).sorted
    val bigN = globalSorted.size
    data.groupBy(_._1).foreach { case (g, rows) =>
      val gs = rows.map(_._2).sorted
      val ng = gs.size
      gs.distinct.foreach { v =>
        val cumLe = gs.count(_ <= v).toLong
        val gr = ((cumLe * bigN + ng - 1) / ng).toInt
        val expect = globalSorted(gr - 1) // value at rank gr
        assert(qn((g, v)) == expect, s"qn $g $v")
      }
    }
  }

  test("qValues: Storey pi0 from the high-p tail, monotone q from " +
      "the largest p down, dense-signal family pays less") {
    import spark.implicits._
    val df = (Seq((1L, 10000L), (2L, 20000L), (3L, 600000L),
      (4L, 800000L)).map { case (i, p) => ("f", i, p) } ++
      Seq((1L, 10000L), (2L, 20000L), (3L, 30000L), (4L, 900000L))
        .map { case (i, p) => ("g", i, p) }).toDF("fam", "tid", "p")
    val got = graft.ops.Profiling.qValues(df, "fam", "tid", "p")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getAs[Double]("pi0"), r.getAs[Double]("q_value"),
          r.getAs[Boolean]("discovery")))).toMap
    // f: pi0 capped at 1 -> plain BH-style q
    assert(got(("f", 1L)) == ((1.0, 0.04, true)))
    assert(got(("f", 2L)) == ((1.0, 0.04, true)))
    assert(got(("f", 3L)) == ((1.0, 0.8, false)))
    // g: only 1 of 4 above lambda -> pi0 = 0.5 halves every q
    assert(got(("g", 1L)) == ((0.5, 0.02, true)))
    assert(got(("g", 3L)) == ((0.5, 0.02, true)))
    assert(got(("g", 4L)) == ((0.5, 0.45, false)))
  }

  test("yuenTest: trimmed means with winsorized variances, whales " +
      "cannot bury the shift, equal variants stay quiet") {
    import spark.implicits._
    val df = (Seq(1L, 2L, 3L, 4L, 100L).map(("c", _)) ++
      Seq(11L, 12L, 13L, 14L, 110L).map(("t", _)) ++
      Seq(1L, 2L, 3L, 4L, 100L).map(("u", _))).toDF("g", "v")
    val got = graft.ops.Profiling.yuenTest(df, "g", "v", "c")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getAs[Double]("trimmed_mean"),
          Option(r.getAs[java.lang.Double]("diff_vs_control"))
            .map(_.doubleValue),
          Option(r.getAs[java.lang.Boolean]("significant"))
            .map(_.booleanValue)))).toMap
    // t: trimmed mean 13 vs control 3; d1 = d2 = 4/6 -> t² = 75
    assert(got("t") == ((5L, 3L, 13.0, Some(10.0), Some(true))))
    assert(got("u") == ((5L, 3L, 3.0, Some(0.0), Some(false))))
    assert(got("c") == ((5L, 3L, 3.0, None, None)))
  }

  test("qiniCurve: cumulative incremental conversions by descending " +
      "score tile, control-free prefix refuses") {
    import spark.implicits._
    def rows(g: String, s: Long, t: Boolean, ok: Int, no: Int) =
      Seq.fill(ok)((g, s, t, true)) ++ Seq.fill(no)((g, s, t, false))
    val df = (rows("g", 2L, true, 2, 1) ++ rows("g", 2L, false, 1, 2) ++
      rows("g", 1L, true, 1, 2) ++ rows("g", 1L, false, 1, 2) ++
      rows("h", 2L, true, 1, 1) ++ rows("h", 1L, false, 0, 2))
      .toDF("g", "s", "t", "ok")
    val got = graft.ops.Profiling.qiniCurve(df, "g", "s", "t", "ok",
        tiles = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          Option(r.getAs[java.lang.Double]("uplift")).map(_.doubleValue),
          r.getAs[Double]("frac_targeted")))).toMap
    assert(got(("g", 1L)) == ((3L, 2L, 3L, 1L, Some(1.0), 0.5)))
    assert(got(("g", 2L)) == ((6L, 3L, 6L, 2L, Some(1.0), 1.0)))
    // group h: the whole top tile is treated-only -> no baseline yet
    assert(got(("h", 1L)) == ((2L, 1L, 0L, 0L, None, 0.5)))
    assert(got(("h", 2L)) == ((2L, 1L, 2L, 0L, Some(1.0), 1.0)))
  }

  test("adTest: tail-weighted rank form, identical samples score 0, " +
      "separation flags") {
    import spark.implicits._
    val a = (Seq(1L, 2L).map(("g", _)) ++ Seq(1L, 2L).map(("same", _)) ++
      Seq.fill(10)(("sep", 1L))).toDF("grp", "v")
    val b = (Seq(3L, 4L).map(("g", _)) ++ Seq(1L, 2L).map(("same", _)) ++
      Seq.fill(10)(("sep", 2L))).toDF("grp", "v")
    val got = graft.ops.Profiling.adTest(a, b, "grp", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("a2"), r.getAs[Boolean]("significant"))))
      .toMap
    // g: (4/3 + 4 + 4/3)/4
    assert(got("g") == ((1.666667, false)))
    assert(got("same") == ((0.0, false)))
    assert(got("sep") == ((10.0, true)))
  }

  test("cvmTest: exact integrated ECDF gap, identical samples score 0, " +
      "full separation flags") {
    import spark.implicits._
    val a = (Seq(1L, 2L).map(("g", _)) ++ Seq(1L, 2L).map(("same", _)) ++
      Seq.fill(10)(("sep", 1L))).toDF("grp", "v")
    val b = (Seq(3L, 4L).map(("g", _)) ++ Seq(1L, 2L).map(("same", _)) ++
      Seq.fill(10)(("sep", 2L))).toDF("grp", "v")
    val got = graft.ops.Profiling.cvmTest(a, b, "grp", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("t_stat"), r.getAs[Boolean]("significant"))))
      .toMap
    // g: terms 4+16+4+0 over nm(n+m)² = 64 -> 0.375
    assert(got("g") == ((0.375, false)))
    assert(got("same") == ((0.0, false)))
    // sep: 10·(10·10)² / (10·10·400) = 2.5
    assert(got("sep") == ((2.5, true)))
  }

  test("winsorizedMean: order-statistic bounds, tail mass pins to " +
      "the boundary values, tie blocks split by rank") {
    import spark.implicits._
    val df = (Seq(1L, 2L, 3L, 4L, 100L).map(("g", _)) ++
      Seq(1L, 1L, 1L, 10L).map(("t", _))).toDF("grp", "v")
    val got = graft.ops.Profiling.winsorizedMean(df, "grp", "v",
        trimPctMicro = 200000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getAs[Double]("winsorized_mean"), r.getAs[Double]("mean"))))
      .toMap
    // g: k=1 -> bounds (2, 4); [2,2,3,4,4] -> 3.0 (vs raw mean 22)
    assert(got("g") == ((5L, 2L, 4L, 3.0, 22.0)))
    // t at 20%: k=0 -> untouched
    assert(got("t") == ((4L, 1L, 10L, 3.25, 3.25)))
    // 25% on the tie block: the 10 pins DOWN to hi=1
    val t2 = graft.ops.Profiling.winsorizedMean(
      Seq(1L, 1L, 1L, 10L).map(("t", _)).toDF("grp", "v"), "grp", "v",
      trimPctMicro = 250000L).collect().head
    assert(t2.getLong(2) == 1L && t2.getLong(3) == 1L &&
      t2.getAs[Double]("winsorized_mean") == 1.0)
  }

  test("isotonicCalibration: PAV pools violators to exact block means, " +
      "monotone input passes through, full reversal pools to the mean") {
    import spark.implicits._
    def mk(g: String, triples: Seq[(Long, Int, Int)]) =
      triples.flatMap { case (s, k, n) =>
        Seq.fill(k)((g, s, true)) ++ Seq.fill(n - k)((g, s, false)) }
    // violator: 0.5, 0.0, 1.0 -> (0.25, 0.25, 1.0)
    val df = (mk("v", Seq((1L, 1, 2), (2L, 0, 2), (3L, 2, 2))) ++
      mk("mono", Seq((1L, 1, 5), (2L, 2, 4), (3L, 4, 5))) ++
      mk("rev", Seq((1L, 2, 2), (2L, 1, 2), (3L, 0, 2))))
      .toDF("g", "s", "ok")
    val got = graft.ops.Profiling.isotonicCalibration(df, "g", "s", "ok")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        r.getAs[Double]("fit")).toMap
    assert(got(("v", 1L)) == 0.25 && got(("v", 2L)) == 0.25 &&
      got(("v", 3L)) == 1.0)
    assert(got(("mono", 1L)) == 0.2 && got(("mono", 2L)) == 0.5 &&
      got(("mono", 3L)) == 0.8)
    assert(Seq(1L, 2L, 3L).map(s => got(("rev", s))).toSet == Set(0.5))
  }

  test("quantileNormalize: nearest-rank mapping onto the global " +
      "distribution, duplicates map consistently") {
    import spark.implicits._
    val df = (Seq(1L, 2L, 2L, 4L).map(("A", _)) ++
      Seq(10L, 20L).map(("B", _))).toDF("g", "v")
    val got = graft.ops.Profiling.quantileNormalize(df, "g", "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // global grid: 1(cl1) 2(cl3) 4(cl4) 10(cl5) 20(cl6), N=6
    assert(got(("A", 1L)) == ((250000L, 2L)))   // gr=ceil(6/4)=2 -> 2
    assert(got(("A", 2L)) == ((750000L, 10L)))  // gr=ceil(18/4)=5 -> 10
    assert(got(("A", 4L)) == ((1000000L, 20L)))
    assert(got(("B", 10L)) == ((500000L, 2L)))  // gr=3 -> first cl>=3 is 2
    assert(got(("B", 20L)) == ((1000000L, 20L)))
    // row-level: the duplicate A=2 rows both appear
    assert(graft.ops.Profiling.quantileNormalize(df, "g", "v")
      .count() == 6L)
  }

  test("trimmedMean: exact interval-overlap trim, boundary ties split " +
      "correctly, zero trim equals the mean") {
    import spark.implicits._
    val df = (Seq(1L, 2L, 3L, 4L, 100L).map(("g", _)) ++
      Seq(1L, 1L, 1L, 10L).map(("t", _))).toDF("grp", "v")
    val got = graft.ops.Profiling.trimmedMean(df, "grp", "v",
        trimPctMicro = 200000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getAs[Double]("trimmed_mean"),
          r.getAs[Double]("mean")))).toMap
    // g: k=1 per side -> keep {2,3,4}; the whale no longer moves it
    assert(got("g") == ((5L, 3L, 3.0, 22.0)))
    // t: k=0 at 20% of 4... (4*0.2=0.8 -> div -> 0): nothing trimmed
    assert(got("t") == ((4L, 4L, 3.25, 3.25)))
    // 25% on the tie block: one of the three 1s is trimmed by rank
    val t2 = graft.ops.Profiling.trimmedMean(
      Seq(1L, 1L, 1L, 10L).map(("t", _)).toDF("grp", "v"), "grp", "v",
      trimPctMicro = 250000L).collect().head
    assert(t2.getLong(2) == 2L && t2.getAs[Double]("trimmed_mean") == 1.0)
    // zero trim reduces to the plain mean
    val t0 = graft.ops.Profiling.trimmedMean(
      Seq(1L, 2L, 3L).map(("z", _)).toDF("grp", "v"), "grp", "v",
      trimPctMicro = 0L).collect().head
    assert(t0.getAs[Double]("trimmed_mean") == 2.0)
  }

  test("ebShrinkRates: MoM beta prior, small-n shrinks hard, " +
      "degenerate prior refuses") {
    import spark.implicits._
    // item a: 2/2, item b: 480/500 -> micro rates 1e6 and 960000
    val df = (Seq.fill(2)(("g", "a", true)) ++
      Seq.fill(480)(("g", "b", true)) ++ Seq.fill(20)(("g", "b", false)) ++
      // lone-item group: no prior can be fit
      Seq(("solo", "x", true))).toDF("grp", "item", "ok")
    val got = graft.ops.Profiling.ebShrinkRates(df, "grp", "item", "ok")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getAs[Double]("rate"),
          Option(r.getAs[java.lang.Double]("shrunk_rate"))
            .map(_.doubleValue)))).toMap
    // alpha+beta = m(1-m)/v - 1 = 49 - 1 = 48; alpha = 47.04
    assert(got(("g", "a")) == ((2L, 2L, 1.0, Some(0.9808))))
    assert(got(("g", "b")) == ((480L, 500L, 0.96, Some(0.961752))))
    assert(got(("solo", "x")) == ((1L, 1L, 1.0, None)))
    // identical rates -> zero variance -> refuse
    val flat = (Seq.fill(4)(("f", "a", true)) ++ Seq.fill(4)(("f", "b", true)))
      .toDF("grp", "item", "ok")
    val gf = graft.ops.Profiling.ebShrinkRates(flat, "grp", "item", "ok")
      .collect()
    assert(gf.forall(_.isNullAt(5)))
  }

  test("partialCorr: orthogonal control passes r_xy through, perfect " +
      "confounder yields null partial, zero variance refuses") {
    import spark.implicits._
    // z orthogonal to both, x vs y perfectly anti-correlated
    val a = Seq((1L, 2L, 1L), (2L, 1L, 1L), (1L, 2L, 2L), (2L, 1L, 2L))
      .map { case (x, y, z) => ("a", x, y, z) }
    // x = y = z: r_xy = 1 via the confounder, |r_xz| = 1 -> den 0
    val b = Seq((1L, 1L, 1L), (2L, 2L, 2L), (3L, 3L, 3L))
      .map { case (x, y, z) => ("b", x, y, z) }
    // constant x: no variance, every r null
    val c = Seq((5L, 1L, 1L), (5L, 2L, 3L), (5L, 3L, 2L))
      .map { case (x, y, z) => ("c", x, y, z) }
    val got = graft.ops.Profiling.partialCorr(
      (a ++ b ++ c).toDF("g", "x", "y", "z"), "g", "x", "y", "z")
      .collect().map(r => r.getString(0) ->
        ((Option(r.getAs[java.lang.Double]("r_xy")).map(_.doubleValue),
          Option(r.getAs[java.lang.Double]("r_xy_given_z"))
            .map(_.doubleValue)))).toMap
    assert(got("a") == ((Some(-1.0), Some(-1.0))))
    assert(got("b") == ((Some(1.0), None)))
    assert(got("c") == ((None, None)))
  }

  test("lengthBias: gap buckets, tie exclusion, sign-test verdicts") {
    import spark.implicits._
    val duels =
      // bucket 0 (gap < 10): 2 longer wins, 1 shorter win, 1 tie → 2/3
      Seq((105L, 100L), (108L, 100L), (100L, 104L), (100L, 100L)) ++
      // bucket 5 (gap 50..59): longer wins 9 of 9 → biased
      Seq.fill(9)((150L, 100L)) ++
      // bucket 9: SHORTER always wins → not biased (one-sided flag)
      Seq.fill(9)((100L, 190L))
    val got = graft.ops.Profiling.lengthBias(
        duels.toDF("wlen", "llen"), "wlen", "llen", bucketWidth = 10L)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_longer_won"),
          r.getAs[Long]("n_ties"),
          Option(r.getAs[java.lang.Double]("longer_win_rate")),
          Option(r.getAs[java.lang.Boolean]("biased"))))).toMap
    assert(got(0L) == ((4L, 2L, 1L, Some(0.666667), Some(false))))
    // z² = 9 ≥ 3.8416 and one-sided toward longer → biased
    assert(got(5L) == ((9L, 9L, 0L, Some(1.0), Some(true))))
    // same magnitude the OTHER way: significant but not verbose-bias
    assert(got(9L) == ((9L, 0L, 0L, Some(0.0), Some(false))))
  }

  test("btStrengths: one MM iteration by hand, zero-win player pins 0") {
    import spark.implicits._
    // duels: A>B twice, B>C, C>A, A>D. Uniform start, one update:
    //   d_A = 2/2 + 1/2 + 1/2 = 2      → s_A = 3/2
    //   d_B = 2/2 + 1/2 = 3/2          → s_B = 2/3
    //   d_C = 1/2 + 1/2 = 1            → s_C = 1
    //   d_D = 1/2                      → s_D = 0/d = 0
    // tot = 19/6 → 9/19, 4/19, 6/19, 0
    val duels = Seq(("A", "B"), ("A", "B"), ("B", "C"), ("C", "A"),
      ("A", "D")).toDF("winner", "loser")
    val got = graft.ops.Profiling.btStrengths(duels, "winner", "loser",
        iters = 1)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("wins"), r.getAs[Long]("n_duels"),
          r.getAs[Double]("strength"), r.getAs[Long]("rank")))).toMap
    assert(got("A") == ((3L, 4L, 0.473684, 1L)))
    assert(got("C") == ((1L, 2L, 0.315789, 2L)))
    assert(got("B") == ((1L, 3L, 0.210526, 3L)))
    assert(got("D") == ((0L, 1L, 0.0, 4L)))
  }

  test("btStrengths: beating the strong beats farming the weak") {
    import spark.implicits._
    // X and Y both win twice, but X's wins are over the otherwise-
    // dominant Z while Y farms the winless W: BT must rank X above Y
    // even though raw win RATES tie — the whole point over winMatrix
    val duels = Seq(
      ("X", "Z"), ("X", "Z"), ("Z", "Y"), ("Z", "Y"), ("Z", "W"),
      ("Y", "W"), ("Y", "W"), ("Z", "X")).toDF("winner", "loser")
    val s = graft.ops.Profiling.btStrengths(duels, "winner", "loser")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("rank")).toMap
    // X went 2-1 against the top player and outranks BOTH weak-farmers
    assert(s == Map("X" -> 1L, "Z" -> 2L, "Y" -> 3L, "W" -> 4L), s)
  }

  test("passAtK: unbiased estimator, exhausted-wrong clamp, n<k null") {
    import spark.implicits._
    val rows =
      // task A: n=10, c=3 → pass@1 = 0.3, pass@5 = 1 − C(7,5)/C(10,5)
      //   = 1 − 21/252 = 0.916667
      (1 to 3).map(_ => ("A", true)) ++ (1 to 7).map(_ => ("A", false)) ++
      // task B: n=5, c=2 → n−c=3 < 5 → pass@5 clamps to exactly 1.0
      (1 to 2).map(_ => ("B", true)) ++ (1 to 3).map(_ => ("B", false)) ++
      // task C: never correct → pass@k = 0 at every k ≤ n
      (1 to 10).map(_ => ("C", false))
    val got = graft.ops.Profiling.passAtK(rows.toDF("task", "ok"),
        "task", "ok", Seq(1, 5, 10))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("c"),
          Option(r.getAs[java.lang.Double]("pass_at_1")),
          Option(r.getAs[java.lang.Double]("pass_at_5")),
          Option(r.getAs[java.lang.Double]("pass_at_10"))))).toMap
    assert(got("A") == ((10L, 3L, Some(0.3), Some(0.916667), Some(1.0))))
    assert(got("B") == ((5L, 2L, Some(0.4), Some(1.0), None)))
    assert(got("C") == ((10L, 0L, Some(0.0), Some(0.0), Some(0.0))))
  }

  test("stats omnibus plans: one shuffle of rows, partial aggregation") {
    import spark.implicits._
    val df = Seq(("g", "a", 1L), ("g", "b", 2L)).toDF("grp", "variant", "v")
    for (p <- Seq(
        graft.ops.Profiling.anovaF(df, "grp", "variant", "v")
          .queryExecution.executedPlan.toString,
        graft.ops.Profiling.kruskalWallis(df, "grp", "variant", "v")
          .queryExecution.executedPlan.toString)) {
      assert(p.contains("partial_"), p)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("bradleyTerry: two-item closed form, zero-win collapse, " +
      "transitive ordering") {
    import spark.implicits._
    // A beats B 3-1: the MM map hits its fixed point (0.75, 0.25)
    // after round 1 — p_A/(p_A+p_B) = W_A/n = 3/4 exactly
    val ab = (Seq.fill(3)(("A", "B")) ++ Seq(("B", "A")))
      .toDF("winner", "loser")
    val got = graft.ops.Profiling.bradleyTerry(ab, "winner", "loser")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))).toMap
    assert(got("A") == ((3L, 4L, 0.75, 1)))
    assert(got("B") == ((1L, 4L, 0.25, 2)))
    // zero-win item collapses to exactly 0 and ranks last
    val chain = Seq(("A", "B"), ("A", "B"), ("B", "C"), ("B", "C"),
      ("A", "C"), ("A", "C")).toDF("winner", "loser")
    val tri = graft.ops.Profiling.bradleyTerry(chain, "winner", "loser")
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(3), r.getInt(4)))).toMap
    assert(tri("C")._1 == 0.0 && tri("C")._2 == 3)
    assert(tri("A")._1 > tri("B")._1 && tri("B")._1 > 0.0)
    assert(tri("A")._2 == 1 && tri("B")._2 == 2)
  }
}
