package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.EventAnalytics

class EventAnalyticsSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  // ------------------------------------------------------------- asofJoin

  private def asofFixture = {
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, 8L, 100L, 1.0), (1L, 15L, 101L, 2.0),
      (2L, 50L, 102L, 3.0))
      .toDF("k", "rts", "rid", "price")
    (left, right)
  }

  test("asofJoin matches the most recent right row per key") {
    val (left, right) = asofFixture
    val out = EventAnalytics.asofJoin(left, right, Seq("k"), "ts", "rts",
      valueCols = Seq("price"), tieCol = Some("rid"))
    val m = out.collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("ts"))
      -> (Option(r.getAs[java.lang.Long]("matched_ts")),
          Option(r.getAs[java.lang.Double]("price")))).toMap
    assert(m((1L, 10L)) == (Some(8L), Some(1.0)))   // 8 <= 10 < 15
    assert(m((1L, 20L)) == (Some(15L), Some(2.0)))  // latest of {8, 15}
    assert(m((2L, 5L)) == (None, None))             // right is in the future
    assert(out.columns.toSeq ==
      Seq("k", "ts", "tag", "matched_ts", "price"))
  }

  test("asofJoin >= semantics: a simultaneous right row is matched") {
    val left = Seq((1L, 10L)).toDF("k", "ts")
    val right = Seq((1L, 10L, 7.0)).toDF("k", "rts", "v")
    val r = EventAnalytics.asofJoin(left, right, Seq("k"), "ts", "rts",
      Seq("v")).collect().head
    assert(r.getAs[Long]("matched_ts") == 10L)
    assert(r.getAs[Double]("v") == 7.0)
  }

  test("asofJoin ties at identical (key, ts): largest tieCol wins") {
    val left = Seq((1L, 10L)).toDF("k", "ts")
    val right = Seq((1L, 5L, 100L, 1.0), (1L, 5L, 200L, 2.0))
      .toDF("k", "rts", "rid", "v")
    val r = EventAnalytics.asofJoin(left, right, Seq("k"), "ts", "rts",
      Seq("v"), tieCol = Some("rid")).collect().head
    assert(r.getAs[Double]("v") == 2.0)
  }

  test("asofJoin takes all right columns atomically from the same row") {
    // matched row has a NULL value column; per-column last(ignoreNulls)
    // would stitch the older 1.0 in — the struct must keep the null
    val left = Seq((1L, 20L)).toDF("k", "ts")
    val right = Seq((1L, 5L, Some(1.0)), (1L, 10L, Option.empty[Double]))
      .toDF("k", "rts", "v")
    val r = EventAnalytics.asofJoin(left, right, Seq("k"), "ts", "rts",
      Seq("v")).collect().head
    assert(r.getAs[Long]("matched_ts") == 10L)
    assert(r.isNullAt(r.fieldIndex("v")))
  }

  test("asofJoin drops null right timestamps instead of matching them") {
    val left = Seq((1L, 10L)).toDF("k", "ts")
    val right = Seq((1L, Option.empty[Long], 9.0), (1L, Some(4L), 1.5))
      .toDF("k", "rts", "v")
    val r = EventAnalytics.asofJoin(left, right, Seq("k"), "ts", "rts",
      Seq("v")).collect().head
    assert(r.getAs[Long]("matched_ts") == 4L)
    assert(r.getAs[Double]("v") == 1.5)
  }

  test("asofJoin plans as one shuffle + window, never a nested loop") {
    val (left, right) = asofFixture
    val plan = EventAnalytics.asofJoin(left, right, Seq("k"), "ts", "rts",
      Seq("price")).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Window"), plan)
    // exactly one exchange: the key partitioning for the window
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
  }

  // ------------------------------------------------------------ rangeJoin

  test("rangeJoin matches containment with [start, end) bounds") {
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "c"),
      (2L, 10L, "d")).toDF("k", "ts", "tag")
    val right = Seq((1L, 10L, 21L, "w1"), (1L, 25L, 26L, "w2"),
      (2L, 100L, 200L, "w3")).toDF("k", "s", "e", "win")
    val out = EventAnalytics.rangeJoin(left, right, Seq("k"),
        "ts", "s", "e", bucket = 7L)
      .select("k", "ts", "tag", "win").collect()
      .map(r => (r.getString(2), r.getString(3))).toSet
    // ts=10 in [10,21) ✓ start inclusive; ts=20 in [10,21) ✓;
    // ts=30 in nothing; k=2 ts=10 not in [100,200)
    assert(out == Set(("a", "w1"), ("b", "w1")))
  }

  test("rangeJoin: an interval spanning many buckets matches a row once") {
    val left = Seq((1L, 55L)).toDF("k", "ts")
    val right = Seq((1L, 0L, 100L, 7.0)).toDF("k", "s", "e", "v")
    val rows = EventAnalytics.rangeJoin(left, right, Seq("k"),
      "ts", "s", "e", bucket = 10L).collect()
    assert(rows.length == 1)
  }

  test("rangeJoin drops empty intervals and plans as an equi-join") {
    val left = Seq((1L, 10L)).toDF("k", "ts")
    val right = Seq((1L, 10L, 10L, "empty"), (1L, 50L, 40L, "inverted"),
      (1L, 5L, 15L, "real")).toDF("k", "s", "e", "win")
    val out = EventAnalytics.rangeJoin(left, right, Seq("k"),
      "ts", "s", "e", bucket = 10L)
    assert(out.collect().map(_.getAs[String]("win")).toSeq == Seq("real"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Join"), plan)
  }

  // --------------------------------------------------------------- funnel

  private def funnelEvents = Seq(
    // u1 completes all three in order
    (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"),
    // u2 stalls after click (purchase happened BEFORE the click)
    (2L, 10L, "view"), (2L, 15L, "purchase"), (2L, 20L, "click"),
    // u3 never views: excluded entirely (no step-1 row)
    (3L, 5L, "click"), (3L, 6L, "purchase"),
    // u4 views only
    (4L, 40L, "view"),
    // u5: click exactly at the view timestamp does NOT count (strict >)
    (5L, 50L, "view"), (5L, 50L, "click"), (5L, 60L, "click"),
    (5L, 55L, "purchase")
  ).toDF("user_id", "ts", "event_type")

  test("funnel computes greedy earliest-match step times") {
    val out = EventAnalytics.funnel(funnelEvents, "user_id", "ts",
      "event_type", Seq("view", "click", "purchase"))
    val m = out.collect().map(r => r.getAs[Long]("user_id") ->
      (Option(r.getAs[java.lang.Long]("t1")),
        Option(r.getAs[java.lang.Long]("t2")),
        Option(r.getAs[java.lang.Long]("t3")),
        r.getAs[Int]("steps_completed"))).toMap
    assert(m(1L) == (Some(10L), Some(20L), Some(30L), 3))
    assert(m(2L) == (Some(10L), Some(20L), None, 2))
    assert(!m.contains(3L))
    assert(m(4L) == (Some(40L), None, None, 1))
    // u5: t2 = 60 (the 50 click is simultaneous with the view), and the
    // purchase at 55 < 60 cannot complete the funnel
    assert(m(5L) == (Some(50L), Some(60L), None, 2))
  }

  test("funnel aggregations keep map-side partials") {
    val plan = EventAnalytics.funnel(funnelEvents, "user_id", "ts",
      "event_type", Seq("view", "click"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  // ------------------------------------- randomized brute-force differential

  /** Deterministic LCG stream for fixture generation. */
  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L)
      .drop(1).map(_ >>> 16)

  test("asofJoin equals driver-side brute force on random data") {
    val rnd = lcg(0xA50F).grouped(3).take(400).toSeq
    // small key/ts domains force collisions, ties, and empty groups
    val left = rnd.take(200).zipWithIndex
      .map { case (Seq(k, t, _), i) => (k % 7, t % 50, i.toLong) }
      .toDF("k", "ts", "lid")
    val right = rnd.drop(200).zipWithIndex
      .map { case (Seq(k, t, v), i) =>
        (k % 7, t % 50, 1000L + i, (v % 100).toDouble) }
      .toDF("k", "rts", "rid", "v")
    val got = EventAnalytics.asofJoin(left, right, Seq("k"), "ts", "rts",
      Seq("v"), tieCol = Some("rid")).collect()
      .map(r => r.getAs[Long]("lid") ->
        (Option(r.getAs[java.lang.Long]("matched_ts")),
          Option(r.getAs[java.lang.Double]("v")))).toMap
    val rightRows = right.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val leftRows = left.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    leftRows.foreach { case (k, ts, lid) =>
      val best = rightRows.filter(r => r._1 == k && r._2 <= ts)
        .sortBy(r => (r._2, r._3)).lastOption // max (rts, rid)
      assert(got(lid) == (best.map(_._2), best.map(_._4)),
        s"lid=$lid k=$k ts=$ts: ${got(lid)} vs $best")
    }
  }

  test("rangeJoin equals driver-side brute force on random data") {
    val rnd = lcg(0xBEEF).grouped(3).take(300).toSeq
    val left = rnd.take(150).zipWithIndex
      .map { case (Seq(k, t, _), i) => (k % 5, t % 100, i.toLong) }
      .toDF("k", "ts", "lid")
    val right = rnd.drop(150).zipWithIndex
      .map { case (Seq(k, s, len), i) =>
        val st = s % 100
        (k % 5, st, st + len % 30 - 5, 1000L + i) } // some empty/inverted
      .toDF("k", "s", "e", "rid")
    // a bucket width that does NOT divide the domain evenly
    val got = EventAnalytics.rangeJoin(left, right, Seq("k"),
      "ts", "s", "e", bucket = 7L).collect()
      .map(r => (r.getAs[Long]("lid"), r.getAs[Long]("rid"))).toSet
    val leftRows = left.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val rightRows = right.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = (for {
      (k, ts, lid) <- leftRows
      (rk, s, e, rid) <- rightRows
      if rk == k && ts >= s && ts < e
    } yield (lid, rid)).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  // ------------------------------------------------------ cohortRetention

  test("cohortRetention buckets entities by first-event week") {
    // weeks: Mon 2024-01-01, Mon 2024-01-08, Mon 2024-01-15
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-02 10:00:00")), // cohort w0
      (1L, ts("2024-01-10 10:00:00")), // active w0+1
      (1L, ts("2024-01-16 10:00:00")), // active w0+2
      (2L, ts("2024-01-03 09:00:00")), // cohort w0, never returns
      (3L, ts("2024-01-09 09:00:00")), // cohort w1
      (3L, ts("2024-01-17 09:00:00"))  // active w1+1
    ).toDF("user_id", "ts")
    val out = EventAnalytics.cohortRetention(ev, "user_id", "ts")
      .collect().map(r => (r.getAs[String]("cohort_week"),
        r.getAs[Int]("week_offset")) -> r.getAs[Long]("n_active")).toMap
    assert(out(("2024-01-01", 0)) == 2L) // u1 + u2 in their cohort week
    assert(out(("2024-01-01", 1)) == 1L) // u1 back in week 1
    assert(out(("2024-01-01", 2)) == 1L) // u1 back in week 2
    assert(out(("2024-01-08", 0)) == 1L) // u3
    assert(out(("2024-01-08", 1)) == 1L) // u3 back
    assert(out.size == 5)
  }

  // ------------------------------------------------------- anomalousBuckets

  private def hourEvents(counts: Seq[(String, Int, Int)]) = {
    // (group, hour index, count) -> one event per unit at that hour
    val rows = counts.flatMap { case (g, h, n) =>
      (0 until n).map(i => (g, h.toLong * 3600000000L + i))
    }
    rows.toDF("g", "us").select(col("g"),
      timestamp_micros(col("us")).as("ts"))
  }

  test("anomalousBuckets flags the spike hour by the exact z² test") {
    // group a: counts [1,1,1,1,100] over 5 hours. With m=5, S=104,
    // SS=10004: the spike's z is exactly 2 (the one-outlier maximum
    // sqrt(m-1)), so z=2 does NOT flag (strict >) and z=3/2 does —
    // the boundary case float sqrt would get wrong by an ulp.
    val ev = hourEvents(Seq(("a", 0, 1), ("a", 1, 1), ("a", 2, 1),
      ("a", 3, 1), ("a", 4, 100)))
    def flags(zNum: Long, zDen: Long): Map[Long, Boolean] =
      EventAnalytics.anomalousBuckets(ev, "g", "ts",
          zNum = zNum, zDen = zDen)
        .collect()
        .map(r => r.getAs[Long]("bucket") -> r.getAs[Boolean]("anomalous"))
        .toMap
    val strict = flags(2, 1)
    assert(strict.values.forall(!_), "z=2 is the exact boundary: no flag")
    val loose = flags(3, 2)
    assert(loose(4L) && loose.count(_._2) == 1,
      s"z=1.5 must flag exactly the spike hour: $loose")
  }

  test("anomalousBuckets: constant series has no anomalies; groups isolate") {
    val ev = hourEvents(Seq(("c", 0, 5), ("c", 1, 5), ("c", 2, 5),
      ("d", 0, 1), ("d", 1, 1), ("d", 2, 40)))
    val got = EventAnalytics.anomalousBuckets(ev, "g", "ts",
        zNum = 1, zDen = 1)
      .collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("bucket")) ->
        r.getAs[Boolean]("anomalous")).toMap
    assert(Seq(0L, 1L, 2L).forall(h => !got(("c", h))),
      "zero-variance group never flags (strict inequality)")
    assert(got(("d", 2L)), "spike in d flags independently of c")
  }

  test("anomalousBucketsPrequential: online semantics, not hindsight") {
    // LATE spike [1,1,1,1,100]: the spike bucket's prequential moments
    // equal the global ones (it is the last bucket), so both ops flag it
    val late = hourEvents(Seq(("a", 0, 1), ("a", 1, 1), ("a", 2, 1),
      ("a", 3, 1), ("a", 4, 100)))
    def preq(ev: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
      EventAnalytics.anomalousBucketsPrequential(ev, "g", "ts",
          zNum = 3, zDen = 2)
        .collect()
        .map(r => r.getAs[Long]("bucket") -> r.getAs[Boolean]("anomalous"))
        .toMap
    val lateFlags = preq(late)
    assert(lateFlags(4L) && lateFlags.count(_._2) == 1)
    // EARLY spike [100,1,1,1,1]: the global op flags bucket 0 with
    // hindsight; prequentially bucket 0 IS the whole baseline (m=1,
    // variance 0) so nothing flags — the defining online difference
    val early = hourEvents(Seq(("a", 0, 100), ("a", 1, 1), ("a", 2, 1),
      ("a", 3, 1), ("a", 4, 1)))
    assert(preq(early).values.forall(!_))
    val global = EventAnalytics.anomalousBuckets(early, "g", "ts",
        zNum = 3, zDen = 2).collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Boolean]("anomalous"))
      .toMap
    assert(global(0L), "global hindsight flags the early spike")
    // window is hash-partitioned by group, never single-partition
    val plan = EventAnalytics.anomalousBucketsPrequential(late, "g", "ts")
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(g"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("densify zero-fills each key's span independently") {
    // a: hours 0 and 3 observed → grid 0..3 with zeros at 1,2;
    // b: single hour → single row, no fabricated span
    val ev = hourEvents(Seq(("a", 0, 2), ("a", 3, 1), ("b", 5, 4)))
    val got = EventAnalytics.densify(ev, "g", "ts")
      .collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("bucket")) ->
        r.getAs[Long]("n")).toMap
    assert(got == Map(
      ("a", 0L) -> 2L, ("a", 1L) -> 0L, ("a", 2L) -> 0L, ("a", 3L) -> 1L,
      ("b", 5L) -> 4L))
  }

  test("acf: alternating series gives r = -1/+1/-1 at lags 1/2/3; " +
    "constant series has null r; silence counts as zero") {
    // a: one event at even hours 0,2,4,6 → densified [1,0,1,0,1,0,1]
    //    (the zero hours NEVER appear as rows — only densify sees them)
    val ev = hourEvents(Seq(("a", 0, 1), ("a", 2, 1), ("a", 4, 1),
      ("a", 6, 1), ("c", 0, 1), ("c", 1, 1), ("c", 2, 1), ("c", 3, 1)))
    val got = EventAnalytics.acf(ev, "g", "ts", maxLag = 3)
      .collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Int]("lag")) ->
        (r.getAs[Long]("n_pairs"), Option(r.getAs[java.lang.Double]("r"))))
      .toMap
    assert(got(("a", 1)) == ((6L, Some(-1.0))))
    assert(got(("a", 2)) == ((5L, Some(1.0))))
    assert(got(("a", 3)) == ((4L, Some(-1.0))))
    // c is constant 1/hour: zero variance on both sides → null r
    assert(got(("c", 1)) == ((3L, None)))
  }

  test("cusumDrift: level shift peaks |S| at the boundary; S ends at 0") {
    // hours 0..3 at 1/hour, hours 4..7 at 5/hour: B=8, total=24,
    // dev_scaled = n*8 - 24 → 4×(-16) then 4×(+16); S walks
    // -16,-32,-48,-64 then -48,-32,-16,0 → peak |S| at bucket 3
    val ev = hourEvents((0 to 3).map(h => ("a", h, 1)) ++
      (4 to 7).map(h => ("a", h, 5)))
    val got = EventAnalytics.cusumDrift(ev, "g", "ts")
      .collect().map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("cusum_scaled"), r.getAs[Boolean]("is_peak")))
      .toMap
    assert(got(0L) == ((-16L, false)))
    assert(got(3L) == ((-64L, true)))
    assert(got(7L) == ((0L, false)))
    assert(got.values.count(_._2) == 1)
  }

  test("timeWeightedAvg: zero-order hold; ties bridge deterministically") {
    val df = Seq(
      // key a: v=10 holds 10us, v=0 holds 90us → twa = 100/100 = 1.0
      ("a", 0L, 1L, 10L), ("a", 10L, 2L, 0L), ("a", 100L, 3L, 7L),
      // key b: tie at ts=0 — id 2 (v=20) bridges to ts=10; id 1 holds 0us
      ("b", 0L, 1L, 10L), ("b", 0L, 2L, 20L), ("b", 10L, 3L, 0L),
      // key c: single sample → zero span, null twa
      ("c", 5L, 1L, 42L))
      .toDF("k", "us", "id", "v")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = EventAnalytics.timeWeightedAvg(df, "k", "ts", "id", "v")
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    val a = got("a")
    assert(a.getAs[Long]("n_samples") == 3L)
    assert(a.getAs[Long]("span_us") == 100L)
    assert(a.getAs[Long]("twa_num") == 100L)
    assert(a.getAs[Double]("twa") == 1.0)
    assert(got("b").getAs[Long]("twa_num") == 200L) // 20 × (10 − 0)
    assert(got("c").isNullAt(got("c").fieldIndex("twa")))
    // integral-value contract refuses doubles up front
    val dbl = df.withColumn("v", col("v").cast("double"))
    val e = intercept[IllegalArgumentException] {
      EventAnalytics.timeWeightedAvg(dbl, "k", "ts", "id", "v")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("SemiStructured.fieldStats: malformed/missing/non-numeric never " +
    "throw; stats cover the extractable rows only") {
    val df = Seq(
      ("a", """{"k": 5}"""), ("a", """{"k": 7}"""),
      ("a", "{broken"),                  // malformed
      ("a", """{"other": 1}"""),         // missing path
      ("b", """{"k": "text"}"""),        // non-numeric
      ("b", """{"k": -3}"""))
      .toDF("g", "props")
    val got = graft.ops.SemiStructured.fieldStats(df, "g", "props", "$.k")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    val a = got("a")
    assert(a.getAs[Long]("n") == 4L && a.getAs[Long]("n_missing") == 2L)
    assert(a.getAs[Long]("k_sum") == 12L && a.getAs[Long]("k_max") == 7L)
    val b = got("b")
    assert(b.getAs[Long]("n_missing") == 1L)
    assert(b.getAs[Long]("k_sum") == -3L && b.getAs[Long]("k_min") == -3L)
  }

  test("dialogueTurnsJson: per-turn rows, malformed yields zero rows") {
    val df = Seq(
      (1L, """[{"role":"user","content":"hi"},""" +
        """{"role":"assistant","content":"hello there"}]"""),
      (2L, "not json at all"),
      (3L, """{"role":"user","content":"valid json, wrong shape"}"""),
      (4L, """[{"role":"assistant","content":""}]"""),
      // a well-formed array of NON-OBJECTS also parses to null →
      // zero rows (and the oracle's element-type guard matches)
      (5L, """["a","b"]"""))
      .toDF("id", "convo")
    val got = graft.ops.SemiStructured.dialogueTurnsJson(df, "id", "convo")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getAs[Long]("n_chars")))
    assert(got.toSet == Set(
      (1L, 1, "user", 2L), (1L, 2, "assistant", 11L),
      (4L, 1, "assistant", 0L)))
  }

  test("sftMaskStats: trainable fraction, empty-assistant, breaks, " +
    "wrong opening, malformed zeros") {
    val df = Seq(
      // clean pair: 2 user chars, 5 assistant → ratio 5/7
      (1L, """[{"role":"user","content":"hi"},""" +
        """{"role":"assistant","content":"aaaaa"}]"""),
      // assistant opening + trailing EMPTY assistant (a break too)
      (2L, """[{"role":"assistant","content":"yo"},""" +
        """{"role":"user","content":"q"},""" +
        """{"role":"assistant","content":"r"},""" +
        """{"role":"assistant","content":""}]"""),
      (3L, "broken"),
      // missing content KEY: counts as an empty assistant turn, zero
      // chars — never a null verdict or a crash
      (4L, """[{"role":"user","content":"q"},{"role":"assistant"}]"""))
      .toDF("id", "convo")
    val got = graft.ops.SemiStructured.sftMaskStats(df, "id", "convo")
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_turns"), r.getAs[Long]("n_assistant"),
          r.getAs[Long]("assistant_chars"), r.getAs[Long]("total_chars"),
          Option(r.getAs[java.lang.Double]("trainable_ratio")),
          r.getAs[Boolean]("has_empty_assistant"),
          r.getAs[Long]("alternation_breaks"),
          r.getAs[Boolean]("starts_with_assistant")))).toMap
    assert(got(1L) ==
      ((2L, 1L, 5L, 7L, Some(0.714286), false, 0L, false)))
    assert(got(2L) == ((4L, 3L, 3L, 4L, Some(0.75), true, 1L, true)))
    assert(got(3L) == ((0L, 0L, 0L, 0L, None, false, 0L, false)))
    assert(got(4L) == ((2L, 1L, 0L, 1L, Some(0.0), true, 0L, false)))
  }

  test("coec: out-clicking your slot scores > 1 at any rank") {
    // pooled per-position CTRs are both 1/2. item A clicked on BOTH its
    // pos-2 impressions → expected 1.0 clicks, COEC 2.0; item B matches
    // its slot exactly → COEC 1.0; item D never clicks → COEC 0
    val df = Seq(
      ("A", 2, true), ("A", 2, true),
      ("B", 1, true), ("B", 1, false),
      ("C", 1, true), ("C", 1, false),   // fills pos-1 pool
      ("D", 2, false), ("D", 2, false))  // fills pos-2 pool
      .toDF("item", "pos", "click")
    val got = EventAnalytics.coec(df, "item", "pos", "click")
      .collect().map(r => r.getAs[String]("item") -> r).toMap
    val a = got("A")
    assert(a.getAs[Long]("n_impr") == 2L && a.getAs[Long]("n_clicks") == 2L)
    assert(a.getAs[Long]("ec_micro") == 1000000L) // 2 × 500000
    assert(a.getAs[Double]("coec") == 2.0)
    assert(got("B").getAs[Double]("coec") == 1.0)
    assert(got("D").getAs[Long]("n_clicks") == 0L)
    assert(got("D").getAs[Double]("coec") == 0.0)
  }

  test("pathLogProb: common journeys score high, rare ones low; " +
    "micro-nat sums are exact") {
    // corpus: 3 users do a→b, 1 user does a→c.
    // c(a→b)=3, c(a→c)=1, c(a)=4 → lp(a→b)=ln(3/4), lp(a→c)=ln(1/4)
    val ev = Seq(
      (1L, 0L, "a"), (1L, 1L, "b"),
      (2L, 0L, "a"), (2L, 1L, "b"),
      (3L, 0L, "a"), (3L, 1L, "b"),
      (4L, 0L, "a"), (4L, 1L, "c"))
      .toDF("u", "us", "s").withColumn("ts", timestamp_micros(col("us")))
      .withColumn("id", col("us"))
    val got = EventAnalytics.pathLogProb(ev, "u", "ts", "id", "s")
      .collect().map(r => r.getAs[Long]("u") ->
        ((r.getAs[Long]("n_steps"), r.getAs[Long]("logprob_micro")))).toMap
    def micro(x: Double): Long =
      math.round(BigDecimal(math.log(x)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
    assert(got(1L) == ((1L, micro(3.0 / 4.0))))
    assert(got(4L) == ((1L, micro(1.0 / 4.0))))
    assert(got(4L)._2 < got(1L)._2) // the rare path scores lower
  }

  test("seasonalAnomalies: diurnal pattern is the null; a dead slot and " +
    "a burst flag; global-mean twin would flag every quiet hour") {
    // 3-hour period for a compact fixture: two full periods where slot 0
    // runs 10/hour and slots 1-2 run 0/hour, then a third period with a
    // DEAD slot 0 and a burst at slot 1.
    val ev = hourEvents(Seq(("a", 0, 10), ("a", 3, 10),  // healthy slot 0
      ("a", 7, 8)) :+ ("a", 8, 1))                        // burst + filler
    // buckets 0..8; slot0 = {0,3,6}: counts 10,10,0 → mean 20/3
    // slot1 = {1,4,7}: 0,0,8 → mean 8/3 ; slot2 = {2,5,8}: 0,0,1 → 1/3
    val got = EventAnalytics.seasonalAnomalies(ev, "g", "ts",
      thresholdAbs = 3L, periodBuckets = 3)
      .collect().map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("hour_of_day"), r.getAs[Long]("n"),
          r.getAs[Long]("base_num"), r.getAs[Long]("base_den"),
          r.getAs[Boolean]("is_anomaly"))).toMap
    assert(got(0L) == ((0L, 10L, 20L, 3L, true)))  // |30-20|=10 >= 9
    assert(got(6L) == ((0L, 0L, 20L, 3L, true)))   // dead slot: |0-20|=20 >= 9
    assert(got(7L) == ((1L, 8L, 8L, 3L, true)))    // burst: |24-8|=16 >= 9
    assert(got(1L) == ((1L, 0L, 8L, 3L, false)))   // quiet slot 1 is normal
    assert(got(2L) == ((2L, 0L, 1L, 3L, false)))
  }

  test("anomalousBuckets moments join broadcasts; grid agg is partial") {
    val ev = hourEvents(Seq(("a", 0, 2), ("a", 1, 3), ("b", 0, 1)))
    val plan = EventAnalytics.anomalousBuckets(ev, "g", "ts")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.toLowerCase.contains("nestedloop"), plan)
  }

  test("coalesceIntervals merges overlap and touch, keeps gaps apart") {
    // key a: [0,10) + [5,12) overlap; [12,20) touches → one island;
    //        [30,40) gapped → second island. key b independent. the
    //        empty interval [50,50) is dropped entirely.
    val iv = Seq(("a", 0L, 10L), ("a", 5L, 12L), ("a", 12L, 20L),
      ("a", 30L, 40L), ("b", 0L, 1L), ("a", 50L, 50L))
      .toDF("k", "s", "e")
    val got = EventAnalytics.coalesceIntervals(iv, Seq("k"), "s", "e")
      .collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("island"),
        r.getAs[Long]("island_start"), r.getAs[Long]("island_end"),
        r.getAs[Long]("n_merged"))).toSet
    assert(got == Set(
      ("a", 1L, 0L, 20L, 3L), ("a", 2L, 30L, 40L, 1L),
      ("b", 1L, 0L, 1L, 1L)))
  }

  test("coalesceIntervals: a long interval swallows later short ones") {
    // running-max (not previous-end) semantics: [0,100) covers [10,20)
    // AND [30,40); lag-based implementations split at 20
    val iv = Seq(("k", 0L, 100L), ("k", 10L, 20L), ("k", 30L, 40L),
      ("k", 150L, 160L)).toDF("k", "s", "e")
    val got = EventAnalytics.coalesceIntervals(iv, Seq("k"), "s", "e")
      .collect().map(r => (r.getAs[Long]("island_start"),
        r.getAs[Long]("island_end"), r.getAs[Long]("n_merged"))).toSet
    assert(got == Set((0L, 100L, 3L), (150L, 160L, 1L)))
  }

  test("ewma: hand-computed fold, first-value seed, singleton key") {
    val ev = Seq((1L, 0L, 1L, 8.0), (1L, 1L, 2L, 4.0), (1L, 2L, 3L, 0.0),
      (2L, 0L, 4L, 7.5)).toDF("k", "tus", "id", "v")
    val got = EventAnalytics.ewma(ev, "k", "tus", "id", "v", alpha = 0.5)
      .collect().map(r => r.getAs[Long]("k") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("last_ts"),
          r.getAs[Double]("ewma"))).toMap
    // k=1: seed 8 → 8*.5+4*.5 = 6 → 6*.5+0*.5 = 3
    assert(got(1L) == ((3L, 2L, 3.0)))
    // singleton: ewma IS the value (no zero-init bias)
    assert(got(2L) == ((1L, 0L, 7.5)))
  }

  test("markovTransitions: hand-counted pairs, exact conditional fractions") {
    // user 1: a→b→b→c; user 2: a→b. pairs: (a,b)×2, (b,b), (b,c)
    val ev = Seq((1L, 0L, 1L, "a"), (1L, 1L, 2L, "b"), (1L, 2L, 3L, "b"),
      (1L, 3L, 4L, "c"), (2L, 0L, 5L, "a"), (2L, 1L, 6L, "b"))
      .toDF("k", "tus", "id", "typ")
    val got = EventAnalytics.markovTransitions(ev, "k", "tus", "id", "typ")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_trans"), r.getAs[Long]("n_from"))).toMap
    assert(got == Map(
      ("a", "b") -> ((2L, 2L)),
      ("b", "b") -> ((1L, 2L)),
      ("b", "c") -> ((1L, 2L))))
  }

  test("attribution: last preceding touch wins; untouched conversions report (none)") {
    val ev = Seq(
      (1L, 0L, 1L, "view", 0L), (1L, 5L, 2L, "click", 0L),
      (1L, 9L, 3L, "purchase", 100L),          // credited to click@5
      (1L, 20L, 4L, "view", 0L),
      (1L, 25L, 5L, "purchase", 50L),          // credited to view@20
      (2L, 3L, 6L, "purchase", 7L))            // no touch → (none)
      .toDF("k", "tus", "id", "typ", "vmil")
    val got = EventAnalytics.attribution(ev, "k", "tus", "id", "typ",
        "vmil", convType = "purchase", touchTypes = Seq("view", "click"))
      .collect().map(r => r.getAs[String]("touch_type") ->
        (r.getAs[Long]("n_conversions"), r.getAs[Long]("value_sum"))).toMap
    assert(got == Map("click" -> ((1L, 100L)), "view" -> ((1L, 50L)),
      "(none)" -> ((1L, 7L))))
  }

  test("concentrationProfile: heavy entities fill early deciles, exact sums") {
    // counts: a=5, b=3, c=1, d=1 → 2 buckets: {a,b} and {c,d}
    val ev = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c", "d"))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "x")
    val got = EventAnalytics.concentrationProfile(ev, "k", nBuckets = 2)
      .collect().map(r => r.getAs[Int]("decile") ->
        (r.getAs[Long]("n_entities"), r.getAs[Long]("n_events"))).toMap
    assert(got == Map(1 -> ((2L, 8L)), 2 -> ((2L, 2L))))
  }

  test("rollingActiveUsers: exact W-day distinct; same-day repeats count once") {
    val day = 86400000000L
    val ev = Seq(
      (1L, 0L), (1L, 10L),      // u1 twice on day 0 → one presence
      (2L, 0L),                 // day 0: dau 2
      (1L, day),                // day 1: dau 1; wau(2d) = {1,2} = 2
      (3L, 3 * day))            // day 3: dau 1; wau(2d) = {3} (day 2 gap)
      .toDF("u", "tus")
      .select(col("u"), org.apache.spark.sql.functions
        .timestamp_micros(col("tus")).as("ts"))
    val got = EventAnalytics.rollingActiveUsers(ev, "u", "ts", 2)
      .collect().map(r => r.getAs[Long]("day") ->
        (r.getAs[Long]("dau"), r.getAs[Long]("wau"))).toMap
    assert(got == Map(0L -> ((2L, 2L)), 1L -> ((1L, 2L)),
      3L -> ((1L, 1L))))
  }

  test("interArrivalProfile: exact gap stats; bot needs BOTH volume and speed") {
    val ev = Seq(
      // u: gaps 2, 8, 1 → min 1, max 8, sum 11
      ("u", 0L, 1L), ("u", 2L, 2L), ("u", 10L, 3L), ("u", 11L, 4L),
      // v: one fast gap but below the volume bar
      ("v", 0L, 5L), ("v", 1L, 6L)).toDF("k", "tus", "id")
    val got = EventAnalytics.interArrivalProfile(ev, "k", "tus", "id",
        minEvents = 3, maxMinGapUs = 1L)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_gaps"), r.getAs[Long]("min_gap"),
         r.getAs[Long]("max_gap"), r.getAs[Long]("sum_gap"),
         r.getAs[Boolean]("bot"))).toMap
    assert(got("u") == ((3L, 1L, 8L, 11L, true)))
    assert(got("v") == ((1L, 1L, 1L, 1L, false))) // fast but low-volume
  }

  test("timeToConversion: first-to-first delay, organic negatives kept, one-sided dropped") {
    val ev = Seq(
      (1L, 10L, "view"), (1L, 5L, "click"), (1L, 30L, "purchase"),
      (1L, 40L, "purchase"),                 // later conv ignored
      (2L, 50L, "view"),                     // never converts → omitted
      (3L, 8L, "purchase"), (3L, 20L, "view") // organic: conv before touch
    ).toDF("u", "tus", "typ")
    val got = EventAnalytics.timeToConversion(ev, "u", "tus", "typ",
        Seq("view", "click"), "purchase")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("delay_us"), r.getAs[Boolean]("organic"))).toMap
    assert(got == Map(1L -> ((25L, false)), 3L -> ((-12L, true))))
  }

  test("topPaths: time-ordered, truncated at maxSteps, deterministic ties") {
    // u1 and u2 share path a>b (u2's long tail truncates at 2 steps);
    // u3 is b>a — arrival order in the fixture is shuffled on purpose
    val ev = Seq(
      (1L, 2L, 12L, "b"), (1L, 1L, 11L, "a"),
      (2L, 3L, 23L, "c"), (2L, 1L, 21L, "a"), (2L, 2L, 22L, "b"),
      (3L, 1L, 31L, "b"), (3L, 2L, 32L, "a"))
      .toDF("u", "ts", "id", "typ")
    val got = EventAnalytics.topPaths(ev, "u", "ts", "id", "typ",
        maxSteps = 2, topK = 5)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_entities"), r.getAs[Int]("rank")))
    assert(got.toSeq == Seq("a>b" -> ((2L, 1)), "b>a" -> ((1L, 2))))
  }

  test("trend: hand-computed OLS rational; all-x-equal key yields null") {
    // key a: (0,0),(1,2),(2,4) → exact slope 2: num = 3·10−3·6 = 12,
    // den = 3·5−9 = 6. key b: falling. key c: single x value → den 0.
    val df = Seq(("a", 0L, 0L), ("a", 1L, 2L), ("a", 2L, 4L),
      ("b", 0L, 9L), ("b", 1L, 5L), ("b", 2L, 1L),
      ("c", 7L, 1L), ("c", 7L, 99L)).toDF("k", "x", "y")
    val got = EventAnalytics.trend(df, "k", "x", "y")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"),
         r.getAs[java.math.BigDecimal]("slope_num").longValueExact(),
         r.getAs[java.math.BigDecimal]("slope_den").longValueExact(),
         Option(r.getAs[java.lang.Boolean]("rising")))).toMap
    assert(got("a") == ((3L, 12L, 6L, Some(true))))
    assert(got("b")._4 == Some(false))
    assert(got("b")._2.toDouble / got("b")._3 == -4.0)
    assert(got("c") == ((2L, 0L, 0L, None))) // undefined, not false
  }

  test("debounce: chained gaps extend a burst; gap > cooldown splits") {
    // cooldown 4: ts 0,3,6 chain into ONE burst (each consecutive gap
    // <= 4 even though 0→6 exceeds it); 11 starts a new burst (gap 5).
    val ev = Seq(("u", 0L, 1L), ("u", 3L, 2L), ("u", 6L, 3L),
      ("u", 11L, 4L), ("v", 0L, 5L)).toDF("k", "tus", "id")
    val got = EventAnalytics.debounce(ev, "k", "tus", "id", cooldownUs = 4L)
      .collect().map(r => (r.getString(0), r.getAs[Long]("burst")) ->
        (r.getAs[Long]("first_ts"), r.getAs[Long]("first_id"),
         r.getAs[Long]("n_events"))).toMap
    assert(got == Map(
      ("u", 1L) -> ((0L, 1L, 3L)),
      ("u", 2L) -> ((11L, 4L, 1L)),
      ("v", 1L) -> ((0L, 5L, 1L))))
  }

  test("debounce: exact-cooldown gap stays in the burst (strict >)") {
    val ev = Seq(("u", 0L, 1L), ("u", 4L, 2L)).toDF("k", "tus", "id")
    val got = EventAnalytics.debounce(ev, "k", "tus", "id", cooldownUs = 4L)
    assert(got.count() == 1L) // gap == cooldown does not split
  }

  test("audienceOverlap: exact distinct intersections, duplicates collapse") {
    // t1:{u1,u2}, t2:{u1,u3}, t3:{u9} — (t1,t2) overlap 1, t3 disjoint
    val ev = Seq(("t1", 1L), ("t1", 2L), ("t1", 1L), ("t2", 1L),
      ("t2", 3L), ("t3", 9L)).toDF("et", "uid")
    val got = EventAnalytics.audienceOverlap(ev, "et", "uid")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_both"), r.getAs[Long]("n_a"),
         r.getAs[Long]("n_b"))).toMap
    // only intersecting pairs appear; each unordered pair once
    assert(got == Map(("t1", "t2") -> ((1L, 2L, 2L))))
  }

  test("cooccurrencePmi: hand-computed contingency, cap and min-count") {
    import spark.implicits._
    // k1:{a,b} k2:{a,b} k3:{a} k4:{c,d}; k5 holds 4 items and the cap
    // of 3 drops it entirely (its items never reach marginals or N).
    // duplicate (key, item) rows collapse via presence-distinct.
    val df = Seq(
      (1L, "a"), (1L, "b"), (1L, "a"),
      (2L, "a"), (2L, "b"),
      (3L, "a"),
      (4L, "c"), (4L, "d"),
      (5L, "a"), (5L, "b"), (5L, "c"), (5L, "d")
    ).toDF("k", "item")
    val got = EventAnalytics.cooccurrencePmi(df, "k", "item",
        maxItemsPerKey = 3, minPairCount = 1)
      .collect().map(r => (r.getAs[String]("item_a"),
        r.getAs[String]("item_b")) ->
        ((r.getAs[Long]("n_ab"), r.getAs[Long]("n_a"),
          r.getAs[Long]("n_b"), r.getAs[Long]("n_keys"),
          r.getAs[Double]("pmi")))).toMap
    // N=4 kept keys; marg a:3 b:2 c:1 d:1
    assert(got(("a", "b")) ==
      ((2L, 3L, 2L, 4L, math.round(math.log(8.0 / 6.0) * 1e6) / 1e6)))
    assert(got(("c", "d")) == ((1L, 1L, 1L, 4L, 1.386294)))
    assert(got.size == 2)
    // minPairCount=2 keeps only the repeated pair
    val strict = EventAnalytics.cooccurrencePmi(df, "k", "item",
        maxItemsPerKey = 3, minPairCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(strict.toSeq == Seq(("a", "b")))
  }

  test("burstiness: hand-computed Fano factors over the active span") {
    import spark.implicits._
    val h = 3600000000L
    // u1: hours 0,0,1,2 → B=3, n=4, Σc²=6 → fano = (18−16)/12 = 1/6
    // u2: one event → fano 0 (single bucket, zero variance)
    // u3: hours 0×4 and 4 → B=5, n=5, Σc²=17 → (85−25)/25 = 2.4
    //     (silent hours 1-3 count as zeros via the span term)
    val df = Seq(
      (1L, 0L), (1L, 1L), (1L, h + 1L), (1L, 2 * h),
      (2L, 5 * h),
      (3L, 0L), (3L, 2L), (3L, 3L), (3L, 4L), (3L, 4 * h)
    ).toDF("u", "us").withColumn("ts", timestamp_micros(col("us")))
    val got = EventAnalytics.burstiness(df, "u", "ts", h)
      .collect().map(r => r.getAs[Long]("u") ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("n_buckets"),
          r.getAs[Long]("fano_num"), r.getAs[Long]("fano_den"),
          r.getAs[Double]("fano")))).toMap
    assert(got(1L) == ((4L, 3L, 2L, 12L, 0.166667)))
    assert(got(2L) == ((1L, 1L, 0L, 1L, 0.0)))
    assert(got(3L) == ((5L, 5L, 60L, 25L, 2.4)))
  }

  test("burstiness plan: two partial-aggregable key shuffles, no window") {
    import spark.implicits._
    val df = Seq((1L, 0L)).toDF("u", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val plan = EventAnalytics.burstiness(df, "u", "ts", 3600000000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("cooccurrencePmi plan: partial-aggregated pair count, no cartesian") {
    import spark.implicits._
    val df = Seq((1L, "a"), (1L, "b"), (2L, "a")).toDF("k", "item")
    val plan = EventAnalytics.cooccurrencePmi(df, "k", "item")
      .queryExecution.executedPlan.toString
    // the single-row N table is the only nested-loop input (broadcast
    // cross of 1 row); the pair join itself must be an equi-join
    assert(plan.contains("partial_count"), plan)
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(nested <= 1, s"only the 1-row N cross join may nest:\n" + plan)
  }

  test("embargoSplit: straddlers and gap-dwellers quarantined") {
    val ev = Seq(
      ("a", 10L), ("a", 40L),          // entirely before split
      ("b", 40L), ("b", 160L),         // straddles -> embargo
      ("c", 210L), ("c", 300L),        // starts after split+embargo
      ("d", 120L))                     // inside the gap -> embargo
      .toDF("u", "tus")
    val got = graft.ops.EventAnalytics.embargoSplit(ev, "u", "tus",
      splitUs = 100L, embargoUs = 100L).collect()
      .map(r => r.getAs[String]("u") ->
        ((r.getAs[Long]("n_events"), r.getAs[String]("split")))).toMap
    assert(got("a") == ((2L, "train")))
    assert(got("b") == ((2L, "embargo")))
    assert(got("c") == ((2L, "test")))
    assert(got("d") == ((1L, "embargo")))
  }

  test("cuped: perfect covariate equalizes adjusted means; zero-var degrades") {
    // y = 10x + 10 exactly: theta = 10, both variants adjust to 25
    val units = Seq(("a", 0L, 10L), ("a", 2L, 30L),
      ("b", 1L, 20L), ("b", 3L, 40L)).toDF("variant", "x", "y")
    val got = graft.ops.EventAnalytics.cuped(units, "variant", "x", "y")
      .collect().map(r => r.getAs[String]("variant") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("mean_x"),
          r.getAs[Double]("mean_y"), r.getAs[Double]("adj_mean"),
          r.getAs[Double]("theta")))).toMap
    assert(got("a") == ((2L, 1.0, 20.0, 25.0, 10.0)))
    assert(got("b") == ((2L, 2.0, 30.0, 25.0, 10.0)))
    // constant covariate: theta = 0, adjusted mean = raw mean
    val flat = Seq(("a", 5L, 10L), ("b", 5L, 30L)).toDF("variant", "x", "y")
    val g2 = graft.ops.EventAnalytics.cuped(flat, "variant", "x", "y")
      .collect().map(r => r.getAs[String]("variant") ->
        ((r.getAs[Double]("adj_mean"), r.getAs[Double]("theta")))).toMap
    assert(g2("a") == ((10.0, 0.0)) && g2("b") == ((30.0, 0.0)))
    // non-integral metric refused
    val e = intercept[IllegalArgumentException] {
      graft.ops.EventAnalytics.cuped(
        Seq(("a", 1.0, 2L)).toDF("variant", "x", "y"), "variant", "x", "y")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("kaplanMeier: textbook table — risk sets, censoring, exact fold") {
    // durations (days, observed?): classic 6-unit example; censored
    // units leave the risk set but contribute no survival drop
    val d = Seq((1L, true), (2L, false), (3L, true), (3L, true),
      (4L, false), (5L, true)).toDF("dur", "ev")
    val got = EventAnalytics.kaplanMeier(d, "dur", "ev").collect()
      .map(r => r.getAs[Long]("t") -> ((r.getAs[Long]("n_risk"),
        r.getAs[Long]("n_event"), r.getAs[Long]("n_censored"),
        r.getAs[Double]("survival"))))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    val m = got.toMap
    assert(m(1L) == ((6L, 1L, 0L, 0.833333)))  // 1·(1−1/6)
    assert(m(2L) == ((5L, 0L, 1L, 0.833333)))  // censor: no drop
    assert(m(3L) == ((4L, 2L, 0L, 0.416667)))  // ·(1−2/4)
    assert(m(4L) == ((2L, 0L, 1L, 0.416667)))
    assert(m(5L) == ((1L, 1L, 0L, 0.0)))       // last unit converts
  }

  test("botSignals: burst rule, mono-type rule, exact minute buckets") {
    val m = 60000000L // one minute in micros
    val rows =
      // user 1: 5 events inside one minute (burst), 2 types
      Seq((1L, 10L, "view"), (1L, 20L, "view"), (1L, 30L, "click"),
        (1L, 40L, "view"), (1L, 50L, "view")) ++
      // user 2: 4 events in 4 separate minutes, low volume → human
      (0 until 4).map(i => (2L, i * m, "view")) ++
      // user 3: 30 single-type events spread over 30 minutes → ping
      (0 until 30).map(i => (3L, i * m + 5L, "ping"))
    val df = rows.toDF("u", "tus", "t")
      .select(col("u"), timestamp_micros(col("tus")).as("ts"), col("t"))
    val got = EventAnalytics.botSignals(df, "u", "ts", "t",
        peakPerMinute = 5L, minEvents = 20L).collect()
      .map(r => r.getAs[Long]("u") ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("active_minutes"),
          r.getAs[Long]("peak_per_minute"), r.getAs[Long]("n_types"),
          r.getAs[Long]("epm_milli"), r.getAs[Boolean]("bot")))).toMap
    assert(got(1L) == ((5L, 1L, 5L, 2L, 5000L, true)))   // burst
    assert(got(2L) == ((4L, 4L, 1L, 1L, 1000L, false)))  // low volume
    assert(got(3L) == ((30L, 30L, 1L, 1L, 1000L, true))) // mono-type
    assert(got.size == 3)
  }

  test("kaplanMeier: all-censored stays at 1.0; ties at t=0 well-defined") {
    val d = Seq((0L, false), (0L, false), (7L, false)).toDF("dur", "ev")
    val got = EventAnalytics.kaplanMeier(d, "dur", "ev").collect()
      .map(r => (r.getAs[Long]("t"), r.getAs[Long]("n_risk"),
        r.getAs[Double]("survival")))
    assert(got.toSeq == Seq((0L, 3L, 1.0), (7L, 1L, 1.0)))
  }

  test("mannKendall: monotone series flag, ties kill variance, S=0 null") {
    val rows =
      // strictly rising: S = 10, var18 = 300 → Z = 9/√(300/18) ≈ 2.2
      (1 to 5).map(x => ("up", x.toLong, x.toLong)) ++
      (1 to 5).map(x => ("down", x.toLong, (6 - x).toLong)) ++
      // constant: every pair ties — var18 = 0, S = 0
      (1 to 5).map(x => ("flat", x.toLong, 7L)) ++
      // S = 0 with variation: rising is null, not false
      Seq(("mix", 1L, 2L), ("mix", 2L, 1L), ("mix", 3L, 2L))
    val got = EventAnalytics.mannKendall(rows.toDF("k", "x", "y"),
        "k", "x", "y").collect()
      .map(r => r.getAs[String]("k") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("s"),
          r.getAs[Long]("var18"),
          Option(r.getAs[java.lang.Boolean]("rising")),
          r.getAs[Boolean]("significant")))).toMap
    assert(got("up") == ((5L, 10L, 300L, Some(true), true)))
    assert(got("down") == ((5L, -10L, 300L, Some(false), true)))
    assert(got("flat") == ((5L, 0L, 0L, None, false)))
    // var18 = 3·2·11 − 2·1·9 (the tied pair of 2s) = 48
    assert(got("mix") == ((3L, 0L, 48L, None, false)))
  }

  test("diffInDiff: hand cells, shared trend cancelled, verdict") {
    // both groups drift +3 between periods; treatment gains +3 extra
    val rows =
      Seq(1L, 2L, 3L).map(v => ("t", false, v)) ++
      Seq(7L, 8L, 9L).map(v => ("t", true, v)) ++
      Seq(1L, 2L, 3L).map(v => ("c", false, v)) ++
      Seq(4L, 5L, 6L).map(v => ("c", true, v)) ++
      Seq(("x", true, 99L)) // unrelated variant is ignored
    val r = EventAnalytics.diffInDiff(rows.toDF("variant", "post", "v"),
      "variant", "post", "v", treatment = "t", control = "c")
      .collect().head
    assert((r.getAs[Long]("n_t0"), r.getAs[Long]("n_t1"),
      r.getAs[Long]("n_c0"), r.getAs[Long]("n_c1")) == ((3L, 3L, 3L, 3L)))
    assert((r.getAs[Double]("mean_t0"), r.getAs[Double]("mean_t1"),
      r.getAs[Double]("mean_c0"), r.getAs[Double]("mean_c1")) ==
      ((2.0, 8.0, 2.0, 5.0)))
    // did = (8−2) − (5−2) = 3; t² = 9 / (4·(1/3)) = 6.75 ≥ 3.8416
    assert(r.getAs[Double]("did") == 3.0)
    assert(r.getAs[Boolean]("significant"))
    // all-constant cells: t² undefined — null, never a verdict
    val flat = Seq(("t", false, 5L), ("t", false, 5L),
      ("t", true, 5L), ("t", true, 5L), ("c", false, 5L),
      ("c", false, 5L), ("c", true, 5L), ("c", true, 5L))
    val rf = EventAnalytics.diffInDiff(flat.toDF("variant", "post", "v"),
      "variant", "post", "v", "t", "c").collect().head
    assert(rf.isNullAt(rf.fieldIndex("significant")))
    assert(rf.getAs[Double]("did") == 0.0)
  }

  test("logRank: textbook risk-set walk, censoring removes silently, " +
      "single-survivor time contributes zero variance") {
    import spark.implicits._
    // c: events at 1, 3, censored 5; t: events at 2, 6, censored 4
    val df = Seq((1L, true, "c"), (3L, true, "c"), (5L, false, "c"),
      (2L, true, "t"), (4L, false, "t"), (6L, true, "t"))
      .toDF("dur", "ev", "arm")
    val r = EventAnalytics.logRank(df, "dur", "ev", "arm", "c")
      .collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L && r.getLong(2) == 4L)
    // O−E = −0.5 + 0.4 − 0.5 + 0 = −0.6; V = 0.25+0.24+0.25 = 0.74
    assert(r.getAs[Double]("o_minus_e") == -0.6)
    assert(r.getAs[Double]("variance") == 0.74)
    assert(r.getAs[Double]("chi2") == 0.486486)
    assert(!r.getAs[Boolean]("significant"))
    // no events at all -> null chi2, zero events
    val none = Seq((1L, false, "c"), (2L, false, "t"))
      .toDF("dur", "ev", "arm")
    val rn = EventAnalytics.logRank(none, "dur", "ev", "arm", "c")
      .collect().head
    assert(rn.getLong(2) == 0L && rn.isNullAt(rn.fieldIndex("chi2")))
  }

  test("hazardRatio: Pike estimate from the hand-walked risk grid, " +
      "CI brackets the point, degenerate arms refuse") {
    import spark.implicits._
    val df = Seq((1L, true, "c"), (3L, true, "c"), (5L, false, "c"),
      (2L, true, "t"), (4L, false, "t"), (6L, true, "t"))
      .toDF("dur", "ev", "arm")
    val r = EventAnalytics.hazardRatio(df, "dur", "ev", "arm", "c")
      .collect().head
    assert(r.getLong(2) == 2L && r.getAs[Double]("e1") == 2.6)
    assert(r.getLong(4) == 2L && r.getAs[Double]("e0") == 1.4)
    // HR = (2/2.6)/(2/1.4)
    assert(r.getAs[Double]("hazard_ratio") == 0.538462)
    val lo = r.getAs[Double]("hr_lo"); val hi = r.getAs[Double]("hr_hi")
    assert(lo < 0.538462 && 0.538462 < hi)
    assert(lo > 0.01 && hi < 10.0)
    // all events in one arm -> O0 = 0 -> refuse the ratio
    val one = Seq((1L, true, "t"), (2L, false, "c"))
      .toDF("dur", "ev", "arm")
    val rn = EventAnalytics.hazardRatio(one, "dur", "ev", "arm", "c")
      .collect().head
    assert(rn.isNullAt(rn.fieldIndex("hazard_ratio")))
  }

  test("forecastAccuracy: exact MAE, quantized sMAPE, naive-scaled MASE") {
    import spark.implicits._
    val df = Seq((1L, 10L, 11L), (2L, 12L, 11L), (3L, 11L, 11L),
      (4L, 13L, 12L), (5L, 12L, 14L))
      .map { case (t, a, f) => ("k", t, a, f) }
      .toDF("key", "t", "a", "f")
    val r = EventAnalytics.forecastAccuracy(df, "key", "t", "a", "f")
      .collect().head
    assert(r.getLong(1) == 5L)
    assert(r.getAs[Double]("mae") == 1.0)
    // terms: 2e6/21 + 2e6/23 + 0 + 2e6/25 + 4e6/26 (each floored)
    assert(r.getAs[Double]("smape") == 0.083208)
    assert(r.getAs[Long]("n_naive") == 4L)
    assert(r.getAs[Double]("mase") == 0.666667)
    // constant actuals -> naive MAE 0 -> mase null
    val const = (1L to 4L).map(t => ("k", t, 5L, 6L))
      .toDF("key", "t", "a", "f")
    val rc = EventAnalytics.forecastAccuracy(const, "key", "t", "a", "f")
      .collect().head
    assert(rc.isNullAt(rc.fieldIndex("mase")))
    assert(rc.getAs[Double]("mae") == 1.0)
  }

  test("ljungBox: alternating series Q exact, constant and short " +
      "series refuse a verdict") {
    import spark.implicits._
    val alt = (1L to 6L).map(t =>
      ("k", t, if (t % 2 == 1) 1L else -1L)).toDF("key", "t", "x")
    val r = EventAnalytics.ljungBox(alt, "key", "t", "x", maxLag = 2)
      .collect().head
    // rho1 = -5/6, rho2 = 2/3: Q = 6*8*(25/36/5 + 4/9/4) = 12 exactly
    assert(r.getAs[Double]("q_stat") == 12.0)
    assert(r.getAs[Boolean]("significant")) // chi2(2) crit 5.991
    val const = (1L to 6L).map(t => ("k", t, 7L)).toDF("key", "t", "x")
    val rc = EventAnalytics.ljungBox(const, "key", "t", "x", 2)
      .collect().head
    assert(rc.isNullAt(rc.fieldIndex("q_stat")))
    val short = (1L to 2L).map(t => ("k", t, t)).toDF("key", "t", "x")
    val rs = EventAnalytics.ljungBox(short, "key", "t", "x", 2)
      .collect().head
    assert(rs.isNullAt(rs.fieldIndex("q_stat")))
  }

  test("markovAttribution: removal effects match the hand-solved " +
      "chain, assist channel credited, bare converters owe nobody") {
    import spark.implicits._
    // u1: A->conv; u2: A->B->conv; u3: B->(null)
    val ev = Seq(
      ("u1", 1L, 1L, "A"), ("u1", 2L, 2L, "conv"),
      ("u2", 1L, 3L, "A"), ("u2", 2L, 4L, "B"), ("u2", 3L, 5L, "conv"),
      ("u3", 1L, 6L, "B"))
      .toDF("e", "ts", "id", "t")
    val got = EventAnalytics.markovAttribution(ev, "e", "ts", "id", "t",
        "conv", Seq("A", "B"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getAs[Double]("p_full"),
          r.getAs[Double]("removal_effect"),
          Option(r.getAs[java.lang.Double]("share")).map(_.doubleValue))))
      .toMap
    // P_full = 2/3; removing A leaves 1/6 -> effect 3/4; removing B
    // kills the assist path -> 1/2; shares 0.6 / 0.4
    assert(got("A") == ((2L, 0.666667, 0.75, Some(0.6))))
    assert(got("B") == ((2L, 0.666667, 0.5, Some(0.4))))
    // bare converter: conversions with no touches stay with START;
    // a channel that never leads anywhere earns zero and share is null
    val ev2 = Seq(("v1", 1L, 1L, "conv"), ("v2", 1L, 2L, "A"))
      .toDF("e", "ts", "id", "t")
    val g2 = EventAnalytics.markovAttribution(ev2, "e", "ts", "id", "t",
        "conv", Seq("A")).collect().head
    assert(g2.getAs[Double]("p_full") == 0.5)
    assert(g2.getAs[Double]("removal_effect") == 0.0)
    assert(g2.isNullAt(g2.fieldIndex("share")))
  }

  test("holt: tracks a perfect linear series exactly, textbook init, " +
      "single point refuses trend") {
    import spark.implicits._
    val df = (Seq((1L, 10L), (2L, 12L), (3L, 14L)).map {
      case (t, v) => ("lin", t, v) } ++
      Seq((1L, 10L), (2L, 12L), (3L, 11L)).map {
        case (t, v) => ("noisy", t, v) } ++
      Seq(("one", 1L, 10L))).toDF("k", "t", "v")
    val got = EventAnalytics.holt(df, "k", "t", "v",
        alpha = 0.5, beta = 0.5)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("level"),
          Option(r.getAs[java.lang.Double]("trend")).map(_.doubleValue),
          Option(r.getAs[java.lang.Double]("forecast"))
            .map(_.doubleValue)))).toMap
    assert(got("lin") == ((14.0, Some(2.0), Some(16.0))))
    assert(got("noisy") == ((12.5, Some(1.25), Some(13.75))))
    assert(got("one") == ((10.0, None, None)))
  }

  test("seasonalDecompose: recovers an exact linear trend + zero-sum " +
      "seasonal, edges and gaps refuse a trend") {
    import spark.implicits._
    // y = 10t + s[t mod 3], s = (0, 3, -3)
    val seas = Seq(0L, 3L, -3L)
    val df = (0L to 8L).map(t => ("k", t, 10 * t + seas((t % 3).toInt)))
      .toDF("k", "t", "y")
    val got = EventAnalytics.seasonalDecompose(df, "k", "t", "y", 3)
      .collect().map(r => r.getLong(1) ->
        ((Option(r.getAs[java.lang.Double]("trend")).map(_.doubleValue),
          r.getAs[Double]("seasonal"),
          Option(r.getAs[java.lang.Double]("remainder"))
            .map(_.doubleValue)))).toMap
    assert(got(1L) == ((Some(10.0), 3.0, Some(0.0))))
    assert(got(4L) == ((Some(40.0), 3.0, Some(0.0))))
    assert(got(5L) == ((Some(50.0), -3.0, Some(0.0))))
    assert(got(6L) == ((Some(60.0), 0.0, Some(0.0))))
    // edges: no full window -> no trend, seasonal still phase-defined
    assert(got(0L) == ((None, 0.0, None)))
    assert(got(8L) == ((None, -3.0, None)))
    // a gap poisons every window that needed the missing point
    val gap = EventAnalytics.seasonalDecompose(
      df.filter(col("t") =!= 4L), "k", "t", "y", 3)
      .collect().map(r => r.getLong(1) ->
        Option(r.get(3))).toMap
    assert(gap(3L).isEmpty && gap(5L).isEmpty)
    assert(gap(2L).nonEmpty && gap(6L).nonEmpty)
  }

  test("rmst: step integral under the KM curve, horizon truncation, " +
      "tail extension at S(last)") {
    import spark.implicits._
    val df = Seq((1L, true), (2L, true), (2L, true), (3L, false),
      (4L, true), (5L, false)).toDF("dur", "ev")
    val r4 = EventAnalytics.rmst(df, "dur", "ev", tau = 4L)
      .collect().head
    assert(r4.getLong(0) == 6L && r4.getLong(1) == 4L)
    // 1 + 0.833333 + 0.5 + 0.5, then the horizon cuts at t=4
    assert(r4.getAs[Double]("rmst") == 2.833333)
    val r10 = EventAnalytics.rmst(df, "dur", "ev", tau = 10L)
      .collect().head
    // + 0.25 over [4,5) + 0.25·(10-5) beyond the last observation
    assert(r10.getAs[Double]("rmst") == 4.333333)
  }

  test("nelsonAalen: additive hazard over the risk grid, censoring " +
      "rows carry the running value") {
    import spark.implicits._
    val df = Seq((1L, true), (2L, true), (2L, true), (3L, false),
      (4L, true), (5L, false)).toDF("dur", "ev")
    val got = EventAnalytics.nelsonAalen(df, "dur", "ev")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getAs[Double]("cum_hazard"))))
      .toMap
    assert(got(1L) == ((6L, 1L, 0.166667)))
    assert(got(2L) == ((5L, 2L, 0.566667))) // 1/6 + 2/5
    assert(got(3L) == ((3L, 0L, 0.566667))) // censor-only: flat
    assert(got(4L) == ((2L, 1L, 1.066667)))
    assert(got(5L) == ((1L, 0L, 1.066667)))
  }

  test("rfm: exact integer quantile tiles, inverted recency score, " +
      "ties share a tile") {
    import spark.implicits._
    val df = Seq(("u1", 100L, 10L), ("u1", 90L, 5L),
      ("u2", 80L, 100L),
      ("u3", 100L, 1L), ("u3", 99L, 1L), ("u3", 98L, 1L),
      ("u4", 50L, 50L)).toDF("u", "ts", "v")
    val got = EventAnalytics.rfm(df, "u", "ts", "v", nTiles = 4)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(7))))
      .toMap
    assert(got("u1") == ((0L, 2L, 15L, 432L)))
    assert(got("u2") == ((20L, 1L, 100L, 214L)))
    assert(got("u3") == ((0L, 3L, 3L, 441L)))
    assert(got("u4") == ((50L, 1L, 50L, 113L)))
  }

  test("itemCooccurrence: exact cos² micro-scores, duplicate " +
      "interactions collapse, bot cap drops the user, topK per item") {
    import spark.implicits._
    // u1{1,2,3} u2{1,2} u3{1,2} u4{3}; u2's (1) repeated -> counts once
    val df = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 1L),
      (2L, 2L), (3L, 1L), (3L, 2L), (4L, 3L)).toDF("u", "i")
    val got = EventAnalytics.itemCooccurrence(df, "u", "i", topK = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    // deg 1:3 2:3 3:2; (1,2) co=3 -> 9e6 div 9 = 1e6
    assert(got(1L) == ((2L, 3L, 1000000L, 1)))
    assert(got(2L) == ((1L, 3L, 1000000L, 1)))
    // item 3 ties (1 and 2 both 1e6 div 6) -> neighbor id asc wins
    assert(got(3L) == ((1L, 1L, 166666L, 1)))
    // cap at 2 items/user drops u1: item 3 loses all co-occurrence
    val capped = EventAnalytics.itemCooccurrence(df, "u", "i",
        topK = 5, maxItemsPerUser = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(capped == Set((1L, 2L, 2L, 1000000L), (2L, 1L, 2L, 1000000L)))
    graft.ops.Caches.releaseAll()
  }

  test("rollingActiveUsersApprox: same day set as the exact twin, " +
      "sketch estimate exact at small cardinality") {
    val day = 86400000000L
    val ev = (0 until 200).map(i =>
      ((i % 37).toLong, (i % 5).toLong * day + i))
      .toDF("u", "tus")
      .select(col("u"), org.apache.spark.sql.functions
        .timestamp_micros(col("tus")).as("ts"))
    val exact = EventAnalytics.rollingActiveUsers(ev, "u", "ts", 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val approx = EventAnalytics.rollingActiveUsersApprox(ev, "u", "ts", 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(approx.keySet == exact.keySet, "observed-day sets must match")
    for ((d, (dau, wau)) <- exact) {
      assert(approx(d)._1 == dau, s"dau is exact by construction (day $d)")
      // Datasketches HLL is in exact (coupon-list) mode far below 2^14
      // registers, so at 37 entities the estimate is the true count
      assert(approx(d)._2 == wau, s"day $d: ${approx(d)._2} vs $wau")
    }
  }
}
