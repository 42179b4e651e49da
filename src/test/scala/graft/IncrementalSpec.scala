package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.Incremental

class IncrementalSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("merge(base, delta) equals a from-scratch recompute") {
    // facts: (key, metric); base = first 6, delta = 2 inserts + 1 delete
    val base = Seq(("a", 10L), ("a", 20L), ("b", 1L), ("b", 2L),
      ("c", 5L), ("c", 7L)).toDF("k", "v").withColumn("sign", lit(1L))
    val delta = Seq(("a", 30L, 1L), ("d", 100L, 1L), ("b", 2L, -1L))
      .toDF("k", "v", "sign")
    val merged = Incremental.merge(
      Incremental.aggregateSigned(base, Seq("k"), "sign", Seq("v")),
      Incremental.aggregateSigned(delta, Seq("k"), "sign", Seq("v")),
      Seq("k"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("v_sum"))).toMap
    // survivors: a{10,20,30}, b{1}, c{5,7}, d{100}
    assert(merged == Map(
      "a" -> (3L, 60L), "b" -> (1L, 1L), "c" -> (2L, 12L), "d" -> (1L, 100L)))
  }

  test("fully-retracted keys vanish (no zero rows)") {
    val base = Seq(("x", 5L)).toDF("k", "v").withColumn("sign", lit(1L))
    val delta = Seq(("x", 5L, -1L)).toDF("k", "v", "sign")
    val out = Incremental.merge(
      Incremental.aggregateSigned(base, Seq("k"), "sign", Seq("v")),
      Incremental.aggregateSigned(delta, Seq("k"), "sign", Seq("v")),
      Seq("k")).collect()
    assert(out.isEmpty)
  }

  test("merge rejects shape-mismatched inputs") {
    val a = Seq(("k1", 1L, 2L)).toDF("k", "n", "v_sum")
    val b = Seq(("k1", 1L, 2L)).toDF("k", "n", "other_sum")
    val e = intercept[IllegalArgumentException] {
      Incremental.merge(a, b, Seq("k"))
    }
    assert(e.getMessage.contains("shapes differ"))
  }

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    val old = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "dig")
    val neu = Seq((1L, 10L), (2L, 99L), (4L, 40L)).toDF("k", "dig")
    val got = Incremental.snapshotDiff(old, neu, "k", "dig")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("scd2: no-op updates collapse, intervals chain, ties break by id") {
    // key 1: a@0, a@5 (no-op), b@10, b@12 (no-op), a@20 → 3 versions
    // key 2: same-ts pair (id order decides which is 'first')
    val ev = Seq((1L, 0L, 1L, "a"), (1L, 5L, 2L, "a"), (1L, 10L, 3L, "b"),
      (1L, 12L, 4L, "b"), (1L, 20L, 5L, "a"),
      (2L, 7L, 6L, "x"), (2L, 7L, 7L, "y"))
      .toDF("k", "tus", "id", "v")
    val got = Incremental.scd2(ev, "k", "tus", "id", "v")
      .collect().map(r => (r.getLong(0), r.getAs[Long]("version")) ->
        (r.getString(1), r.getAs[Long]("eff_from"),
          Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(got(1L -> 1L) == (("a", 0L, Some(10L))))
    assert(got(1L -> 2L) == (("b", 10L, Some(20L))))
    assert(got(1L -> 3L) == (("a", 20L, None)))       // current version
    // same-ts tie: id 6 ('x') precedes id 7 ('y')
    assert(got(2L -> 1L) == (("x", 7L, Some(7L))))
    assert(got(2L -> 2L) == (("y", 7L, None)))
  }

  test("delta refresh never scans the base fact table (scale shape)") {
    // the merge plan unions two |keys|-sized aggregates — assert the base
    // AGGREGATE (not its facts) feeds the final hash aggregate: no join,
    // no window, exactly two aggregate layers
    val base = Seq(("a", 1L)).toDF("k", "v").withColumn("sign", lit(1L))
    val delta = Seq(("a", 2L, 1L)).toDF("k", "v", "sign")
    val plan = Incremental.merge(
      Incremental.aggregateSigned(base, Seq("k"), "sign", Seq("v")),
      Incremental.aggregateSigned(delta, Seq("k"), "sign", Seq("v")),
      Seq("k")).queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Union"), plan)
  }

  test("compactCdc: latest wins, delete markers vanish, map-side rank pruning") {
    val cdc = Seq(
      ("a", 1L, 1L, "upsert", "v1"), ("a", 2L, 2L, "upsert", "v2"),
      ("b", 1L, 3L, "upsert", "v1"), ("b", 2L, 4L, "delete", ""),
      ("c", 5L, 5L, "upsert", "x"), ("c", 5L, 6L, "upsert", "y"))
      .toDF("k", "ts", "id", "op", "v")
    val out = Incremental.compactCdc(cdc, "k", "ts", "id", "op")
    val got = out.collect()
      .map(r => r.getString(0) -> r.getAs[String]("v")).toMap
    assert(got == Map("a" -> "v2", "c" -> "y")) // b deleted; c: id 6 wins tie
    // the rn=1 filter must plan as a WindowGroupLimit (map-side pruning)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("datasetFingerprint: layout-independent, mergeable, mutation-sensitive") {
    val df = Seq((1L, "aa", "s1"), (2L, "bb", "s1"), (3L, "cc", "s2"))
      .toDF("id", "text", "shard")
    def fp(d: org.apache.spark.sql.DataFrame) =
      Incremental.datasetFingerprint(d, "shard", "id", "text")
        .collect().map(r => r.getString(0) ->
          (r.getAs[Long]("n_rows"), r.getAs[Long]("xor_digest"),
           r.getAs[Long]("sum_digest"))).toMap
    val base = fp(df)
    assert(base.keySet == Set("s1", "s2", "(total)"))
    assert(base("(total)")._1 == 3L)
    // layout independence: repartitioned input fingerprints identically
    assert(fp(df.repartition(7)) == base)
    // mutation sensitivity: editing one row changes its shard AND total
    val edited = fp(Seq((1L, "aA", "s1"), (2L, "bb", "s1"),
      (3L, "cc", "s2")).toDF("id", "text", "shard"))
    assert(edited("s1") != base("s1") && edited("s2") == base("s2"))
    assert(edited("(total)") != base("(total)"))
    // moving a row across shards changes shard rows but NOT the total —
    // the commutative-merge property the add-summaries path relies on
    val moved = fp(Seq((1L, "aa", "s2"), (2L, "bb", "s1"),
      (3L, "cc", "s2")).toDF("id", "text", "shard"))
    assert(moved("s1") != base("s1") && moved("s2") != base("s2"))
    assert(moved("(total)") == base("(total)"))
  }
}
