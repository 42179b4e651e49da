package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.Fuzzy

class FuzzySpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("deletionNeighborhood: the key plus each single-char deletion") {
    val got = Seq("abc").toDF("k")
      .select(Fuzzy.deletionNeighborhood(col("k")).as("n"))
      .collect().head.getSeq[String](0).toSet
    assert(got == Set("abc", "bc", "ac", "ab"))
    // duplicate deletions collapse ("aa" -> "a" twice)
    val dup = Seq("aa").toDF("k")
      .select(Fuzzy.deletionNeighborhood(col("k")).as("n"))
      .collect().head.getSeq[String](0)
    assert(dup.sorted == Seq("a", "aa"))
  }

  test("fuzzyPairs finds exactly the Levenshtein-≤1 pairs (brute-force check)") {
    val keys = Seq("abc", "abd", "ab", "xabc", "zzz", "abcd", "bbcd")
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }
    val df = keys.toDF("id", "key")
    val got = Fuzzy.fuzzyPairs(df, "id", "key")
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet
    // ground truth: the full cartesian filtered by exact edit distance
    val want = (for {
      (ia, ka) <- keys; (ib, kb) <- keys
      if ia < ib && levDist(ka, kb) <= 1
    } yield (ia, ib)).toSet
    assert(got == want, s"got $got want $want")
    assert(want.contains((0L, 1L)), "substitution abc~abd")
    assert(want.contains((0L, 2L)), "deletion abc~ab")
    assert(want.contains((0L, 3L)), "insertion abc~xabc")
    assert(!want.exists(p => p._1 == 4L || p._2 == 4L), "zzz matches nothing")
  }

  private def levDist(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("containmentPairs: excerpt containment binds where Jaccard misses") {
    val parent = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val excerpt = "alpha beta gamma delta epsilon zeta" // 6 of 20 words
    val other = "one two three four five six seven eight nine ten"
    val df = Seq((1L, parent), (2L, excerpt), (3L, other))
      .toDF("id", "text")
    val got = Fuzzy.containmentPairs(df, "id", "text", shingleK = 3,
        maxDf = 10L, pctMin = 80)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        (r.getAs[Long]("inter"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))))
      .toMap
    // all 4 of the excerpt's 3-shingles sit in the parent: containment 1
    assert(got.keySet == Set((1L, 2L)))
    val (inter, na, nb) = got((1L, 2L))
    assert(inter == 4L && nb == 4L && na == 18L)
  }

  test("jaroWinkler matches DuckDB's jaro_winkler_similarity on pinned cases") {
    // values produced by `SELECT jaro_winkler_similarity(a, b)` in DuckDB
    // (the oracle engine) — empty-string zero, the 0.7 boost threshold,
    // and transposition halving all pinned
    val cases = Seq(
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("abcdxxxx", "abcdyyyyzzzz", 0.611111111111111), // jaro <= 0.7: NO boost
      ("ab", "ba", 0.0),       // window 0: no matches
      ("a", "", 0.0),          // empty side
      ("", "", 0.0),           // both empty — 0, not 1
      ("abc", "abc", 1.0),
      ("CRATE", "TRACE", 0.7333333333333334), // boost eligible, prefix 0
      ("aaaaaaaaab", "aaaaaaaaba", 0.98))
    for ((a, b, want) <- cases) {
      val got = graft.functions.HashImpls.jaroWinkler(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      assert(math.abs(got - want) < 1e-12, s"jw($a, $b): got $got want $want")
    }
    // codegen'd expression path agrees with the JVM impl
    val viaExpr = Seq(("DIXON", "DICKSONX")).toDF("a", "b")
      .select(graft.functions.NativeHashes.jaro_winkler(col("a"), col("b")))
      .collect().head.getDouble(0)
    assert(math.abs(viaExpr - 0.8133333333333332) < 1e-12)
  }

  test("jaroWinklerPairs: blocked pairs above threshold, prefix block binds") {
    val df = Seq("jonathan", "jonathon", "jhonathan", "zonathan", "kim")
      .toDF("name")
    val got = Fuzzy.jaroWinklerPairs(df, "name", blockLen = 2, minSim = 0.9)
      .collect()
      .map(r => (r.getAs[String]("key_a"), r.getAs[String]("key_b")))
      .toSet
    // jonathan~jonathon share the "jo" block and score > 0.9;
    // jhonathan and zonathan are near but BLOCKED OUT (prefix differs) —
    // the documented blocking incompleteness
    assert(got == Set(("jonathan", "jonathon")), s"got $got")
  }

  test("prefixFilterJaccardPairs == brute-force all-pairs Jaccard") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta thetaX"), // near-dup of 1
      (3L, "one two three four five six seven eight"),
      (4L, "one two three four five six seven eight"),        // exact dup of 3
      (5L, "alpha beta unrelated words entirely different here now"),
      (6L, "tiny"))                                           // < k tokens
    val df = docs.toDF("id", "text")
    val got = Fuzzy.prefixFilterJaccardPairs(df, "id", "text",
        shingleK = 3, thNum = 1, thDen = 2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet
    // ground truth: full cartesian over distinct shingle-hash sets
    val sets = docs.map { case (i, t) =>
      i -> graft.functions.HashImpls.shingleHashes(t, 3).toSet }.toMap
    val want = (for {
      (ia, sa) <- sets.toSeq; (ib, sb) <- sets.toSeq
      if ia < ib
      inter = (sa & sb).size
      if inter * 2 >= (sa.size + sb.size - inter)
    } yield (ia, ib)).toSet
    assert(got == want, s"got $got want $want")
    assert(want.contains((3L, 4L)), "exact dup must pair")
    assert(want.contains((1L, 2L)), "near dup must pair")
    graft.ops.Caches.releaseAll()
  }

  test("containmentPairs df cutoff drops boilerplate shingles pre-join") {
    // the same 3 words open EVERY doc: with maxDf=2 those shingles are
    // dropped, so docs sharing ONLY the boilerplate never pair
    val docs = (1L to 5L).map(i =>
      (i, s"same old intro unique$i body$i tail$i words$i here$i"))
    val df = docs.toDF("id", "text")
    val got = Fuzzy.containmentPairs(df, "id", "text", shingleK = 3,
      maxDf = 2L, pctMin = 50)
    assert(got.count() == 0, "boilerplate-only overlap must not pair")
  }

  test("sortedNeighborhood: per-block sort order, window pairs, gaps") {
    import spark.implicits._
    // block A sorts by (size, id): 3(5) < 1(7) < 4(7) < 2(9); block B
    // has a single record (no pairs); null size sorts LAST in block A
    val df = Seq(
      (1L, "A", java.lang.Long.valueOf(7L)),
      (2L, "A", java.lang.Long.valueOf(9L)),
      (3L, "A", java.lang.Long.valueOf(5L)),
      (4L, "A", java.lang.Long.valueOf(7L)),
      (5L, "B", java.lang.Long.valueOf(1L)),
      (6L, "A", null.asInstanceOf[java.lang.Long])
    ).toDF("id", "blk", "size")
    val got = Fuzzy.sortedNeighborhood(df, "id", Seq("blk"), Seq("size"), 3)
      .collect()
      .map(r => (r.getAs[String]("blk"), r.getAs[Long]("id_a"),
        r.getAs[Long]("id_b"), r.getAs[Int]("gap"))).toSet
    // order in A: 3, 1, 4, 2, 6(null last)
    assert(got == Set(
      ("A", 3L, 1L, 1), ("A", 3L, 4L, 2),
      ("A", 1L, 4L, 1), ("A", 1L, 2L, 2),
      ("A", 4L, 2L, 1), ("A", 4L, 6L, 2),
      ("A", 2L, 6L, 1)))
  }

  test("sortedNeighborhood plan: one block-key shuffle, single window") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Fuzzy.sortedNeighborhood(df, "doc_id", Seq("lang"),
        Seq("n_chars"), 3)
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length == 2,
      "exactly one exchange (block-key hash):\n" + plan)
    assert(plan.contains("hashpartitioning(lang"), plan)
    assert(plan.split("Window").length == 2,
      "the w-1 leads ride one window pass:\n" + plan)
  }

  test("fellegiSunter: add-half smoothed m/u and symmetric log weights") {
    def rnd(x: Double) = math.round(x * 1e6) / 1e6
    // informative field agrees on 3/4 matches, 1/4 non-matches;
    // useless field agrees everywhere
    val pairs = Seq(
      (true, true, true), (true, true, true), (true, true, true),
      (true, false, true),
      (false, true, true), (false, false, true), (false, false, true),
      (false, false, true))
      .toDF("is_match", "f_info", "f_flat")
    val got = graft.ops.Fuzzy.fellegiSunter(pairs, "is_match",
      Seq("f_info", "f_flat")).collect()
      .map(r => r.getAs[String]("field") ->
        ((r.getAs[Long]("n_match"), r.getAs[Long]("n_agree_match"),
          r.getAs[Long]("n_nonmatch"), r.getAs[Long]("n_agree_nonmatch"),
          r.getAs[Double]("m"), r.getAs[Double]("u"),
          r.getAs[Double]("w_agree"), r.getAs[Double]("w_disagree"))))
      .toMap
    // m = 3.5/5 = .7, u = 1.5/5 = .3: agreement is ln(7/3) evidence FOR
    assert(got("f_info") == ((4L, 3L, 4L, 1L, 0.7, 0.3,
      rnd(math.log(0.7 / 0.3)), rnd(math.log(0.3 / 0.7)))))
    // m = u = .9: a field that always agrees carries zero evidence
    assert(got("f_flat") == ((4L, 4L, 4L, 4L, 0.9, 0.9, 0.0, 0.0)))
  }

  test("editDistancePairs: blocked DP verify, case-folded block, dedup") {
    val keys = Seq("apple", "apples", "applle", "Apple", "banana",
      "apple", "a").toDF("k")
    val got = Fuzzy.editDistancePairs(keys, "k", blockLen = 1, maxDist = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    // "apples"/"applle" share the block but sit at distance 2 → dropped;
    // "banana" blocks under 'b' alone; "a" is length-filtered from all
    // 5-6 char keys; duplicate "apple" rows collapse before pairing
    assert(got == Set(("Apple", "apple", 1), ("apple", "apples", 1),
      ("apple", "applle", 1)))
  }

  test("editDistancePairs: length prefilter is sound at larger maxDist") {
    val keys = Seq("abc", "abcde", "abcdefg", "xbc").toDF("k")
    val got = Fuzzy.editDistancePairs(keys, "k", blockLen = 1, maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    // |3−7| > 2 prunes (abc, abcdefg) before any DP; xbc blocks under x
    assert(got == Set(("abc", "abcde", 2), ("abcde", "abcdefg", 2)))
  }

  test("goldenRecords: per-field freshest-non-null, id tie-break, rep") {
    val rows = Seq(
      // cluster 1: each field's winner is a DIFFERENT row
      (1L, 1L, 5L, None, Some("A"), Some(10L)),
      (2L, 1L, 3L, Some("bob"), Some("B"), None),
      (3L, 1L, 5L, Some("carl"), None, Some(30L)),
      // cluster 2: all-null field survives as null
      (4L, 2L, 7L, None, Some("C"), Some(40L)))
      .toDF("id", "clu", "ord", "name", "seg", "bal")
    val got = Fuzzy.goldenRecords(rows, "clu", "ord", "id",
        Seq("name", "seg", "bal")).collect()
      .map(r => r.getAs[Long]("cluster") ->
        ((r.getAs[Long]("n_members"), r.getAs[Long]("rep_id"),
          r.getAs[String]("name"), r.getAs[String]("seg"),
          Option(r.getAs[java.lang.Long]("bal")).map(_.toLong)))).toMap
    // rep = max (ord, id) = (5, 3); name: non-null max (ord, id) =
    // carl; seg: row 1 beats row 2 on ord; bal: ord tie 5,5 → id 3
    assert(got(1L) == ((3L, 3L, "carl", "A", Some(30L))))
    assert(got(2L) == ((1L, 4L, null, "C", Some(40L))))
    assert(got.size == 2)
  }
}
