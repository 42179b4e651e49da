package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.Corpus

class CorpusSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("withSplit is content-addressed: duplicate texts share a split") {
    val df = Seq((1L, "the quick brown fox"), (2L, "lorem ipsum dolor"),
      (3L, "the quick brown fox"), (4L, "lorem ipsum dolor"))
      .toDF("doc_id", "text")
    val s = Corpus.withSplit(df, "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("bucket"), r.getAs[String]("split"))).toMap
    assert(s(1L) == s(3L) && s(2L) == s(4L))
    s.values.foreach { case (b, label) =>
      assert(b >= 0 && b < 100)
      val expected = if (b < 90) "train" else if (b < 95) "val" else "test"
      assert(label == expected)
    }
  }

  test("withSplit rejects weights that do not sum to 100") {
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Corpus.withSplit(df, "text", Seq("train" -> 80, "test" -> 10))
    }
    assert(e.getMessage.contains("sum to 100"))
  }

  test("withSplit honors custom weight boundaries") {
    // bucket thresholds: a<50 → a, a<80 → b, else c
    val df = Seq.tabulate(200)(i => (i.toLong, s"document number $i"))
      .toDF("doc_id", "text")
    val rows = Corpus.withSplit(df, "text",
      Seq("a" -> 50, "b" -> 30, "c" -> 20)).collect()
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      val expected = if (b < 50) "a" else if (b < 80) "b" else "c"
      assert(r.getAs[String]("split") == expected)
    }
    // all three splits are populated on 200 hashed docs
    assert(rows.map(_.getAs[String]("split")).toSet == Set("a", "b", "c"))
  }

  test("sequencePack rejects nShards that would overflow pack_uid's shard bits") {
    val df = Seq((0L, 4L)).toDF("doc_id", "n_tokens")
    val e = intercept[IllegalArgumentException] {
      Corpus.sequencePack(df, "doc_id", "n_tokens", 256, 1 << 23)
    }
    assert(e.getMessage.contains("2^23"))
    // the largest legal shard count is accepted
    Corpus.sequencePack(df, "doc_id", "n_tokens", 256, (1 << 23) - 1)
  }

  test("sequencePack lays tokens end-to-end within each shard") {
    // one shard (nShards=1); ctx=10; docs of 4/6/3/10 tokens
    val df = Seq((0L, 4L), (1L, 6L), (2L, 3L), (3L, 10L))
      .toDF("doc_id", "n_tokens")
    val got = Corpus.sequencePack(df, "doc_id", "n_tokens", 10, 1)
      .orderBy("doc_id")
      .select("tok_start", "pack_first", "pack_last", "n_windows")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got(0) == (0L, 0L, 0L, 1L))   // tokens 0-3, window 0
    assert(got(1) == (4L, 0L, 0L, 1L))   // tokens 4-9 fill window 0 exactly
    assert(got(2) == (10L, 1L, 1L, 1L))  // tokens 10-12 start window 1
    assert(got(3) == (13L, 1L, 2L, 2L))  // tokens 13-22 straddle windows 1-2
  }

  test("sequencePack shards pack independently with globally unique ids") {
    val df = Seq.tabulate(20)(i => (i.toLong, 5L)).toDF("doc_id", "n_tokens")
    val got = Corpus.sequencePack(df, "doc_id", "n_tokens", 10, 4)
      .select("doc_id", "shard", "tok_start", "pack_uid").collect()
    got.foreach { r =>
      assert(r.getAs[Long]("shard") == r.getAs[Long]("doc_id") % 4)
      // 5 docs of 5 tokens per shard: offsets 0,5,10,15,20 in shard order
      assert(r.getAs[Long]("tok_start") == (r.getAs[Long]("doc_id") / 4) * 5)
      assert(r.getAs[Long]("pack_uid") ==
        r.getAs[Long]("shard") * (1L << 40) + r.getAs[Long]("tok_start") / 10)
    }
  }

  test("vocabulary breaks count ties by word, ascending") {
    val df = Seq((1L, "b a c a B"), (2L, "c d")).toDF("doc_id", "text")
    // lowercased counts: a=2, b=2, c=2, d=1
    val got = Corpus.vocabulary(df, "text", 3).collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("n_occurrences")))
    assert(got.toSeq == Seq(("a", 2L), ("b", 2L), ("c", 2L)))
  }

  test("vocabRichness: chao1 and Good-Turing from exact f1/f2") {
    val df = Seq(("g", "a b a c"), ("g", "d b"),
      ("u", "x x x"), ("u", "")).toDF("src", "text")
    val got = Corpus.vocabRichness(df, "src", "text").collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("vocab"),
          r.getAs[Long]("f1"), r.getAs[Long]("f2"),
          r.getAs[Double]("chao1"),
          r.getAs[Double]("unseen_mass")))).toMap
    // a=2 b=2 c=1 d=1: chao1 = 4 + 2*1/(2*(2+1)) = 4.333333,
    // next-token-is-new = 2/6
    assert(got("g") == ((6L, 4L, 2L, 2L, 4.333333, 0.333333)))
    // exhausted source: no singletons, chao1 = seen vocab, unseen 0
    assert(got("u") == ((3L, 1L, 0L, 0L, 1.0, 0.0)))
  }

  test("rakeWeights: both margins converge to targets, weights " +
      "reproduce the fitted joint, missing target key refuses") {
    import spark.implicits._
    val df = (Seq.fill(30)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
      Seq.fill(10)(("b", "x")) ++ Seq.fill(50)(("b", "y")))
      .toDF("r", "c")
    val got = Corpus.rakeWeights(df, "r", "c",
      Map("a" -> 500000L, "b" -> 500000L),
      Map("x" -> 500000L, "y" -> 500000L), iters = 8)
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getAs[Double]("p"), x.getAs[Double]("weight"))))
      .toMap
    def margin(f: ((String, String)) => String, k: String) =
      got.filter(kv => f(kv._1) == k).values.map(_._2).sum
    // after 8 alternations both margins sit at 50% (col step ran last,
    // so columns are exact; rows converged)
    assert(math.abs(margin(_._2, "x") - 0.5) < 1e-9)
    assert(math.abs(margin(_._1, "a") - 0.5) < 1e-3)
    // the dominant diagonal got up-weighted, the big (b,y) cell damped
    assert(got(("a", "x"))._3 > 1.0 && got(("b", "y"))._3 < 1.0)
    // weight ≡ p·N/n at 6dp
    got.foreach { case ((_, _), (n, p, w)) =>
      assert(math.abs(w - p * 100.0 / n) < 1e-5) }
    intercept[IllegalArgumentException] {
      Corpus.rakeWeights(df, "r", "c", Map("a" -> 1000000L),
        Map("x" -> 500000L, "y" -> 500000L))
    }
  }

  test("logOddsWords: shrinkage ranks evidence over ratio, sides split") {
    // corpus A says 'cat' a lot and 'dog' once; B reverses; both share
    // filler. 'rarew' appears once in A only - the raw ratio would
    // crown it, the prior shrinks it below the well-attested 'cat'.
    val a = Seq((1L, ("cat " * 30) + "dog rarew " + ("the and " * 20)))
      .toDF("doc_id", "text")
    val b = Seq((2L, ("dog " * 30) + "cat " + ("the and " * 20)))
      .toDF("doc_id", "text")
    val got = Corpus.logOddsWords(a, b, "text", minCount = 1,
        topK = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Double]("z")))
    val aSide = got.filter(_._1 == "a").map(_._2)
    val bSide = got.filter(_._1 == "b").map(_._2)
    assert(aSide.head == "cat", got.mkString(", "))
    assert(bSide.head == "dog", got.mkString(", "))
    assert(!aSide.contains("rarew") || aSide.indexOf("rarew") > 0)
    // z is antisymmetric in expectation: cat's z positive, dog's
    // negative
    assert(got.find(r => r._2 == "cat").get._3 > 0)
    assert(got.find(r => r._2 == "dog").get._3 < 0)
  }

  test("redactPii counts nested matches once, in category order") {
    val df = Seq(
      // the email-looking substring lives INSIDE a URL → counted as URL only
      (1L, "see https://x.io/a@b.com now"),
      (2L, "mail bob@corp.example or call 555-123-4567"),
      (3L, "host 192.168.0.1 up")).toDF("doc_id", "text")
    val (red, counts) = Corpus.redactPii(col("text"))
    val rows = df.select(
      col("doc_id") +: counts.map { case (n, c) => c.as(n) } :+ red.as("t"): _*)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Int]("n_url") == 1)
    assert(rows(1L).getAs[Int]("n_email") == 0)
    assert(rows(1L).getAs[String]("t") == "see <URL> now")
    assert(rows(2L).getAs[Int]("n_email") == 1)
    assert(rows(2L).getAs[Int]("n_phone") == 1)
    assert(rows(2L).getAs[String]("t") == "mail <EMAIL> or call <PHONE>")
    assert(rows(3L).getAs[Int]("n_ip") == 1)
    assert(rows(3L).getAs[String]("t") == "host <IP> up")
  }

  test("capPerKey keeps the first maxPerKey rows per key by the order column") {
    val df = Seq(
      (10L, "a"), (11L, "a"), (12L, "a"),
      (20L, "b"), (21L, "b"),
      (30L, "c")).toDF("doc_id", "source")
    val got = Corpus.capPerKey(df, "source", 2, "doc_id", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source")))
    assert(got.toSeq == Seq((10L, "a"), (11L, "a"), (20L, "b"), (21L, "b"),
      (30L, "c")))
    // helper column does not leak into the output schema
    assert(Corpus.capPerKey(df, "source", 2, "doc_id", "doc_id")
      .columns.toSeq == Seq("doc_id", "source"))
  }

  test("capPerKey ties on the order column break deterministically by id") {
    // every row of key "a" shares score=5: without the id tie-break,
    // survivorship would be partition-order luck. Run the cap over two
    // differently-shuffled layouts of the same data — identical survivors.
    val rows = Seq(
      (14L, "a", 5L), (11L, "a", 5L), (13L, "a", 5L), (12L, "a", 5L),
      (20L, "b", 9L), (21L, "b", 1L), (22L, "b", 1L))
    def survivors(seed: Seq[(Long, String, Long)]): Seq[Long] =
      Corpus.capPerKey(
        seed.toDF("doc_id", "source", "score").repartition(7),
        "source", 2, "score", "doc_id")
        .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    val a = survivors(rows)
    val b = survivors(rows.reverse)
    // ties resolve to the LOWEST ids; both shuffled runs agree
    assert(a == Seq(11L, 12L, 21L, 22L))
    assert(b == a)
  }

  test("capPerKey rejects a non-positive quota") {
    val df = Seq((1L, "a")).toDF("doc_id", "source")
    val e = intercept[IllegalArgumentException] {
      Corpus.capPerKey(df, "source", 0, "doc_id", "doc_id")
    }
    assert(e.getMessage.contains(">= 1"))
  }

  test("capPerKey window is hash-partitioned by key, never single-partition") {
    val df = Seq.tabulate(8)(i => (i.toLong, s"s${i % 3}"))
      .toDF("doc_id", "source")
    val plan = Corpus.capPerKey(df, "source", 2, "doc_id", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(source"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("stratifiedSample keeps exactly n per stratum, layout-independent") {
    val rows = Seq.tabulate(20)(i => (i.toLong, s"s${i % 2}", s"text $i"))
    def run(seed: Seq[(Long, String, String)]): Seq[Long] =
      Corpus.stratifiedSample(
        seed.toDF("doc_id", "source", "text").repartition(5),
        "source", 3, "text", "doc_id")
        .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    val a = run(rows)
    assert(a == run(rows.reverse), "survivors must not depend on layout")
    assert(a.size == 6)
    // a stratum smaller than n survives whole
    val small = Seq((1L, "x", "t1"), (2L, "x", "t2"))
      .toDF("doc_id", "source", "text")
    assert(Corpus.stratifiedSample(small, "source", 5, "text", "doc_id")
      .count() == 2)
  }

  test("stratifiedSample is content-addressed: same texts, same sample") {
    // two strata with IDENTICAL text sets but disjoint ids select the
    // same TEXTS — the hash rank is a function of content, not id
    val rows = (0 until 12).map(i => (i.toLong, "p", s"doc ${i % 6}")) ++
      (100 until 112).map(i => (i.toLong, "q", s"doc ${i % 6}"))
    val got = Corpus.stratifiedSample(
      rows.toDF("doc_id", "source", "text"), "source", 4, "text", "doc_id")
      .collect().groupBy(_.getAs[String]("source"))
      .map { case (k, v) => k -> v.map(_.getAs[String]("text")).sorted.toSeq }
    assert(got("p") == got("q"))
  }

  test("tokenizeToIds: rank ids, OOV 0, empty text, shuffle-free plan") {
    // corpus counts: "the"×4, "cat"×2, "dog"×1 → ids the=1, cat=2, dog=3
    val df = Seq(
      (1L, "the cat the dog"),
      (2L, "THE the cat"),
      (3L, ""),
      (4L, "unseen the")).toDF("doc_id", "text")
    val got = Corpus.tokenizeToIds(df, "doc_id", "text", vocabSize = 2)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toSeq).toMap
    // vocabSize=2 keeps the(1), cat(2); dog and unseen → OOV 0
    assert(got(1L) == Seq(1L, 2L, 1L, 0L))
    assert(got(2L) == Seq(1L, 1L, 2L), "tokenization is case-folded")
    assert(got(3L) == Seq())
    assert(got(4L) == Seq(0L, 1L))
    // the literal vocab map keeps the tokenization itself per-row
    val plan = Corpus.tokenizeToIds(df, "doc_id", "text", 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("ngramLmCounts: occurrence-weighted bigrams with exact prefix counts") {
    val df = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x")).toDF("id", "text")
    val got = Corpus.ngramLmCounts(df, "text", n = 2, topK = 10)
      .collect()
      .map(r => r.getAs[String]("gram") ->
        (r.getAs[String]("prefix"), r.getAs[Long]("n_gram"),
          r.getAs[Long]("n_prefix"))).toMap
    // "a b" occurs 3× (twice in doc1 — occurrences, not distinct), "b a" 1×
    assert(got("a b") == (("a", 3L, 3L)))
    assert(got("b a") == (("b", 1L, 1L)))
    assert(got.size == 2, "the 1-token doc contributes nothing")
    // trigram order: prefix is the leading (n-1)-gram
    val tri = Corpus.ngramLmCounts(
      Seq((1L, "a b c d")).toDF("id", "text"), "text", n = 3, topK = 10)
      .collect().map(r => r.getAs[String]("gram") ->
        r.getAs[String]("prefix")).toMap
    assert(tri == Map("a b c" -> "a b", "b c d" -> "b c"))
  }

  test("rankNormalize: ties share a percent rank within their key") {
    val df = Seq(("a", 10L, 1L), ("a", 20L, 2L), ("a", 20L, 3L),
      ("a", 30L, 4L), ("b", 7L, 5L)).toDF("k", "v", "id")
    val got = Corpus.rankNormalize(df, "k", "v")
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Double]("pct_rank")).toMap
    assert(got(1L) == 0.0)
    assert(got(2L) == got(3L) && math.abs(got(2L) - 1.0 / 3) < 1e-15)
    assert(got(4L) == 1.0)
    assert(got(5L) == 0.0, "singleton key ranks 0")
  }

  test("filterByQuantile keeps rows at/above the per-key exact quantile") {
    // key a: 1..10, q=0.8 → threshold 0.8·(n-1)+1 = 8.2 → keep 9, 10;
    // key b: all equal → threshold = value → everything survives
    val df = ((1 to 10).map(i => ("a", i.toLong)) ++
      Seq(("b", 5L), ("b", 5L), ("b", 5L))).toDF("k", "v")
    val got = Corpus.filterByQuantile(df, "k", "v", 0.8)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("v")))
      .sorted.toSeq
    assert(got == Seq(("a", 9L), ("a", 10L), ("b", 5L), ("b", 5L), ("b", 5L)))
    // threshold table broadcasts — no data-sized shuffle join
    val plan = Corpus.filterByQuantile(df, "k", "v", 0.8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("stratifiedSample plan: per-key window with map-side group limit") {
    val df = Seq.tabulate(8)(i => (i.toLong, s"s${i % 3}", s"t$i"))
      .toDF("doc_id", "source", "text")
    val plan = Corpus.stratifiedSample(df, "source", 2, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(source"), plan)
    assert(!plan.contains("SinglePartition"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("sequencePack plan has no single-partition global window") {
    // the window must be hash-partitioned on the shard column — a missing
    // partitionBy would serialize the 100 TB cumsum through one task
    val df = Seq.tabulate(8)(i => (i.toLong, 5L)).toDF("doc_id", "n_tokens")
    val plan = Corpus.sequencePack(df, "doc_id", "n_tokens", 10, 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(shard"), plan)
  }

  test("selectByTokenBudget keeps the best prefix within budget per key") {
    val df = Seq(
      // key a: quality order 10(40tok), 11(50tok), 12(20tok)
      (10L, "a", 40L, 9.0), (11L, "a", 50L, 8.0), (12L, "a", 20L, 7.0),
      // key b: one doc alone overflows the budget
      (20L, "b", 200L, 9.0), (21L, "b", 30L, 8.0)
    ).toDF("doc_id", "source", "n_tok", "quality")
    val got = Corpus.selectByTokenBudget(
      df, "source", "n_tok", "quality", 100L, "doc_id")
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    // a: 40 + 50 = 90 <= 100; adding 20 would hit 110 — greedy prefix
    // stops (no backfill). b: 200 overflows immediately; 30 after an
    // overflow is NOT reconsidered (prefix semantics)
    assert(got == Seq(10L, 11L))
    // helper column does not leak
    assert(Corpus.selectByTokenBudget(df, "source", "n_tok", "quality",
      100L, "doc_id").columns.toSeq ==
      Seq("doc_id", "source", "n_tok", "quality"))
    // the cumsum window is hash-partitioned by key
    val plan = Corpus.selectByTokenBudget(df, "source", "n_tok", "quality",
      100L, "doc_id").queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(source"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("sampleMixture: whole epochs, fractional bucket, drop, determinism") {
    val df = Seq(
      (1L, "drop", "alpha"), (2L, "half", "beta"), (3L, "half", "gamma"),
      (4L, "triple", "delta"), (5L, "other", "epsilon"),
      (6L, "half", "beta") // duplicate text of doc 2: must sample identically
    ).toDF("doc_id", "source", "text")
    val out = Corpus.sampleMixture(df, "source", "text",
      Map("drop" -> 0.0, "half" -> 0.5, "triple" -> 3.0))
    val rows = out.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("epoch")))
    val byId = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // weight 0 drops; weight 3.0 emits epochs 0,1,2; default weight 1
    assert(!byId.contains(1L))
    assert(byId(4L) == Seq(0L, 1L, 2L))
    assert(byId(5L) == Seq(0L))
    // fractional weight keeps a doc iff its CONTENT bucket clears the
    // remainder — docs 2 and 6 share a text, so they sample identically
    assert(byId.get(2L) == byId.get(6L))
    // deterministic across runs
    val again = out.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("epoch")))
    assert(rows.sorted.toSeq == again.sorted.toSeq)
  }

  test("sampleMixture is a shuffle-free per-row plan") {
    val df = Seq((1L, "a", "x")).toDF("doc_id", "source", "text")
    val plan = Corpus.sampleMixture(df, "source", "text", Map("a" -> 2.5))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("sampleMixture rejects negative weights") {
    val df = Seq((1L, "a", "x")).toDF("doc_id", "source", "text")
    val e = intercept[IllegalArgumentException] {
      Corpus.sampleMixture(df, "source", "text", Map("a" -> -0.1))
    }
    assert(e.getMessage.contains(">= 0"))
  }

  test("tfidfKeywords: hand-computed scores, rank-limit pruning in the plan") {
    // 3 docs; "rare" appears in 1 doc, "both" in 2, "all" in 3.
    val df = Seq(
      (1L, "all both rare rare"),
      (2L, "all both"),
      (3L, "all")).toDF("doc_id", "text")
    val out = Corpus.tfidfKeywords(df, "doc_id", "text", 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("word"),
        r.getAs[Long]("tf"), r.getAs[Long]("df"),
        r.getAs[Double]("score"), r.getAs[Int]("rank"))).toSet
    // doc1: rare tf=2 df=1 → 2*3/1=6 (rank1); both tf=1 df=2 → 1.5 (rank2);
    //       "all" (tf=1 df=3 → 1.0) misses the top-2 cut
    assert(out == Set(
      (1L, "rare", 2L, 1L, 6.0, 1),
      (1L, "both", 1L, 2L, 1.5, 2),
      (2L, "both", 1L, 2L, 1.5, 1),
      (2L, "all", 1L, 3L, 1.0, 2),
      (3L, "all", 1L, 3L, 1.0, 1)))
    // the rank<=k filter must reach the window as a group limit so hot
    // documents prune map-side instead of sorting every term
    val plan = Corpus.tfidfKeywords(df, "doc_id", "text", 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    // the vocabulary-sized doc-frequency side broadcasts — the corpus
    // never shuffles to meet it
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("unigramStats: exact rarity + logprob on a hand-checked corpus") {
    // corpus: 4 tokens total; "a" ×3, "z" ×1
    val df = Seq((1L, "a a z"), (2L, "a")).toDF("doc_id", "text")
    val out = Corpus.unigramStats(df, "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("mean_inv_freq"), r.getAs[Double]("mean_logprob")))
      .sortBy(_._1)
    // doc1: (2·(4/3) + 1·(4/1))/3 = 20/9 ≈ 2.222222;
    //       (2·ln(3/4) + 1·ln(1/4))/3 ≈ -0.653886
    // doc2: 4/3 ≈ 1.333333; ln(3/4) ≈ -0.287682
    assert(out(0)._1 == 1L && out(0)._2 == 3L)
    assert(math.abs(out(0)._3 - 2.222222) < 1e-6)
    assert(math.abs(out(0)._4 - -0.653886) < 1e-6)
    assert(out(1)._1 == 2L && out(1)._2 == 1L)
    assert(math.abs(out(1)._3 - 1.333333) < 1e-6)
    assert(math.abs(out(1)._4 - -0.287682) < 1e-6)
  }

  test("invertedIndex: sorted postings, df cutoff drops stopword terms") {
    val df = Seq(
      (3L, "the cat sat"), (1L, "the dog ran"), (2L, "the cat ran fast"))
      .toDF("doc_id", "text")
    val out = Corpus.invertedIndex(df, "doc_id", "text", maxDf = 2)
      .collect().map(r => r.getAs[String]("word") ->
        (r.getAs[Long]("df"), r.getSeq[Long](r.fieldIndex("postings"))))
      .toMap
    assert(!out.contains("the"))              // df=3 > cutoff
    assert(out("cat") == ((2L, Seq(2L, 3L)))) // sorted, not input order
    assert(out("ran") == ((2L, Seq(1L, 2L))))
    assert(out("sat") == ((1L, Seq(3L))))
    assert(out("fast") == ((1L, Seq(2L))))
    assert(out("dog") == ((1L, Seq(1L))))
  }

  test("invertedIndex counts a repeated word once per document") {
    val df = Seq((1L, "echo echo echo"), (2L, "echo other"))
      .toDF("doc_id", "text")
    val out = Corpus.invertedIndex(df, "doc_id", "text", maxDf = 10)
      .collect().map(r => r.getAs[String]("word") ->
        r.getAs[Long]("df")).toMap
    assert(out("echo") == 2L)
  }

  test("mixtureWeights: α-tempering up-samples the small source") {
    // tokens a=100, b=900; α=0.5 → pw 10, 30 → shares 0.25 / 0.75
    val df = Seq(("a", 100L), ("b", 500L), ("b", 400L))
      .toDF("source", "n_tok")
    val m = Corpus.mixtureWeights(df, "source", "n_tok", 0.5)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Double]("nat_share"), r.getAs[Double]("alpha_share"),
          r.getAs[Double]("multiplier"))).toMap
    assert(m("a") == ((1L, 100L, 0.1, 0.25, 2.5)))
    assert(m("b")._1 == 2L && m("b")._2 == 900L)
    assert(m("b")._3 == 0.9 && m("b")._4 == 0.75)
    assert(math.abs(m("b")._5 - 0.833333) < 1e-9)
    // α = 1 is the natural distribution: every multiplier 1
    val nat = Corpus.mixtureWeights(df, "source", "n_tok", 1.0)
      .collect().map(_.getAs[Double]("multiplier"))
    assert(nat.forall(_ == 1.0))
    val e = intercept[IllegalArgumentException] {
      Corpus.mixtureWeights(df, "source", "n_tok", 0.0)
    }
    assert(e.getMessage.contains("alpha"))
  }

  test("bm25TopK: zero-tf docs score 0, present terms rank by tf and dl") {
    val df = Seq(
      (1L, "join join join pad pad"),          // tf=3, short
      (2L, "join pad pad pad pad pad pad pad pad pad"), // tf=1, long
      (3L, "pad pad pad pad pad"))             // tf=0
      .toDF("doc_id", "text")
    val rows = Corpus.bm25TopK(df, "doc_id", "text", Seq("join"), topK = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rank")))
    val byId = rows.map(r => r._1 -> r._2).toMap
    assert(byId(3L) == 0.0)                   // absent term contributes 0
    assert(byId(1L) > byId(2L))               // higher tf + shorter doc
    assert(rows.sortBy(_._3).map(_._1).toSeq == Seq(1L, 2L, 3L))
  }

  test("bm25TopK sums terms in query order and respects topK") {
    val df = Seq((1L, "a b"), (2L, "a a"), (3L, "b b"), (4L, "c c"))
      .toDF("doc_id", "text")
    val out = Corpus.bm25TopK(df, "doc_id", "text", Seq("a", "b"), topK = 2)
      .collect()
    assert(out.length == 2)
    // doc 1 matches both terms; single-term docs score lower
    assert(out.map(_.getAs[Long]("doc_id")).contains(1L))
  }

  test("weightedSample is reproducible and weight-sensitive") {
    val df = Seq.tabulate(100)(i =>
      (i.toLong, "k", if (i < 10) 1000000L else 1L))
      .toDF("doc_id", "source", "w")
    val pick = Corpus.weightedSample(df, "source", "w", "doc_id", k = 8)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // heavy rows (ids 0-9, weight 1e6) dominate the smallest priorities
    assert(pick.count(_ < 10) >= 7)
    // identical under re-partitioning: selection is content-addressed
    val pick2 = Corpus.weightedSample(df.repartition(7), "source", "w",
      "doc_id", k = 8).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(pick == pick2)
    assert(Corpus.weightedSample(df, "source", "w", "doc_id", 8)
      .columns.toSeq == Seq("doc_id", "source", "w"))
  }

  test("chunkDocuments: short doc = one chunk; overlap and tail are exact") {
    val text10 = (1 to 10).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text10), (2L, "a b c")).toDF("doc_id", "text")
    val rows = Corpus.chunkDocuments(df, "doc_id", "text",
      window = 4, stride = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_idx"), r.getAs[Long]("start"),
        r.getAs[Long]("n_tokens"), r.getAs[String]("chunk_text")))
    val d1 = rows.filter(_._1 == 1L).sortBy(_._2)
    // n=10, w=4, s=3 → ceil((10-4)/3)+1 = 3 chunks at 0,3,6
    assert(d1.map(c => (c._3, c._4)).toSeq ==
      Seq((0L, 4L), (3L, 4L), (6L, 4L)))
    assert(d1.head._5 == "w1 w2 w3 w4")
    assert(d1.last._5 == "w7 w8 w9 w10")
    val d2 = rows.filter(_._1 == 2L)
    assert(d2.length == 1 && d2.head._4 == 3L && d2.head._5 == "a b c")
  }

  test("winsorize clamps tails into the per-key band, preserves rows") {
    // key a: values 0..10 → p0=0, p1=10 with loQ=0.2 → 2.0, hiQ=0.8 → 8.0
    val df = (0 to 10).map(i => ("a", i.toLong, i)).toDF("k", "id", "v")
    val got = Corpus.winsorize(df, "k", "v", 0.2, 0.8)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("v_w"), r.getAs[Double]("band_lo"),
          r.getAs[Double]("band_hi"))).toMap
    assert(got.size == 11, "row-preserving")
    assert(got(0L)._1 == 2.0 && got(1L)._1 == 2.0)   // low tail clamped
    assert(got(5L)._1 == 5.0)                        // interior untouched
    assert(got(9L)._1 == 8.0 && got(10L)._1 == 8.0)  // high tail clamped
    assert(got(0L)._2 == 2.0 && got(0L)._3 == 8.0)
  }

  test("winsorize: an all-equal key degenerates to the identity") {
    val df = Seq(("k", 1L, 7), ("k", 2L, 7), ("k", 3L, 7))
      .toDF("k", "id", "v")
    val got = Corpus.winsorize(df, "k", "v", 0.1, 0.9).collect()
    assert(got.forall(_.getAs[Double]("v_w") == 7.0))
  }

  test("chunkDocuments emits a short final window when the tail binds") {
    val df = Seq((1L, (1 to 11).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = Corpus.chunkDocuments(df, "doc_id", "text", 4, 3)
      .collect().sortBy(_.getAs[Int]("chunk_idx"))
    // n=11 → ceil(7/3)+1 = 4 chunks; the last starts at 9 with 2 tokens
    assert(rows.length == 4)
    assert(rows.last.getAs[Long]("start") == 9L)
    assert(rows.last.getAs[Long]("n_tokens") == 2L)
  }

  test("balanceClasses: exact-equal class sizes, deterministic extras") {
    // a×3, b×2 → target 3: every a row once; b gets base 1 + ONE extra
    // copy on the hash-first row — totals exactly equal
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"), (10L, "b"), (11L, "b"))
      .toDF("id", "cls")
    val out = Corpus.balanceClasses(df, "cls", "id")
    val byClass = out.groupBy("cls").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byClass == Map("a" -> 3L, "b" -> 3L))
    // copy ordinals: the doubled b row has copies 1 and 2
    val doubled = out.filter(col("cls") === "b")
      .groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(doubled.values.toSeq.sorted == Seq(1L, 2L))
    // determinism: identical output across a reshuffled input
    val again = Corpus.balanceClasses(df.repartition(5), "cls", "id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[Long]("copy"))).toSet
    assert(again == out.collect().map(r => (r.getLong(0), r.getString(1),
      r.getAs[Long]("copy"))).toSet)
  }

  test("bpePairCounts: word-frequency-weighted adjacent char pairs") {
    // "ab" appears twice (weight 2), "aab" once → (a,b): 2+1 = 3,
    // (a,a): 1, (c,d): 1; 1-char words are skipped
    val df = Seq("ab cd x", "ab aab").toDF("text")
    val got = Corpus.bpePairCounts(df, "text", topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Int]("rank"))).toMap
    assert(got(("a", "b")) == ((3L, 1)))
    assert(got(("a", "a")) == ((1L, 2))) // count tie → pair-lexicographic
    assert(got(("c", "d")) == ((1L, 3)))
    assert(got.size == 3)
  }

  test("kAnonymize suppresses sub-k quasi-identifier groups entirely") {
    val df = Seq(
      (1L, "en", "web"), (2L, "en", "web"), (3L, "en", "web"), // n=3
      (4L, "en", "book"), (5L, "en", "book"),                  // n=2
      (6L, "fr", "web")).toDF("id", "lang", "src")             // n=1
    val got = Corpus.kAnonymize(df, Seq("lang", "src"), k = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Long]("group_n")).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 2L, 5L -> 2L))
    // k above every group size suppresses the whole table, never errors
    assert(Corpus.kAnonymize(df, Seq("lang", "src"), k = 10).count() == 0)
  }

  test("collocations: hand-computed phrase flags, integer cross-multiplied score") {
    // corpus: "new york new york" + "in new york"
    // unigrams: new=3 york=3 in=1, N=7; bigrams: (new,york)=3,
    // (york,new)=1, (in,new)=1. With delta=1, threshold 1/1:
    // phrase iff (c12-1)*7 > c1*c2 → only (new,york): 2*7=14 > 9
    val df = Seq("new york new york", "in new york").toDF("text")
    val got = Corpus.collocations(df, "text", minCount = 1, delta = 1,
        thresholdNum = 1, thresholdDen = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_pair"), r.getAs[Long]("n_w1"),
         r.getAs[Long]("n_w2"), r.getAs[Boolean]("phrase"))).toMap
    assert(got(("new", "york")) == ((3L, 3L, 3L, true)))
    assert(got(("york", "new")) == ((1L, 3L, 3L, false)))
    assert(got(("in", "new")) == ((1L, 1L, 3L, false)))
    assert(got.size == 3)
    // minCount prunes the accidental tail before any join
    assert(Corpus.collocations(df, "text", minCount = 2, delta = 0,
      thresholdNum = 1, thresholdDen = 1).count() == 1)
  }

  test("lexicalDiversity: tokens, types, hapax per key") {
    val df = Seq(("a", "x x y"), ("b", "p q r"), ("a", "x z"))
      .toDF("src", "text")
    val got = Corpus.lexicalDiversity(df, "src", "text")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_types"),
         r.getAs[Long]("n_hapax"))).toMap
    // a: tokens x,x,y,x,z → 5 tokens, 3 types, hapax {y,z}
    assert(got("a") == ((5L, 3L, 2L)))
    assert(got("b") == ((3L, 3L, 3L)))
  }

  test("vocabCoverage: smallest covering vocab per threshold, distributed prefix sum") {
    try {
      // a×5 b×3 c×1 d×1, total 10
      val df = Seq("a a a a a", "b b b c", "d").toDF("text")
      val got = Corpus.vocabCoverage(df, "text", Seq(50, 80, 95))
        .collect().map(r => r.getAs[Int]("pct") ->
          (r.getAs[Long]("vocab_size"), r.getAs[Long]("covered_tokens"),
           r.getAs[Long]("total_tokens"))).toMap
      assert(got(50) == ((1L, 5L, 10L)))   // a alone hits exactly 50%
      assert(got(80) == ((2L, 8L, 10L)))   // a+b hit exactly 80%
      assert(got(95) == ((4L, 10L, 10L)))  // needs the full vocab
      // scale assert: every window in the plan is PARTITIONED — the
      // global-order running-sum single-partition shape is banned
      val windows = Corpus.vocabCoverage(df, "text", Seq(90))
        .queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
            w.partitionSpec
        }
      assert(windows.nonEmpty && windows.forall(_.nonEmpty),
        s"unpartitioned window in vocabCoverage plan: $windows")
    } finally graft.ops.Caches.releaseAll()
  }

  test("gazetteerMatch: overlapping counts, case fold, sub-length docs") {
    val df = Seq(
      (1L, "aa aa aa bb cc"), // "aa aa" twice (overlapping), "bb" once
      (2L, "AA bb"),          // case-folded single-token hit
      (3L, "zz"))             // shorter than every multi-token phrase
      .toDF("id", "text")
    val got = Corpus.gazetteerMatch(df, "id", "text",
        Seq("aa aa", "bb", "aa aa bb"))
      .collect()
      .map(r => ((r.getAs[Long]("id"), r.getAs[String]("phrase")),
        r.getAs[Long]("n"))).toMap
    assert(got == Map(
      (1L, "aa aa") -> 2L,    // sliding positions 1 and 2
      (1L, "bb") -> 1L,
      (1L, "aa aa bb") -> 1L,
      (2L, "bb") -> 1L), s"got $got")
  }

  test("lmScore: add-one unigram negative log-prob, exact OOV counts") {
    val train = Seq("a a b", "b c").toDF("text")    // a:2 b:2 c:1, N=5 V=3
    val score = Seq((1L, "a b z"), (2L, "c c"), (3L, "B A"))
      .toDF("id", "text")
    val got = Corpus.lmScore(score, "id", "text", train, "text")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Double]("avg_neg_logprob")))).toMap
    val ln9 = math.log(9.0)
    def rnd(x: Double) = math.round(x * 1e6) / 1e6
    assert(got(1L)._1 == 3L && got(1L)._2 == 1L)
    assert(got(1L)._3 == rnd((3 * ln9 - 2 * math.log(3.0)) / 3))
    assert(got(2L) == ((2L, 0L, rnd(ln9 - math.log(2.0)))))
    // case folding: "B A" scores like "b a"; all in-vocabulary
    assert(got(3L)._2 == 0L)
    assert(got(3L)._3 == rnd(ln9 - math.log(3.0)))
    // frequent-token text scores LOWER (less surprising) than OOV text
    assert(got(3L)._3 < got(1L)._3)
    graft.ops.Caches.releaseAll()
  }

  test("knScore: interpolated KN bigram — discount, backoff, BOS, exact OOV") {
    val train = Seq("a b a", "b a").toDF("text")
    // pairs: ("",a):1 (a,b):1 (b,a):2 ("",b):1 — B=4 types, V=2 (w2∈{a,b})
    // ctx: "" -> (c1=2, n1f=2), a -> (1,1), b -> (2,1)
    // cont: a -> 2, b -> 2; smoothing den = B+V+1 = 7
    val score = Seq((1L, "a b c"), (2L, ""), (3L, "z a"))
      .toDF("id", "text")
    val got = Corpus.knScore(score, "id", "text", train, "text")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Double]("avg_neg_logprob")))).toMap
    def rnd(x: Double) = math.round(x * 1e6) / 1e6
    val pcA = 3.0 / 7; val pcB = 3.0 / 7; val pcUnk = 1.0 / 7
    // ("",a): discounted 0.25/2 + interpolation (0.75·2/2)·pc(a)
    val p1 = 0.25 / 2 + 0.75 * 2 / 2 * pcA
    val p2 = 0.25 / 1 + 0.75 * 1 / 1 * pcB        // (a,b)
    val p3 = 0.0 + 0.75 * 1 / 2 * pcUnk           // (b,c): unseen bigram
    assert(got(1L)._1 == 3L && got(1L)._2 == 1L)
    assert(got(1L)._3 ==
      rnd((-math.log(p1) - math.log(p2) - math.log(p3)) / 3))
    // empty doc: no token pairs, no row (the lmScore contract)
    assert(!got.contains(2L))
    // ("",z): OOV continuation under a seen BOS context;
    // (z,a): UNSEEN context -> full backoff to p_cont(a)
    val q1 = 0.0 + 0.75 * 2 / 2 * pcUnk
    val q2 = pcA
    assert(got(3L) == ((2L, 1L,
      rnd((-math.log(q1) - math.log(q2)) / 2))))
    graft.ops.Caches.releaseAll()
  }

  test("dsirWeights ≡ reference hashed-unigram importance; signs sensible") {
    import graft.functions.HashImpls
    val B = 16
    val raw = Seq((1L, "alpha beta alpha"), (2L, "zz yy xx ww"),
      (3L, "alpha beta gamma"))
    val tgt = Seq("alpha beta gamma", "alpha gamma")
    def toks(s: String) = s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    def bk(w: String) = HashImpls.polyHash(w) % B
    val ct = tgt.flatMap(toks).groupBy(bk).map { case (k, v) => k -> v.size }
    val cr = raw.flatMap(r => toks(r._2)).groupBy(bk)
      .map { case (k, v) => k -> v.size }
    val nT = tgt.flatMap(toks).size
    val nR = raw.flatMap(r => toks(r._2)).size
    val const = math.log((nR + B).toDouble) - math.log((nT + B).toDouble)
    val want = raw.map { case (id, t) =>
      val ts = toks(t)
      val s = ts.map(w => math.log(ct.getOrElse(bk(w), 0) + 1.0)
        - math.log(cr(bk(w)) + 1.0)).sum
      id -> (ts.size.toLong, math.round((s + ts.size * const) * 1e6) / 1e6)
    }.toMap
    val got = Corpus.dsirWeights(raw.toDF("id", "text"), "id", "text",
        tgt.toDF("text"), "text", numBuckets = B)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("log_w")))).toMap
    for ((id, (n, w)) <- want)
      assert(got(id)._1 == n && math.abs(got(id)._2 - w) < 2e-6,
        s"doc $id: got ${got(id)} want ($n, $w)")
    // target-looking text must outscore the disjoint-vocabulary doc
    assert(got(3L)._2 > got(2L)._2)
    graft.ops.Caches.releaseAll()
  }

  test("exactStratifiedSplit: largest-remainder sizes, content-addressed, order-free") {
    // stratum a: 7 rows at 50/30/20 → bases 3/2/1, leftover 1 goes to
    // the LARGEST remainder (50→rem 50 beats 20→rem 40 beats 30→rem 10)
    // → 4/2/1; stratum b: 10 rows → exact 5/3/2, no leftover
    val rows = (1L to 7L).map(i => (i, "a", s"doc a $i")) ++
      (11L to 20L).map(i => (i, "b", s"doc b $i"))
    val df = rows.toDF("id", "src", "text")
    val w = Seq(("s1", 50), ("s2", 30), ("s3", 20))
    val got = Corpus.exactStratifiedSplit(df, "src", "text", "id", w)
    val sizes = got.groupBy("src", "split").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(sizes == Map(("a", "s1") -> 4L, ("a", "s2") -> 2L,
      ("a", "s3") -> 1L, ("b", "s1") -> 5L, ("b", "s2") -> 3L,
      ("b", "s3") -> 2L), s"got $sizes")
    // every row assigned exactly once
    assert(got.count() == 17 && got.select("id").distinct().count() == 17)
    // assignment is CONTENT-addressed: a shuffled input reproduces it
    val shuffled = rows.reverse.toDF("id", "src", "text").repartition(5)
    val a1 = got.collect().map(r => r.getAs[Long]("id") ->
      r.getAs[String]("split")).toMap
    val a2 = Corpus.exactStratifiedSplit(shuffled, "src", "text", "id", w)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("split"))
      .toMap
    assert(a1 == a2)
    // weights must sum to 100
    intercept[IllegalArgumentException] {
      Corpus.exactStratifiedSplit(df, "src", "text", "id",
        Seq(("x", 60), ("y", 20)))
    }
  }

  test("gazetteerMatchAC ≡ gazetteerMatch (fail links, suffix phrases, overlaps)") {
    // dictionary chosen so fail/output links matter: "b" is a suffix of
    // "a b", "b a" overlaps "a b" at every other token
    val dict = Seq("a b", "b", "a b a", "b a", "c c")
    val docs = Seq(
      (1L, "a b a b a"),   // "a b"×2, "b"×2, "a b a"×2, "b a"×2
      (2L, "b b b"),
      (3L, "c c c"),       // "c c"×2 overlapping
      (4L, "x y z"),
      (5L, "A B a")) ++    // case fold
      (6L to 40L).map(i => (i, s"w${i % 5} a b w${i % 3} b a c"))
    val df = docs.toDF("id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id"), r.getAs[String]("phrase")) -> r.getAs[Long]("n")
    val viaExplode = Corpus.gazetteerMatch(df, "id", "text", dict)
      .collect().map(key).toMap
    val viaAc = Corpus.gazetteerMatchAC(df, "id", "text", dict)
      .collect().map(key).toMap
    assert(viaAc == viaExplode, s"ac $viaAc vs explode $viaExplode")
    // spot-check the overlap arithmetic on doc 1
    assert(viaExplode((1L, "a b")) == 2L)
    assert(viaExplode((1L, "a b a")) == 2L)
    assert(viaExplode((1L, "b")) == 2L)
  }

  test("kAnonymize: NULL quasi values group together and survive at k") {
    // groupBy treats NULL as a value, so the join-back must be
    // null-safe: the (null, web) pair reaches k=2 and must be KEPT
    val df = Seq(
      (1L, Option.empty[String], Some("web")),
      (2L, Option.empty[String], Some("web")),      // n=2 with nulls
      (3L, Option.empty[String], Option.empty[String]), // n=1, all-null
      (4L, Some("en"), Some("web"))).toDF("id", "lang", "src") // n=1
    val got = Corpus.kAnonymize(df, Seq("lang", "src"), k = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Long]("group_n")).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L))
  }

  test("chi2Keywords: hand-computed 2x2 contingencies, minDf, ranks") {
    import spark.implicits._
    // 'apple' exclusive to A, 'dog' exclusive to B → χ² = 4·(2·2)²/2⁴ =
    // 4.0; 'banana' spread evenly → χ² = 0; 'cherry'/'egg' are hapax
    // (df=1) and minDf=2 drops them before scoring
    val df = Seq(
      (1L, "A", "apple banana"), (2L, "A", "apple cherry"),
      (3L, "B", "dog banana"), (4L, "B", "dog egg")
    ).toDF("doc_id", "cls", "text")
    val got = Corpus.chi2Keywords(df, "doc_id", "cls", "text",
        topK = 5, minDf = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n11"), r.getAs[Long]("df"),
          r.getAs[Long]("class_n"), r.getAs[Long]("n_docs"),
          r.getAs[Double]("chi2"), r.getAs[Int]("rank")))).toMap
    assert(got(("A", "apple")) == ((2L, 2L, 2L, 4L, 4.0, 1)))
    assert(got(("A", "banana")) == ((1L, 2L, 2L, 4L, 0.0, 2)))
    assert(got(("B", "dog")) == ((2L, 2L, 2L, 4L, 4.0, 1)))
    assert(got(("B", "banana")) == ((1L, 2L, 2L, 4L, 0.0, 2)))
    assert(got.size == 4) // hapax words never scored
    // a word present in EVERY doc has a degenerate margin — dropped
    val df2 = Seq((1L, "A", "the cat"), (2L, "B", "the dog"),
      (3L, "A", "the cat"), (4L, "B", "the dog")).toDF("doc_id", "cls", "text")
    val words2 = Corpus.chi2Keywords(df2, "doc_id", "cls", "text",
        topK = 5, minDf = 2)
      .collect().map(_.getString(1)).toSet
    assert(!words2.contains("the"))
    assert(words2 == Set("cat", "dog"))
  }

  test("chi2Keywords plan: WindowGroupLimit prunes the per-class rank") {
    val full = spark.read.parquet(
      "/root/testdata/sf0.001/documents.parquet")
    val plan = Corpus.chi2Keywords(full, "doc_id", "source", "text",
        topK = 5, minDf = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("jsDivergence: 0 for identical, ln 2 for disjoint, hand case") {
    val a = Seq((1L, "x y"), (2L, "x z")).toDF("doc_id", "text")
    val same = Corpus.jsDivergence(a, a, "text").collect()
    assert(same.nonEmpty)
    assert(same.forall(_.getAs[Double]("term") == 0.0))
    assert(same.forall(_.getAs[Double]("jsd") == 0.0))

    val b = Seq((3L, "p q"), (4L, "p r")).toDF("doc_id", "text")
    val disj = Corpus.jsDivergence(a, b, "text").collect()
    // disjoint supports: every word's m = p/2 (or q/2), so each side
    // contributes ½·Σp·ln2 and the total is ln 2
    assert(math.abs(disj.head.getAs[Double]("jsd") - math.log(2)) < 1e-6)
    disj.foreach { r =>
      assert(r.getAs[Long]("n_a") == 0L || r.getAs[Long]("n_b") == 0L)
    }

    // hand case: a = {x:3, y:1}, b = {x:1, y:3}
    val ha = Seq((1L, "x x x y")).toDF("doc_id", "text")
    val hb = Seq((2L, "x y y y")).toDF("doc_id", "text")
    def t(p: Double, q: Double) = {
      val m = (p + q) / 2
      p * math.log(p / m) / 2 + q * math.log(q / m) / 2
    }
    def rnd(x: Double) = math.round(x * 1e6) / 1e6
    val got = Corpus.jsDivergence(ha, hb, "text").collect()
      .map(r => r.getAs[String]("word") ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Double]("term"), r.getAs[Double]("jsd")))).toMap
    val jsd = rnd(t(0.75, 0.25) + t(0.25, 0.75))
    assert(got("x") == ((3L, 1L, rnd(t(0.75, 0.25)), jsd)), got("x"))
    assert(got("y") == ((1L, 3L, rnd(t(0.25, 0.75)), jsd)), got("y"))

    // minCount truncates the support AND renormalizes within it
    val mc = Corpus.jsDivergence(
      Seq((1L, "x x x y")).toDF("doc_id", "text"),
      Seq((2L, "x x x z")).toDF("doc_id", "text"),
      "text", topK = 10, minCount = 2L).collect()
    assert(mc.length == 1 && mc.head.getAs[String]("word") == "x")
    // only x survives; renormalized p = q = 1 → jsd = 0
    assert(mc.head.getAs[Double]("jsd") == 0.0)
  }

  test("trainBpe: deterministic merges, overlap rule, early exhaustion") {
    import org.apache.spark.sql.functions._
    // classic leftmost-first overlap: a,a,a,a,a -> aa,aa,a
    val scan = spark.range(1).select(
      graft.functions.NativeText.bpe_merge_once(
        typedLit(Seq("a", "a", "a", "a", "a")), "a", "a").as("s"))
      .collect().head.getSeq[String](0)
    assert(scan == Seq("aa", "aa", "a"))

    // "ab"x2 + "abab": round 1 fuses (a,b) seen 4x, round 2 (ab,ab) 1x,
    // then the vocabulary has no adjacent pairs left -> early stop
    val df = Seq((1L, "ab ab abab")).toDF("doc_id", "text")
    val merges = graft.ops.Corpus.trainBpe(df, "text", numMerges = 5)
      .orderBy(col("rank")).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[Long]("pair_count")))
    assert(merges.toSeq == Seq((1, "a", "b", 4L), (2, "ab", "ab", 1L)))
  }

  test("negativeSamplingTable: sqrt-composed ^0.75, integer alias column") {
    val df = Seq((1L, "a a a a b b c")).toDF("doc_id", "text")
    def w75(c: Long) =
      math.floor(math.sqrt(c.toDouble * math.sqrt(c.toDouble)) * 1000).toLong
    val got = graft.ops.Corpus.negativeSamplingTable(df, "text", topK = 2)
      .orderBy(col("rank")).collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("cw"),
        r.getAs[Long]("w75_mil"), r.getAs[Int]("rank"),
        r.getAs[Long]("cum_w75")))
    assert(got.toSeq == Seq(
      ("a", 4L, w75(4), 1, w75(4)),
      ("b", 2L, w75(2), 2, w75(4) + w75(2))))
    assert(w75(4) == 2828L && w75(2) == 1681L)
  }

  test("skipgramPairs: windowed pairs, deterministic subsampling") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    // t = 1.0: every word survives; pairs are pure window combinatorics
    val got = graft.ops.Corpus.skipgramPairs(df, "doc_id", "text",
      window = 2, tMil = 1000000L, topK = 50)
      .orderBy(col("rank")).collect()
      .map(r => (r.getAs[String]("center"), r.getAs[String]("context"),
        r.getAs[Long]("n")))
    assert(got.toSeq == Seq(("a", "b", 1L), ("a", "c", 1L),
      ("b", "a", 1L), ("b", "c", 1L), ("c", "a", 1L), ("c", "b", 1L)))
    // window=1 drops the distance-2 pairs
    val w1 = graft.ops.Corpus.skipgramPairs(df, "doc_id", "text",
      window = 1, tMil = 1000000L, topK = 50).collect()
      .map(r => (r.getAs[String]("center"), r.getAs[String]("context")))
      .toSet
    assert(w1 == Set(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")))
    // content-addressed subsampling: identical across runs
    val big = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run() = graft.ops.Corpus.skipgramPairs(big, "doc_id", "text",
      window = 2, tMil = 1000L, topK = 20).collect().toSeq
    assert(run() == run())
  }

  test("bpeEncodeStats: rank-ordered merges, fertility, edge words") {
    val merges = Seq(("a", "b"), ("ab", "ab"))
    // ab -> [ab]; abab -> [ab,ab] -> [abab]; x single symbol;
    // aaab -> [a,a,ab] (merge (a,b) fuses only the final pair)
    val got = graft.ops.Corpus.bpeEncodeStats(
      Seq((1L, "ab abab x aaab"), (2L, "")).toDF("id", "t"),
      "id", "t", merges).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"),
          Option(r.getAs[java.lang.Double]("tokens_per_word"))))).toMap
    assert(got(1L) == ((4L, 6L, Some(1.5))))
    assert(got(2L) == ((0L, 0L, None)))
  }

  test("shuffleOrder: a permutation, epoch-dependent, reproducible") {
    import spark.implicits._
    val ids = (1L to 200L).toDF("id")
    val e0 = graft.ops.Corpus.shuffleOrder(ids, "id", epoch = 0L)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("shuffle_rank"))
      .toMap
    graft.ops.Caches.releaseAll()
    // ranks are exactly 1..n (a permutation, no gaps, no dupes)
    assert(e0.values.toSeq.sorted == (1L to 200L))
    // NOT the identity: the hash actually scrambled the order
    assert((1L to 200L).count(i => e0(i) == i) < 20)
    // same epoch reproduces bit-identically; another epoch differs
    val e0b = graft.ops.Corpus.shuffleOrder(ids, "id", epoch = 0L)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("shuffle_rank"))
      .toMap
    graft.ops.Caches.releaseAll()
    val e1 = graft.ops.Corpus.shuffleOrder(ids, "id", epoch = 1L)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("shuffle_rank"))
      .toMap
    graft.ops.Caches.releaseAll()
    assert(e0b == e0)
    assert(e1 != e0)
  }

  test("epochPlan: caps over-repeated sources, flags phantom shares") {
    import spark.implicits._
    val docs = (Seq.fill(1)(("A", 100L)) ++ Seq.fill(2)(("B", 500L)))
      .toDF("src", "toks")
    val got = graft.ops.Corpus.epochPlan(docs, "src", "toks",
        Seq("A" -> 500000L, "B" -> 250000L, "P" -> 250000L),
        budgetTokens = 1000L, maxEpochsMilli = 4000L)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("target_tokens"),
          Option(r.getAs[java.lang.Long]("epochs_milli")),
          r.getAs[Boolean]("capped"), r.getAs[Long]("planned_tokens"),
          r.getAs[Long]("shortfall_tokens")))).toMap
    // A: 5 epochs needed > 4 cap → plan 4 epochs, 100 short
    assert(got("A") == ((100L, 500L, Some(5000L), true, 400L, 100L)))
    assert(got("B") == ((1000L, 250L, Some(250L), false, 250L, 0L)))
    // phantom share: nothing available, full shortfall, null epochs
    assert(got("P") == ((0L, 250L, None, true, 0L, 250L)))
  }

  test("systematicResample: exact copies, telescoping total, no RNG") {
    import spark.implicits._
    // W=4, n=8: copies = exactly 2x each weight
    val even = Seq((1L, 1L), (2L, 1L), (3L, 2L)).toDF("id", "w")
    val got = graft.ops.Corpus.systematicResample(even, "id", "w", 8L)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("copies")).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 4L))
    graft.ops.Caches.releaseAll()
    // W=3, n=2: id 1 rounds to ZERO copies and is dropped; total still 2
    val frac = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "w")
    val g2 = graft.ops.Corpus.systematicResample(frac, "id", "w", 2L)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("copies")).toMap
    assert(g2 == Map(2L -> 1L, 3L -> 1L))
    graft.ops.Caches.releaseAll()
    // invariant on messy weights (zeros dropped): Σ copies == n
    val messy = Seq((1L, 0L), (2L, 7L), (3L, 13L), (4L, 1L), (5L, 40L))
      .toDF("id", "w")
    val tot = graft.ops.Corpus.systematicResample(messy, "id", "w", 997L)
      .agg(org.apache.spark.sql.functions.sum("copies")).collect()(0)
      .getLong(0)
    assert(tot == 997L)
  }

  test("ngramDiversity: hand counts; short docs skip long grams") {
    val df = Seq((1L, "g1", "a b a b"), (2L, "g2", "x y"))
      .toDF("doc_id", "grp", "text")
    val got = Corpus.ngramDiversity(df, "grp", "text").collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Int]("n")) ->
        ((r.getAs[Long]("total_ngrams"), r.getAs[Long]("distinct_ngrams"),
          r.getAs[Double]("distinct_ratio")))).toMap
    assert(got(("g1", 1)) == ((4L, 2L, 0.5)))
    assert(got(("g1", 2)) == ((3L, 2L, 0.666667)))
    assert(got(("g1", 3)) == ((2L, 2L, 1.0)))
    assert(got(("g2", 1)) == ((2L, 2L, 1.0)))
    assert(got(("g2", 2)) == ((1L, 1L, 1.0)))
    // 2-token doc has no trigram row at all
    assert(!got.contains(("g2", 3)) && got.size == 5)
  }

  test("targetEncodeLoo: peers-only means, singletons null, null-safe key") {
    val df = Seq((1L, Some("A"), 10L), (2L, Some("A"), 20L),
      (3L, Some("A"), 30L), (4L, Some("B"), 5L),
      (5L, None, 7L), (6L, None, 9L))
      .toDF("id", "cat", "y")
    val got = Corpus.targetEncodeLoo(df, "id", "cat", "y").collect()
      .map(r => r.getAs[Long]("id") ->
        ((Option(r.getAs[java.lang.Long]("loo_num")).map(_.toLong),
          Option(r.getAs[java.lang.Long]("loo_den")).map(_.toLong),
          Option(r.getAs[java.lang.Double]("loo_mean")).map(_.toDouble))))
      .toMap
    assert(got(1L) == ((Some(50L), Some(2L), Some(25.0))))
    assert(got(2L) == ((Some(40L), Some(2L), Some(20.0))))
    assert(got(3L) == ((Some(30L), Some(2L), Some(15.0))))
    // singleton category: no peers, encode is null — caller's prior
    assert(got(4L) == ((None, None, None)))
    // NULL category rows encode against each other (null-safe join)
    assert(got(5L) == ((Some(9L), Some(1L), Some(9.0))))
    assert(got(6L) == ((Some(7L), Some(1L), Some(7.0))))
    assert(got.size == 6)
  }

  test("targetEncodeLoo: fractional target fails loudly") {
    val e = intercept[IllegalArgumentException] {
      Corpus.targetEncodeLoo(Seq((1L, "A", 1.5)).toDF("id", "cat", "y"),
        "id", "cat", "y")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("lDiversity: homogeneous groups drop, NULL sensitive is a value") {
    val df = Seq(
      // g1: sensitive {x, x, y, NULL} → 2 distinct + null = 3 → keep
      (1L, Some("g1"), Some("x")), (2L, Some("g1"), Some("x")),
      (3L, Some("g1"), Some("y")), (4L, Some("g1"), None),
      // g2: k-anonymous but homogeneous → drop at l=3
      (5L, Some("g2"), Some("x")), (6L, Some("g2"), Some("x")),
      (7L, Some("g2"), Some("x")),
      // NULL quasi group with 3 distinct sensitives → null-safe keep
      (8L, None, Some("a")), (9L, None, Some("b")), (10L, None, Some("c")))
      .toDF("id", "q", "s")
    val got = Corpus.lDiversity(df, Seq("q"), "s", l = 3L).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("group_n"), r.getAs[Long]("sensitive_n")))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 8L, 9L, 10L))
    assert(got(1L) == ((4L, 3L)))
    assert(got(8L) == ((3L, 3L)))
    intercept[IllegalArgumentException] {
      Corpus.lDiversity(df, Seq("s"), "s", 2L)
    }
  }

  test("tCloseness: hand EMD per group, range-normalized, breach flag") {
    import spark.implicits._
    // global sensitive dist is uniform on {0, 10}; groups a/b sit
    // entirely at one end (EMD = half the mass moved across the range
    // → 0.5), group c matches the global exactly (EMD 0)
    val df = Seq(
      ("a", 0L), ("a", 0L), ("b", 10L), ("b", 10L),
      ("c", 0L), ("c", 10L)).toDF("q", "v")
    val got = Corpus.tCloseness(df, Seq("q"), "v", tNum = 3, tDen = 10)
      .collect().map(r => r.getAs[String]("q") ->
        ((r.getAs[Long]("group_n"),
          r.getAs[java.math.BigDecimal]("emd_num").longValueExact(),
          r.getAs[Double]("emd"), r.getAs[Boolean]("breach")))).toMap
    // a: |cumG·n_all − cumAll·n_g|·gap at v=0 → |2·6 − 3·2|·10 = 60;
    // emd = 60/(2·6·10) = 0.5 > 0.3 → breach
    assert(got("a") == ((2L, 60L, 0.5, true)))
    assert(got("b") == ((2L, 60L, 0.5, true)))
    assert(got("c") == ((2L, 0L, 0.0, false)))
    // zero-range degenerate: single sensitive value everywhere
    val flat = Seq(("a", 5L), ("b", 5L)).toDF("q", "v")
    val gf = Corpus.tCloseness(flat, Seq("q"), "v", 3, 10).collect()
    assert(gf.forall(r => !r.getAs[Boolean]("breach")))
    // sensitive column may not be quasi
    intercept[IllegalArgumentException] {
      Corpus.tCloseness(df, Seq("v"), "v", 3, 10)
    }
  }

  test("filterByQuantileApprox: kept set matches exact filter when the " +
      "quantile lands on a data point; broadcast shape preserved") {
    // key a: 0..100 -> q=0.8 is exactly rank 80 (no interpolation), so
    // GK (which returns a real data value) and exact percentile agree
    val df = ((0 to 100).map(i => ("a", i.toLong)) ++
      Seq(("b", 5L), ("b", 5L))).toDF("k", "v")
    val exact = Corpus.filterByQuantile(df, "k", "v", 0.8)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val approx = Corpus.filterByQuantileApprox(df, "k", "v", 0.8)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(approx == exact)
    val plan = Corpus.filterByQuantileApprox(df, "k", "v", 0.8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("winsorizeApprox: bands match exact winsorize on " +
      "interpolation-free quantiles, rows preserved") {
    val df = (0 to 100).map(i => ("a", i.toLong)).toDF("k", "v")
    // 0.05/0.95 on 101 points -> ranks 5 and 95 exactly
    val exact = Corpus.winsorize(df, "k", "v", 0.05, 0.95)
      .collect().map(r => r.getLong(1) ->
        ((r.getAs[Double]("band_lo"), r.getAs[Double]("band_hi"),
          r.getAs[Double]("v_w")))).toMap
    val approx = Corpus.winsorizeApprox(df, "k", "v", 0.05, 0.95)
      .collect().map(r => r.getLong(1) ->
        ((r.getAs[Double]("band_lo"), r.getAs[Double]("band_hi"),
          r.getAs[Double]("v_w")))).toMap
    assert(approx.size == 101, "row count preserved")
    assert(approx == exact)
  }

  test("maxCoverageSelect: greedy marginal argmax, min-id ties, " +
      "early exhaustion when everything is covered") {
    val df = Seq(
      (1L, "a b c d"),    // 3-shingles {abc, bcd} -> 2
      (2L, "a b c"),      // {abc} -> 1 (subset of doc 1)
      (3L, "x y z w v"),  // {xyz, yzw, zwv} -> 3
      (4L, "x y z w v")   // duplicate of doc 3: ties at 3, loses on id
    ).toDF("doc_id", "text")
    val got = Corpus.maxCoverageSelect(df, "doc_id", "text", k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    // round 1: doc 3 wins the 3-coverage tie against doc 4 by id;
    // round 2: doc 1 adds 2; every remaining doc then has marginal 0,
    // so the selection stops early despite k = 10
    assert(got == Seq((1, 3L, 3L), (2, 1L, 2L)))
    graft.ops.Caches.releaseAll()
  }

  test("maxCoverageSelectSampled: eps→0 degrades to exact greedy; " +
      "eps=0.5 is deterministic and meets the (1−1/e−ε) coverage bound") {
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val tiny = Seq(
      (1L, "a b c d"), (2L, "a b c"),
      (3L, "x y z w v"), (4L, "x y z w v")
    ).toDF("doc_id", "text")
    // ln(10^6)/10 > 1 → pool fraction clamps to 1 → exact greedy,
    // including the stops-early-when-covered behavior
    assert(canon(Corpus.maxCoverageSelectSampled(tiny, "doc_id", "text",
        k = 10, epsNum = 1, epsDen = 1000000)) ==
      canon(Corpus.maxCoverageSelect(tiny, "doc_id", "text", k = 10)))
    // 80 docs over a 26-token vocabulary: heavy shingle overlap, so
    // greedy choices genuinely differ from arbitrary picks
    val docs = (1L to 80L).map { i =>
      val toks = Seq.tabulate(8)(j => ('a' + ((i * 7 + j * j + 3) % 26))
        .toChar.toString)
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val exact = canon(Corpus.maxCoverageSelect(docs, "doc_id", "text", k = 8))
    val s1 = canon(Corpus.maxCoverageSelectSampled(docs, "doc_id", "text",
      k = 8, epsNum = 1, epsDen = 2))
    val s2 = canon(Corpus.maxCoverageSelectSampled(docs, "doc_id", "text",
      k = 8, epsNum = 1, epsDen = 2))
    assert(s1 == s2) // content-addressed sampling: seedless determinism
    assert(s1.map(_._1) == (1 to s1.size)) // contiguous ranks
    assert(s1.map(_._2).distinct.size == s1.size) // no repicks
    val bound = 1.0 - 1.0 / math.E - 0.5
    assert(s1.map(_._3).sum >= bound * exact.map(_._3).sum)
    graft.ops.Caches.releaseAll()
  }

  test("trainUnigramLm: hand-traced EM fixture — whole-word pieces win " +
      "the Viterbi, chars keep the coverage floor, long words excluded") {
    // words: ab×4, cd×3. Seed: chars a,b(4) c,d(3) + multis ab(4), cd(3),
    // T=21. E-step: p(ab)=4/21 beats p(a)·p(b)=(4/21)² — every word
    // segments as itself; M-step: ab=4, cd=3, chars unused -> floor 1.
    // Round 2 (T=11) reproduces the same table. The 20-char word trains
    // nothing (maxWordLen=12).
    val df = Seq((1L, "ab ab ab cd"), (2L, "ab cd cd"),
      (3L, "supercalifragilistic")).toDF("doc_id", "text")
    val got = Corpus.trainUnigramLm(df, "text")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1, "ab", 4L), (2, "cd", 3L), (3, "a", 1L),
      (4, "b", 1L), (5, "c", 1L), (6, "d", 1L)))
    graft.ops.Caches.releaseAll()
  }

  test("trainUnigramLmLossPrune: loss-ranked prune disagrees with the " +
      "count rule — a redundant frequent piece drops before a rarer " +
      "irreplaceable one") {
    // 'aab'×100 segments via 'ab' OR 'aa' (two routes — either piece
    // alone suffices), plus 'aa'×50 and 'ab'×50 standalone; 'qz'×40 is
    // rarer but IRREPLACEABLE (q,z occur nowhere else, so dropping it
    // costs two near-max-bit char tokens per occurrence). Pool after EM
    // (maxPieceLen=2): ab=150, aa=50, qz=40. Count rule at vocab=2
    // keeps {ab, aa} (drops lowest count qz). Loss rule (one prune
    // round): delta(aa)=50 ≪ delta(qz)=520 — 'aab' re-routes through
    // 'ab' for bits, only the standalone 'aa' pays — so 'aa' drops and
    // {ab, qz} survive. (Deltas traced with the offline reference that
    // also validated the q382 oracle.)
    val texts = Seq.fill(100)("aab") ++ Seq.fill(50)("aa") ++
      Seq.fill(50)("ab") ++ Seq.fill(40)("qz")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    def multis(d: org.apache.spark.sql.DataFrame): Set[String] =
      d.collect().map(_.getString(1)).filter(_.length > 1).toSet
    val byCount = multis(Corpus.trainUnigramLm(df, "text",
      seedSize = 10, vocabSize = 2, emRounds = 2, maxPieceLen = 2))
    val byLoss = multis(Corpus.trainUnigramLmLossPrune(df, "text",
      seedSize = 10, vocabSize = 2, emRounds = 2, pruneRounds = 1,
      maxPieceLen = 2))
    assert(byCount == Set("ab", "aa"), byCount.toString)
    assert(byLoss == Set("ab", "qz"), byLoss.toString)
    graft.ops.Caches.releaseAll()
  }

  test("unigramEncodeStatsByteFallback: UNK-free encode — emoji/CJK/" +
      "control chars cost their UTF-8 bytes, known text costs its parse") {
    val trained = Seq(("ab", 4L), ("cd", 3L), ("a", 1L), ("b", 1L),
      ("c", 1L), ("d", 1L)) // the trainUnigramLm fixture table, T=11
    // doc 1: 'ab'→1 token (reachable, 0 bytes); 'a🦜b'→fallback:
    //   a=1, 🦜(U+1F99C)=4 bytes, b=1 → 6 tokens, 4 byte tokens;
    // doc 2: '中文'→fallback: 3+3 bytes → 6 tokens, 6 bytes;
    //   'é'→fallback: é=2 bytes, BEL=1 byte → 3 tokens, 3 bytes;
    // doc 3: 14-cp word over the cap → per-char: 12 known chars (a/b) +
    //   two 中 (3 bytes each) → 18 tokens, 6 bytes; empty doc → zeros
    val df = Seq((1L, "ab a🦜b"), (2L, "中文 é\u0007"),
      (3L, "ababababab中ab中"), (4L, "")).toDF("doc_id", "text")
    val got = Corpus.unigramEncodeStatsByteFallback(
      df, "doc_id", "text", trained)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == Seq((1L, 2L, 7L, 4L), (2L, 2L, 9L, 9L),
      (3L, 1L, 18L, 6L), (4L, 0L, 0L, 0L)), got.toString)
    graft.ops.Caches.releaseAll()
  }

  test("unigramEncodeStats: trained pieces win, unknown words fall back " +
      "to chars, over-cap words count code points") {
    val trained = Seq(("ab", 4L), ("cd", 3L), ("a", 1L), ("b", 1L),
      ("c", 1L), ("d", 1L)) // the trainUnigramLm fixture table, T=11
    // 'ab'→1 token, 'cd'→1, 'ef'→unreachable→2 chars,
    // 20-cp word > maxWordLen→20 code points; empty text→(0,0,null)
    val df = Seq((1L, "ab cd ef supercalifragilistic"), (2L, ""))
      .toDF("doc_id", "text")
    val got = Corpus.unigramEncodeStats(df, "doc_id", "text", trained)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(got == Seq((1L, 4L, 24L, Some(6.0)), (2L, 0L, 0L, None)))
    graft.ops.Caches.releaseAll()
  }
}
