package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Clustering, Dedup, Similarity, TextAnalysis, Multimodal}
import graft.functions.{NativeHashes, HashImpls}

class OpsSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  lazy val docs: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)

  test("native poly_hash == SQL-lambda polyHash on real documents") {
    val diff = docs.select(
      NativeHashes.poly_hash(col("text")).as("a"),
      SpecTwins.polyHashLambda(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("native simhash == SQL-lambda simhash on real documents") {
    val diff = docs.select(
      NativeHashes.simhash32(col("text")).as("a"),
      SpecTwins.simhash32Lambda(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("native minhash signature == SQL-lambda shingle pipeline") {
    val n = 8
    val fromNative = Dedup.withMinhashSignature(docs, "text", n, 3, Seq(col("doc_id")))
    val lambdaSh = SpecTwins.shingleHashesLambda(col("text"), 3)
    val fromLambda = docs.select(col("doc_id") +: Dedup.minhashParams(n).zipWithIndex.map {
      case ((a, b), i) =>
        array_min(transform(lambdaSh, h => pmod(h * a + b, lit(Dedup.MinhashP)))).as(s"mh_$i")
    }: _*)
    assert(fromNative.exceptAll(fromLambda).count() == 0)
    assert(fromLambda.exceptAll(fromNative).count() == 0)
  }

  test("native lang_id == SQL-lambda languageId on real documents + edges") {
    val diff = docs.select(
      TextAnalysis.languageId(col("text")).as("a"),
      SpecTwins.languageIdLambda(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
    // whitespace/tie/unicode edges must agree too
    val edges = Seq("", "   ", "the und der la", "le la les", "的 是 xyz",
      "tab\tthe\nnewline the", "no stop words here at all")
      .toDF("text")
    val ediff = edges.select(
      TextAnalysis.languageId(col("text")).as("a"),
      SpecTwins.languageIdLambda(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(ediff == 0)
  }

  test("native quality features == lambda formulation on real documents") {
    // the lambda formulation of n_tokens / mean_token_len / stopword_ratio,
    // exactly as shipped before the native rewrite
    val toks = split(col("text"), " ")
    val nToks = size(toks)
    val nStop = SpecTwins.langScoreLambda(split(lower(col("text")), " "), "en")
    val meanTokLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
      .cast("double") / nToks
    val edges = docs.select(col("text"))
      .union(Seq("", " ", "a  b", " lead", "trail ", "the the the").toDF("text"))
    val native = TextAnalysis.qualityFeatures(col("text")).toMap
    val diff = edges.select(
      native("n_tokens").as("native_n_tokens"),
      graft.functions.NativeText.stopword_hits(lower(col("text")), "en")
        .as("native_stop"),
      native("mean_token_len").as("native_mean"),
      nToks.cast("long").as("lambda_n_tokens"),
      nStop.cast("long").as("lambda_stop"),
      meanTokLen.as("lambda_mean"))
      .filter(col("native_n_tokens") =!= col("lambda_n_tokens") ||
        col("native_stop") =!= col("lambda_stop") ||
        !(col("native_mean") <=> col("lambda_mean")))
      .count()
    assert(diff == 0)
  }

  test("native repetition stats == lambda formulation on real documents") {
    val edges = docs.select(col("text"))
      .union(Seq("", "\n\n", "  \n x \n x \n  ", "a a a\tb\nc c").toDF("text"))
    val native = TextAnalysis.repetitionFeatures(col("text"))
    val lambda = SpecTwins.repetitionFeaturesLambda(col("text"))
    val cmp = native.zip(lambda).map { case ((n, nc), (_, lc)) =>
      !(nc <=> lc) }.reduce(_ || _)
    assert(edges.filter(cmp).count() == 0)
  }

  test("exact dedup keeps the lowest id per duplicate group") {
    val df = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "aaa"))
      .toDF("id", "text")
    val keep = Dedup.exactDedup(df, "text", "id").select("id").as[Long].collect().sorted
    assert(keep.toSeq == Seq(1L, 2L))
    val keepers = Dedup.exactKeepers(df, "text", "id").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_copies")).toMap
    assert(keepers == Map(1L -> 3L, 2L -> 1L))
  }

  test("normalizeText: unicode canonicalization collapses near-copies") {
    import graft.functions.TextImpls.{normalizeText => n}
    // case + whitespace
    assert(n("  Hello\t\n WORLD  ").toString == "hello world")
    // composed é (U+00E9) ≡ decomposed e+combining-acute ≡ plain e
    assert(n("café").toString == "cafe")
    assert(n("café").toString == "cafe")
    // NFKC compatibility folds: full-width latin, fi ligature
    assert(n("ＨＥＬＬＯ").toString == "hello")
    assert(n("ﬁle").toString == "file")
    // ROOT-locale lowering: no Turkish dotless-i surprise
    assert(n("TITLE").toString == "title")
    // empty / whitespace-only
    assert(n("").toString == "")
    assert(n(" \t ").toString == "")
    // the codegen'd column expression agrees with the direct call
    val df = Seq((1L, "  A  B\tC "), (2L, "Café au lait"))
      .toDF("id", "text")
    val rows = df.select(col("id"),
        graft.ops.TextAnalysis.normalizeText(col("text")).as("norm"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) == "a b c")
    assert(rows(2L) == "cafe au lait")
  }

  test("url extraction, host key, canonical dedup collapse scheme/www/query noise") {
    import graft.ops.TextAnalysis
    val df = Seq(
      (1L, "see https://www.Example.COM/A/b/?q=1#x then http://example.com/A/b ok"),
      (2L, "no urls here"),
      (3L, "https://sub.Example.com/path/ and http://sub.example.com/path"))
      .toDF("id", "text")
    val got = df.select(col("id"),
        explode(TextAnalysis.extractUrls(col("text"))).as("url"))
      .select(col("id"), col("url"),
        TextAnalysis.urlHost(col("url")).as("host"),
        TextAnalysis.canonicalizeUrl(col("url")).as("canon"))
      .collect()
    assert(got.count(_.getLong(0) == 2L) == 0, "no urls → no rows")
    val byId1 = got.filter(_.getLong(0) == 1L)
    assert(byId1.map(_.getAs[String]("host")).toSet == Set("example.com"),
      "case + www. collapse onto one host key")
    assert(byId1.map(_.getAs[String]("canon")).distinct.length == 1,
      "https+www+query+fragment+slash variants share one canonical URL")
    assert(byId1.head.getAs[String]("canon") == "example.com/A/b")
    val byId3 = got.filter(_.getLong(0) == 3L)
    assert(byId3.map(_.getAs[String]("canon")).distinct.toSeq ==
      Seq("sub.example.com/path"))
    // path case is PRESERVED (only the host lowers)
    assert(byId1.head.getAs[String]("canon").contains("/A/b"))
  }

  test("identical docs are minhash near-dups with jaccard 1.0") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words here nothing shared at all truly unique")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(df, "doc_id", "text", 4, 4, 3, 0.9).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(pairs.head.getAs[Double]("jaccard") == 1.0)
  }

  test("simhash near-dups: identical docs at hamming 0") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(df, "doc_id", "text", 0).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("brute-force cosine top-k: self-similar vector ranks first") {
    val vs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
      vs.filter($"vec_id" === 0), vs, "vec_id", "embedding", 2).collect()
    assert(top.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L))
  }

  test("top-k aggregate implicitly casts int ids / float scores (no runtime CCE)") {
    // pre-ImplicitCastInputTypes this threw ClassCastException inside
    // update(); declared input types make Catalyst insert the casts
    val vs = Seq(
      (0, Array(1.0f, 0.0f)),
      (1, Array(0.9f, 0.1f)),
      (2, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding") // int ids
    val top = Similarity.bruteForceTopK(
      vs.filter($"vec_id" === 0), vs, "vec_id", "embedding", 1).collect()
    assert(top.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L))
  }

  test("LSH top-k routes near-identical vectors to the same bucket") {
    // corpus vector 100+i ≈ query vector i (same signs ⇒ same bucket):
    // the mechanism guarantees recall for true near-duplicates
    val base = (0 until 3).map(i =>
      Array.tabulate(16)(j => if ((i + j) % 3 == 0) 1.0f else -1.0f))
    val corpus = (base.zipWithIndex.map { case (v, i) => (100L + i, v.map(_ * 0.9f)) } ++
      Seq((500L, Array.fill(16)(0.5f)), (501L, Array.fill(16)(-0.5f)))).toDF("vec_id", "embedding")
    val queries = base.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val lsh = Similarity.lshTopK(queries, corpus, "vec_id", "embedding", 1, bits = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    (0 until 3).foreach(i => assert(lsh(i.toLong) == 100L + i))
  }

  test("hardNegatives keeps only the [lo, hi) cosine band, excludes near-dups") {
    val vs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),   // cos ≈ 0.995 → above band (dup)
      (2L, Array(0.5f, 0.866f, 0.0f)),  // cos ≈ 0.5  → in band
      (3L, Array(0.3f, 0.954f, 0.0f)),  // cos ≈ 0.3  → in band
      (4L, Array(0.0f, 0.0f, 1.0f))     // cos = 0    → below band
    ).toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(
      vs.filter($"vec_id" === 0), vs, "vec_id", "embedding",
      k = 3, lo = 0.25, hi = 0.9).collect()
    // only vectors 2 and 3 fall in [0.25, 0.9); rank by cosine desc
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 3L))
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2))
    out.foreach { r =>
      val c = r.getAs[Double]("cosine")
      assert(c >= 0.25 && c < 0.9)
    }
  }

  test("truncationAudit: overlap and top1 flip under truncation") {
    val qs = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      // first-2-dims view [0.1, 0] ranks c1 (cos 1.0 tie, id order)
      // over c2, but the FULL ranking puts c2 first
      (101L, Array(0.1f, 0.0f, 1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.6f, 0.0f, 0.8f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.truncationAudit(qs, corpus, "vec_id",
        "embedding", k = 2, dims = Seq(2, 4))
      .collect().map(r => r.getAs[Int]("dim") ->
        ((r.getAs[Long]("n_queries"),
          r.getAs[Double]("mean_overlap_at_k"),
          r.getAs[Double]("top1_match_rate")))).toMap
    // d=2: both queries keep the same top-2 SET (overlap 1.0) but
    // query 101's top-1 flips c2 -> c1 (rate 1/2)
    assert(got(2) == ((2L, 1.0, 0.5)))
    // d=4 is the full vector: identity
    assert(got(4) == ((2L, 1.0, 1.0)))
  }

  test("hardNegatives rejects an inverted band") {
    val vs = Seq((0L, Array(1.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.hardNegatives(vs, vs, "vec_id", "embedding", 1, 0.9, 0.5)
    }
    assert(e.getMessage.contains("lo < hi"))
  }

  test("near-dup clustering: chains collapse to one component, keepers kept") {
    val docs = (1L to 7L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chain 1-2-3, pair 5-6; 4 and 7 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(docs, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(3L) == 1L)
    assert(clusters(5L) == 5L && clusters(6L) == 5L)
    assert(clusters(4L) == 4L && clusters(7L) == 7L)
    val kept = Dedup.dedupByClusters(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L, 7L))
  }

  test("near-dup clustering: component diameter > maxIter is DETECTED") {
    // path graph 1-2-…-10 has diameter 9 > maxIter=3: min-label cannot
    // reach the far end — strict mode must throw, not silently return
    val n = 10L
    val docs = (1L to n).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.nearDupClusters(docs, "doc_id", pairs, maxIter = 3, strict = true)
        .count()
    }
    assert(e.getMessage.contains("did not converge"))
    // enough rounds: converges to a single component labeled 1
    val ok = Dedup.nearDupClusters(docs, "doc_id", pairs, maxIter = 12)
      .as[(Long, Long)].collect().toMap
    assert((1L to n).forall(ok(_) == 1L))
  }

  test("alternating CC: deep chains converge in O(log) rounds; equals frontier labels") {
    // a 200-diameter path: frontier min-label would need 200 rounds;
    // the alternating algorithm converges within the default 30
    val n = 200L
    val docs = (1L to n).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val chain = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val deep = Dedup.nearDupClustersAlternating(docs, "doc_id", chain, strict = true)
      .as[(Long, Long)].collect().toMap
    assert((1L to n).forall(deep(_) == 1L))

    // property check: random graphs, labels must match the frontier CC
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val ids = (1L to 60L)
      val d2 = ids.map(i => (i, s"d$i")).toDF("doc_id", "text")
      val ps = (1 to 70).map { _ =>
        (ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size)))
      }.filter { case (a, b) => a != b }.toDF("id_a", "id_b")
      val alt = Dedup.nearDupClustersAlternating(d2, "doc_id", ps, strict = true)
        .as[(Long, Long)].collect().toMap
      val frontier = Dedup.nearDupClusters(d2, "doc_id", ps, maxIter = 60)
        .as[(Long, Long)].collect().toMap
      assert(alt == frontier)
    }
    graft.ops.Caches.releaseAll()
  }

  test("persist hygiene: releaseAll leaves no persisted RDDs behind") {
    graft.ops.Caches.releaseAll() // clean slate for this thread
    // operators that persist internally: LSH candidates, CC rounds
    val d = (1L to 20L).map(i => (i, s"common text shared by doc $i"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(d, "doc_id", "text", 8, 4, 3)
    Dedup.nearDupClusters(d, "doc_id", pairs).count()
    // iterative operators run past a lineage cut: each cut's storage must
    // be released too, not left for the JVM to collect
    val ring = (0L until 12L).flatMap(i => Seq((i, (i + 1) % 12), (i, (i + 5) % 12)))
      .toDF("src", "dst")
    graft.ops.Profiling.btStrengths(ring, "src", "dst", iters = 3).count()
    graft.ops.Graph.hits(ring, "src", "dst", iters = 3).count()
    graft.ops.Graph.kCorePeelConverged(ring, "src", "dst", k = 3, rounds = 3).count()
    graft.ops.Graph.labelPropagationConverged(ring, "src", "dst", iters = 3).count()
    val br = graft.tpch.TpchModel.browser(spark, "/root/testdata/sf0.001")
    val fused = br.aggregate(drilldown = Seq("returnflag"),
      aggregates = Seq("quantity_sum", "fact_count"))
    fused.cells.count()
    fused.summary.foreach(_.count())
    assert(persistsBesideStars.nonEmpty,
      "expected in-flight persists before release")
    graft.ops.Caches.releaseAll()
    assert(persistsBesideStars.isEmpty,
      s"leaked persists: ${persistsBesideStars.keys}")
  }

  test("boilerplate-line removal drops high-doc-frequency lines, keeps order") {
    val d = Seq(
      (1L, "banner\nunique one\nfooter"),
      (2L, "banner\nunique two\nmiddle\nfooter"),
      (3L, "banner\nfooter"),        // all boilerplate → survives empty
      (4L, "banner\nunique one\nfooter") // "unique one" df=2, under threshold
    ).toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateLines(d, "doc_id", "text", maxDocFreq = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "unique one")
    assert(out(2L) == "unique two\nmiddle")
    assert(out(3L) == "")
    assert(out(4L) == "unique one")
  }

  test("hashed band keys find the same near-dup pairs as string keys") {
    // xxhash64 band keys (the at-scale default: fixed 8-byte shuffle key)
    // bucket identically to the oracle-replayable string keys — equal
    // slices hash equal; collisions only ADD candidates, which the exact
    // Jaccard verification then rejects
    val df = (1L to 60L).map { i =>
      (i, s"shared prefix about topic ${i % 6} with common tail ${i % 3}")
    }.toDF("doc_id", "text")
    def pairs(hashed: Boolean) =
      Dedup.minhashNearDups(df, "doc_id", "text", bands = 8, rows = 4,
        shingleK = 3, threshold = 0.5, hashedBandKeys = hashed)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs(hashed = true) == pairs(hashed = false))
    assert(pairs(hashed = true).nonEmpty)
  }

  test("LSH hot-bucket cap drops oversized buckets") {
    // 4 identical docs share every band bucket (size 4); cap 3 drops them
    val df = (1L to 4L).map(i => (i, "same words repeated here for all docs"))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashCandidates(df, "doc_id", "text", 4, 4, 3,
      maxBucketSize = 3)
    assert(capped.count() == 0)
    val uncapped = Dedup.minhashCandidates(df, "doc_id", "text", 4, 4, 3)
    assert(uncapped.count() == 6) // all C(4,2) pairs
  }

  test("native char-ngram jaccard == SQL-lambda substring jaccard on real documents") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(120).select(col("doc_id"), col("text"))
    val a = d.alias("a"); val bb = d.alias("b")
    val pairs = a.join(bb, col("b.doc_id") === col("a.doc_id") + 1)
    val rows = pairs.select(
      Dedup.jaccardCharNgrams(col("a.text"), col("b.text"), 3).as("native"),
      Dedup.jaccardCharNgramsLambda(col("a.text"), col("b.text"), 3).as("lambda"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r))
    // short-text edge: native must agree with the lambda spec, including
    // nullness — one empty set and both-empty sets
    val edge = Seq(("abcd", "ab"), ("ab", "xy")).toDF("ta", "tb")
      .select(Dedup.jaccardCharNgrams(col("ta"), col("tb"), 3).as("native"),
        Dedup.jaccardCharNgramsLambda(col("ta"), col("tb"), 3).as("lambda"))
      .collect()
    edge.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), r)
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1) ||
        (r.getDouble(0).isNaN && r.getDouble(1).isNaN), r)
    }
  }

  test("native l2sq_long == zip_with/aggregate lambda fold (incl. null edges)") {
    import org.apache.spark.sql.functions.{aggregate, zip_with, lit, expr}
    def lambda(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, m) => (x - m) * (x - m)),
        lit(0L), (acc, d) => acc + d)
    // quantized real embeddings against a shifted copy of themselves
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(100)
      .select($"vec_id",
        Clustering.quantizeFixed($"embedding", 1000).as("a"))
      .withColumn("b", expr("transform(a, x -> x + 7L)"))
    val both = emb.select(
      graft.functions.NativeHashes.l2sq_long($"a", $"b").as("x"),
      lambda($"a", $"b").as("y"))
    assert(both.filter($"x" =!= $"y").count() == 0)
    assert(both.filter($"x".isNull).count() == 0)
    // null semantics: length mismatch and a null element both null the
    // fold in the lambda spec — the native must agree
    val edges = Seq(1).toDF("i").select(
      expr("array(1L, 2L, 3L)").as("a3"),
      expr("array(1L, 2L)").as("a2"),
      expr("array(1L, cast(null as long), 3L)").as("an"))
    val e = edges.select(
      graft.functions.NativeHashes.l2sq_long($"a3", $"a2").as("n1"),
      lambda($"a3", $"a2").as("l1"),
      graft.functions.NativeHashes.l2sq_long($"a3", $"an").as("n2"),
      lambda($"a3", $"an").as("l2"),
      graft.functions.NativeHashes.l2sq_long($"a3", $"a3").as("n3"),
      lambda($"a3", $"a3").as("l3")).collect().head
    assert(e.isNullAt(0) && e.isNullAt(1), "length mismatch must be null")
    assert(e.isNullAt(2) && e.isNullAt(3), "null element must be null")
    assert(!e.isNullAt(4) && e.getLong(4) == 0L && e.getLong(5) == 0L)
  }

  test("mmrSelectGrouped == per-group mmrSelect (lockstep rerank identity)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding",
        ($"vec_id" % 3).as("grp"),
        // deterministic relevance with ties inside a group
        (($"vec_id" % 7).cast("double") / 10.0).as("rel"))
      .limit(60)
    val grouped = Similarity.mmrSelectGrouped(emb, "grp", "vec_id",
        "embedding", "rel", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), if (r.isNullAt(4)) null else r.getDouble(4),
        r.getDouble(5))).toSet
    // per-group oracle: the direct recompute formulation
    val perGroup = (0L to 2L).flatMap { g =>
      SpecTwins.mmrSelectRecompute(emb.filter($"grp" === g), "vec_id",
          "embedding", "rel", k = 4)
        .collect().map(r => (g, r.getInt(0), r.getLong(1),
          r.getDouble(2), if (r.isNullAt(3)) null else r.getDouble(3),
          r.getDouble(4)))
    }.toSet
    assert(grouped == perGroup)
    assert(grouped.nonEmpty)
  }

  test("native dot product == SQL-lambda fold on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = emb.limit(50).select($"vec_id", $"embedding".as("a"))
    val b = emb.limit(50).select($"vec_id", $"embedding".as("b"))
    val both = a.join(b, "vec_id")
      .select(Similarity.dot(col("a"), col("b")).as("x"),
        SpecTwins.dotLambda(col("a"), col("b")).as("y"))
    assert(both.filter(col("x") =!= col("y")).count() == 0)
  }

  test("IVF top-k: querying a corpus vector finds it via its own list") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // query = corpus vectors themselves → nearest list contains the twin;
    // top-1 ... the best *other* neighbor must match brute force whenever
    // brute force's best lands in a probed list; self-recall is exact:
    val q = emb.filter($"vec_id" < 5)
    val ivf = Similarity.ivfTopK(q, emb, "vec_id", "embedding", 3,
      nCentroids = 8, nProbe = 8) // nProbe = all lists ⇒ exact
    val bf = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 3)
    assert(ivf.exceptAll(bf).count() == 0 && bf.exceptAll(ivf).count() == 0)
    // fewer probes: still returns k ranked rows per query
    val approx = Similarity.ivfTopK(q, emb, "vec_id", "embedding", 3,
      nCentroids = 8, nProbe = 2)
    val counts = approx.groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(counts.values.forall(_ == 3))
  }

  test("content flags count urls/emails/symbols; ratio guards empty text") {
    val df = Seq(
      (1L, "see https://example.com/x and http://a.b c@d.org me@you.co.uk #tag 50%"),
      (2L, "plain words only here"),
      (3L, "")
    ).toDF("doc_id", "text")
    val f = TextAnalysis.contentFlags(col("text"))
    val out = df.select(col("doc_id") +: f.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_urls") == 2L)
    assert(out(0).getAs[Long]("n_emails") == 2L)
    assert(out(0).getAs[Long]("n_symbols") >= 2L) // # and %
    assert(out(1).getAs[Long]("n_urls") == 0L &&
      out(1).getAs[Double]("symbol_word_ratio") == 0.0)
    assert(out(2).getAs[Double]("symbol_word_ratio") == 0.0) // no div-by-zero
  }

  test("language-ID picks the language with the most stopword hits") {
    val df = Seq(
      (1L, "the cat and the dog in the house"),
      (2L, "el perro y la casa de los gatos es una"),
      (3L, "xyzzy plugh qwerty")
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextAnalysis.languageId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(3L) == "und")
  }

  test("full-list language-ID classifies languages the pinned lists cannot") {
    import graft.functions.NativeText
    // one short natural sentence per language, built from common function
    // words — the signal real web text carries
    val fixture = Seq(
      ("en", "the house is at the end of the road and it was empty"),
      ("de", "der Hund ist nicht mit der Katze zu dem Haus gelaufen und sie war da"),
      ("es", "el perro no es como el gato pero la casa es muy grande para los dos"),
      ("fr", "le chien est dans la maison avec les chats et il ne faut pas sortir"),
      ("it", "il cane non è come il gatto ma la casa è molto grande per tutti loro"),
      ("pt", "o cachorro não é como o gato mas a casa é muito grande para os dois"),
      ("nl", "de hond is niet met de kat naar het huis gelopen en hij was er ook"),
      ("sv", "hunden är inte som katten men huset är mycket stort för dem och oss"),
      ("pl", "pies nie jest taki jak kot ale dom jest bardzo duży dla nich i dla nas"),
      ("ru", "собака не такая как кот но дом очень большой для них и для нас"),
      ("zh", "我 的 狗 不 是 猫 但 是 这 个 房 子 很 大 我们 都 在 里 面")
    )
    val df = fixture.toDF("lang", "text")
    val out = df.select(col("lang"),
        NativeText.lang_id_full(lower(col("text"))).as("pred"),
        graft.functions.NativeText.lang_id(lower(col("text"))).as("pred_small"))
      .collect()
    // production lists: every language recognized
    out.foreach(r => assert(r.getString(1) == r.getString(0),
      s"full lists misclassified ${r.getString(0)} as ${r.getString(1)}"))
    // the pinned 8-word lists cannot know it/pt/nl/sv/pl/ru — the full
    // lists are a strict accuracy improvement on this fixture
    val smallCorrect = out.count(r => r.getString(2) == r.getString(0))
    assert(smallCorrect < fixture.size)
  }

  test("real ImageIO decode: construct↔decode round-trip recovers exact pixel stats") {
    val ids = Seq(0L, 1L, 17L, 255L, 256L)
    val df = ids.toDF("doc_id")
    val stats = Multimodal.decodeImageStats(
      Multimodal.withSyntheticImage(df, "doc_id"))
      .collect().map(s => s.media_id -> s).toMap
    ids.foreach { id =>
      val w = (id % 16 + 1).toInt
      val h = (id * 7 % 16 + 1).toInt
      val px = for (y <- 0 until h; x <- 0 until w)
        yield Multimodal.synthPixel(id, x, y)
      val s = stats(id)
      assert(s.width == w && s.height == h)
      assert(s.mean_r == px.map(_._1.toLong).sum.toDouble / (w * h))
      assert(s.mean_g == px.map(_._2.toLong).sum.toDouble / (w * h))
      assert(s.mean_b == px.map(_._3.toLong).sum.toDouble / (w * h))
      assert(s.min_r == px.map(_._1).min && s.max_r == px.map(_._1).max)
      assert(s.min_g == px.map(_._2).min && s.max_g == px.map(_._2).max)
      assert(s.min_b == px.map(_._3).min && s.max_b == px.map(_._3).max)
    }
  }

  test("ImageIO decode handles JPEG payloads (dims exact, stats near-lossless)") {
    // a flat mid-gray image survives JPEG's DCT almost exactly; dims are
    // exact for any decodable payload
    val img = new java.awt.image.BufferedImage(32, 24,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 24; x <- 0 until 32)
      img.setRGB(x, y, (128 << 16) | (128 << 8) | 128)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos)) // writer available headless
    val media = Seq(
      Multimodal.MediaRecord(7L, bos.toByteArray, "jpeg", bos.size().toLong)
    ).toDS()
    val s = Multimodal.decodeImageStats(media).collect().head
    assert(s.width == 32 && s.height == 24)
    assert(math.abs(s.mean_r - 128.0) < 2.0)
    assert(math.abs(s.mean_g - 128.0) < 2.0)
    assert(math.abs(s.mean_b - 128.0) < 2.0)
  }

  test("ImageIO decode: undecodable payload yields the -1 sentinel, not a crash") {
    val media = Seq(
      Multimodal.MediaRecord(1L, "definitely not an image".getBytes, "txt", 23L)
    ).toDS()
    val s = Multimodal.decodeImageStats(media).collect().head
    assert(s.width == -1 && s.height == -1)
  }

  test("multimodal payload-stats pipeline computes chunk/byte features") {
    val df = Seq((1L, "a" * 300)).toDF("doc_id", "text")
    val f = Multimodal.pipeline(spark, df, "doc_id", "text").collect().head
    assert(f.n_bytes == 300 && f.n_frames == 2)
    assert(f.mean_byte == 'a'.toInt.toDouble)
    // checksum equals driver-side replay of the poly fold
    var acc = 0L
    (1 to 300).foreach(_ => acc = (acc * 131 + 'a'.toInt) % 1000000007L)
    assert(f.checksum == acc)
  }

  test("image header sniffing: PNG/GIF/BMP/JPEG dimensions without a codec") {
    def gif(w: Int, h: Int): Array[Byte] =
      "GIF89a".getBytes ++ Array((w & 0xff).toByte, (w >> 8).toByte,
        (h & 0xff).toByte, (h >> 8).toByte)
    def bmp(w: Int, h: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(26).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte)
      bb.position(14); bb.putInt(40) // BITMAPINFOHEADER
      bb.putInt(w).putInt(h)
      bb.array()
    }
    def bmpCore(w: Int, h: Int): Array[Byte] = {
      // OS/2 BITMAPCOREHEADER: dib size 12, 16-bit dims at 18/20
      val bb = java.nio.ByteBuffer.allocate(26).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte)
      bb.position(14); bb.putInt(12)
      bb.putShort(w.toShort).putShort(h.toShort)
      bb.array()
    }
    def jpeg(w: Int, h: Int, fill: Boolean = false): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(34)
      bb.put(Array(0xff, 0xd8).map(_.toByte))             // SOI
      bb.put(Array(0xff, 0xe0).map(_.toByte)).putShort(4) // APP0, len 4
      bb.putShort(0)                                      // APP0 payload
      if (fill) bb.put(0xff.toByte)                       // spec'd fill byte
      bb.put(Array(0xff, 0xc0).map(_.toByte)).putShort(11) // SOF0
      bb.put(8.toByte).putShort(h.toShort).putShort(w.toShort)
      bb.array()
    }
    assert(Multimodal.sniffImage(Multimodal.pngHeader(640, 480)) == ("png", 640, 480))
    assert(Multimodal.sniffImage(gif(320, 200)) == ("gif", 320, 200))
    assert(Multimodal.sniffImage(bmp(800, 600)) == ("bmp", 800, 600))
    assert(Multimodal.sniffImage(bmpCore(100, 200)) == ("bmp", 100, 200))
    assert(Multimodal.sniffImage(jpeg(1024, 768)) == ("jpeg", 1024, 768))
    // 0xFF fill bytes before a marker are legal (JPEG B.1.1.2)
    assert(Multimodal.sniffImage(jpeg(1024, 768, fill = true)) == ("jpeg", 1024, 768))
    assert(Multimodal.sniffImage("not an image".getBytes)._1 == "unknown")
    // the batched Dataset path carries the same values
    val media = Seq(
      Multimodal.MediaRecord(1L, Multimodal.pngHeader(12, 34), "png", 24L),
      Multimodal.MediaRecord(2L, "nope".getBytes, "txt", 4L)
    ).toDS()
    val metas = Multimodal.imageMetadata(media).collect()
      .map(m => m.media_id -> ((m.format, m.width, m.height))).toMap
    assert(metas(1L) == ("png", 12, 34))
    assert(metas(2L) == ("unknown", -1, -1))
  }

  test("WAV header sniffing: round-trip, chunk walking, garbage") {
    // canonical header round-trips exactly
    assert(Multimodal.sniffWav(Multimodal.wavHeader(44100, 2, 16, 1234L))
      .contains((44100, 2, 16, 1234L)))
    assert(Multimodal.sniffWav(Multimodal.wavHeader(8000, 1, 8, 0L))
      .contains((8000, 1, 8, 0L)))
    // fmt not first: a LIST chunk precedes it (the common real-file layout)
    val canonical = Multimodal.wavHeader(22050, 1, 16, 99L)
    val bb = java.nio.ByteBuffer.allocate(44 + 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(canonical, 0, 12)               // RIFF....WAVE
    bb.put("LIST".getBytes).putInt(4).putInt(0) // 4-byte LIST chunk
    bb.put(canonical, 12, 32)              // fmt + data chunks
    assert(Multimodal.sniffWav(bb.array()).contains((22050, 1, 16, 99L)))
    // not audio
    assert(Multimodal.sniffWav("not audio at all, nope".getBytes).isEmpty)
    assert(Multimodal.sniffWav(Multimodal.pngHeader(2, 2)).isEmpty)
    // sub-byte sample width (4-bit IMA ADPCM exists in the wild): the
    // sample-count divisor would be 0 — sentinel, not ArithmeticException
    val adpcm = Multimodal.wavHeader(8000, 1, 16, 10L)
    val ab = java.nio.ByteBuffer.wrap(adpcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ab.putShort(34, 4.toShort) // bits_per_sample = 4
    assert(Multimodal.sniffWav(adpcm).isEmpty)
    ab.putShort(34, 12.toShort) // non-whole-byte width
    assert(Multimodal.sniffWav(adpcm).isEmpty)
    // the batched Dataset path carries the sentinel row through
    val media = Seq(
      Multimodal.MediaRecord(1L, canonical, "wav", 44L),
      Multimodal.MediaRecord(2L, "nope".getBytes, "txt", 4L)).toDS()
    val metas = Multimodal.audioMetadata(media).collect()
      .map(m => m.media_id -> m).toMap
    assert(metas(1L).sample_rate == 22050 && metas(1L).duration_ms == 99L * 1000 / 22050)
    assert(metas(2L).format == "unknown" && metas(2L).sample_rate == -1)
  }

  test("real PCM decode: WAV construct↔decode round-trip recovers exact samples") {
    val ids = Seq(0L, 1L, 2L, 255L)
    val stats = Multimodal.decodeAudioStats(
      Multimodal.withSyntheticWavPcm(ids.toDF("doc_id"), "doc_id"))
      .collect().map(s => s.media_id -> s).toMap
    ids.foreach { id =>
      val channels = 1 + (id % 2).toInt
      val s = stats(id)
      assert(s.sample_rate == 8000 && s.channels == channels && s.n_samples == 64)
      val c0 = (0 until 64).map(i => Multimodal.synthSample(id, i, 0))
      assert(s.mean_c0 == c0.map(_.toLong).sum.toDouble / 64)
      assert(s.min_c0 == c0.min && s.max_c0 == c0.max)
      if (channels == 2) {
        val c1 = (0 until 64).map(i => Multimodal.synthSample(id, i, 1))
        assert(s.mean_c1 == c1.map(_.toLong).sum.toDouble / 64)
        assert(s.min_c1 == c1.min && s.max_c1 == c1.max)
      } else assert(s.mean_c1 == 0.0 && s.min_c1 == 0 && s.max_c1 == 0)
    }
    // negative samples survive the signed little-endian round trip
    assert(stats.values.exists(_.min_c0 < 0))
    // non-audio payloads yield the sentinel row
    val bad = Multimodal.decodeAudioStats(Seq(
      Multimodal.MediaRecord(9L, "not audio".getBytes, "txt", 9L)).toDS())
      .collect().head
    assert(bad.sample_rate == -1)
    // 24/32-bit and float WAVs are out of the 8/16-bit linear-PCM scope:
    // sentinel (None), never silently-wrong stats read 2 bytes at a time
    def wavWith(bits: Int, fmtCode: Short): Array[Byte] = {
      val blockAlign = bits / 8
      val dataBytes = 4 * blockAlign
      val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + dataBytes).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(fmtCode).putShort(1)
        .putInt(8000).putInt(8000 * blockAlign).putShort(blockAlign.toShort)
        .putShort(bits.toShort)
      bb.put("data".getBytes).putInt(dataBytes)
      bb.array()
    }
    assert(Multimodal.AudioCodec.decodePcm(wavWith(24, 1)).isEmpty)
    assert(Multimodal.AudioCodec.decodePcm(wavWith(32, 1)).isEmpty)
    assert(Multimodal.AudioCodec.decodePcm(wavWith(32, 3)).isEmpty) // IEEE float
    // 8-bit PCM is unsigned; a data chunk shorter than its declared size
    // yields the whole frames present
    val pcm8 = Multimodal.wavHeader(8000, 1, 8, 4L) ++ Array[Byte](0, 127, -128, -1)
    def samples(b: Array[Byte]) =
      Multimodal.AudioCodec.decodePcm(b).map(d => (d._1, d._2, d._3.head.toSeq))
    assert(samples(pcm8).contains((8000, 1, Seq(0, 127, 128, 255))))
    assert(samples(pcm8.dropRight(1)).contains((8000, 1, Seq(0, 127, 128))))
  }

  test("AVI walk + frame sampling: construct↔walk round-trip, stride, garbage") {
    val frames = Seq.tabulate(5)(f => Array.tabulate(7)(j => (f * 10 + j).toByte))
    val avi = Multimodal.aviBytes(320, 240, frames)
    val Some((w, h, n, chunks)) = Multimodal.walkAvi(avi)
    assert(w == 320 && h == 240 && n == 5 && chunks.length == 5)
    // offsets point at the exact payloads (odd frame size exercises the pad)
    chunks.zipWithIndex.foreach { case ((off, size), f) =>
      assert(size == 7)
      assert(avi.slice(off, off + size).toSeq == frames(f).toSeq)
    }
    assert(Multimodal.walkAvi("definitely not a RIFF".getBytes).isEmpty)
    assert(Multimodal.walkAvi(Multimodal.wavHeader(8000, 1, 16, 4)).isEmpty) // RIFF but WAVE
    // a crafted file of deeply nested LIST chunks hits the depth bound and
    // returns the sentinel instead of StackOverflowError-ing the task
    val depth = 100000 // would overflow an unbounded recursive walk
    val nested = java.nio.ByteBuffer.allocate(12 + depth * 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    nested.put("RIFF".getBytes).putInt(4 + depth * 12).put("AVI ".getBytes)
    for (d <- depth to 1 by -1) {
      nested.put("LIST".getBytes).putInt(4 + (d - 1) * 12).put("nest".getBytes)
    }
    assert(Multimodal.walkAvi(nested.array()).isEmpty)

    // the Dataset path: stride-2 sampling digests frames 0 and 2 of 4
    val stats = Multimodal.sampleVideoFrames(
      Multimodal.withSyntheticAvi(Seq(3L).toDF("doc_id"), "doc_id"), stride = 2)
      .collect().head // id=3: n_frames = 3%7+1 = 4
    assert(stats.width == 4 && stats.height == 10 && stats.n_frames == 4)
    assert(stats.n_sampled == 2 && stats.sampled_bytes == 64)
    var acc = 0L
    for (f <- Seq(0, 2); j <- 0 until 32)
      acc = (acc * 131 + Multimodal.synthFrameByte(3L, f, j)) % 1000000007L
    assert(stats.frames_checksum == acc)
  }

  test("int8 quantization: hand-computed values, zero-vector guard") {
    val df = Seq(
      (1L, Seq(1.0f, -2.0f, 0.5f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val (scale, q, err) = Similarity.quantizeInt8(col("embedding"))
    val rows = df.select(col("vec_id"), scale.as("s"), q.as("q"), err.as("e"))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getSeq[Long](2), r.getDouble(3)))).toMap
    val (s1, q1, e1) = rows(1L)
    assert(math.abs(s1 - 2.0 / 127) < 1e-12)
    assert(q1 == Seq(64L, -127L, 32L, 0L))
    assert(math.abs(e1 - 1.0 / 127) < 1e-9) // worst element: 1.0 -> 64*scale
    val (s2, q2, e2) = rows(2L)
    assert(s2 == 0.0 && q2 == Seq(0L, 0L, 0L, 0L) && e2 == 0.0)
  }

  test("native quantize_stats == lambda quantizeInt8 on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val st = Similarity.quantizeInt8Stats(col("embedding"))
    val native = emb.select(col("vec_id"),
        st.getField("scale").as("s"), st.getField("q_sum").as("qs"),
        st.getField("q_min").as("qn"), st.getField("q_max").as("qx"),
        st.getField("q_nonzero").as("nz"), st.getField("max_abs_err").as("e"))
      .orderBy("vec_id").collect().map(_.toSeq)
    val (scale, q, err) = Similarity.quantizeInt8(col("embedding"))
    val lambda = emb.select(col("vec_id"),
        scale.as("s"),
        aggregate(q, lit(0L), (a, v) => a + v).as("qs"),
        array_min(q).as("qn"), array_max(q).as("qx"),
        aggregate(q, lit(0L),
          (a, v) => a + when(v =!= 0L, lit(1L)).otherwise(lit(0L))).as("nz"),
        err.as("e"))
      .orderBy("vec_id").collect().map(_.toSeq)
    assert(native.length == lambda.length && native.nonEmpty)
    native.zip(lambda).foreach { case (n, l) => assert(n == l) }
  }

  test("HashImpls matches a hand-computed fold") {
    // "ab" -> ((0*131+97)%P)*131 + 98 = 97*131+98
    assert(HashImpls.polyHash("ab") == 97L * 131 + 98)
    assert(HashImpls.polyHash("") == 0L)
  }

  test("decontaminate: overlap counts, short-doc guard, broadcast semi-join plan") {
    import spark.implicits._
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "a b c d e f"),      // identical to the benchmark doc
      (2L, "x y a b c d z w"),  // one shared 4-gram ("a b c d")
      (3L, "p q r"),            // shorter than n — no grams at all
      (4L, null.asInstanceOf[String]), // null text survives as clean
      (5L, "u v w x y z q2")    // no overlap
    ).toDF("doc_id", "text")
    val bench = Seq("a b c d e f").toDF("text")
    val out = Dedup.decontaminate(docs, "doc_id", "text", bench, "text", n = 4)
    val byId = out.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getBoolean(2))).toMap
    // doc 1 holds all three benchmark 4-grams; doc 2 exactly one
    assert(byId(1L) == (3L, true))
    assert(byId(2L) == (1L, true))
    assert(byId(3L) == (0L, false))
    assert(byId(4L) == (0L, false))
    assert(byId(5L) == (0L, false))
    // the benchmark side broadcasts; the corpus is never the build side
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
  }

  test("native sign_bits == SQL-lambda formulation on real embeddings + edges") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(100)
    for (bits <- Seq(8, 16)) {
      val diff = emb.select(
        Similarity.signBits(col("embedding"), bits).as("a"),
        SpecTwins.signBitsLambda(col("embedding"), bits).as("b"))
        .filter(col("a") =!= col("b")).count()
      assert(diff == 0, s"bits=$bits")
    }
    // vectors shorter than bits leave high bits 0; NaN counts as
    // positive (SQL comparison semantics rank NaN above every number)
    val edges = Seq(
      Array(1.0f, -1.0f),
      Array(-0.0f, 0.0f, Float.NaN, 5.0f),
      Array.empty[Float]
    ).toDF("embedding")
    val ediff = edges.select(
      Similarity.signBits(col("embedding"), 8).as("a"),
      SpecTwins.signBitsLambda(col("embedding"), 8).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(ediff == 0)
    // array<double> callers get an analysis-time cast to array<float>
    // (the expression reads 4-byte slots: without ImplicitCastInputTypes
    // a double array would silently yield wrong buckets)
    val dbl = Seq(Seq(1.0, -2.0, 3.0), Seq(-1.0, 0.5))
      .toDF("embedding")
    val ddiff = dbl.select(
      Similarity.signBits(col("embedding"), 8).as("a"),
      Similarity.signBits(
        col("embedding").cast("array<float>"), 8).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(ddiff == 0)
  }

  test("dedupAgainstCorpus drops seen digests, keeps first within batch") {
    import spark.implicits._
    val seen = Seq((100L, "alpha"), (101L, "beta")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "alpha"),   // already retained → dropped
      (2L, "gamma"),   // new
      (3L, "gamma"),   // within-batch copy → only id 2 survives
      (4L, "beta"),    // already retained → dropped
      (5L, "delta"),   // new, unique
      (6L, null.asInstanceOf[String]), // null == "" digest, new
      (7L, null.asInstanceOf[String])  // second null: within-batch copy
    ).toDF("doc_id", "text")
    val got = Dedup.dedupAgainstCorpus(batch, "doc_id", "text", seen, "text")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(2L, 5L, 6L))
    // the batch pays ONE digest exchange: the keep-first window reuses
    // the anti-join's sha partitioning (no second Exchange between them),
    // and seen text never goes past its digest projection
    val plan = Dedup.dedupAgainstCorpus(batch, "doc_id", "text", seen, "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__sha__"), plan)
    assert(!plan.contains("SinglePartition"), plan)
    // rank-1 window gets map-side pruning
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("dedupAgainstCorpusBloom == dedupAgainstCorpus, and prunes before the exchange") {
    import spark.implicits._
    val d = docs.select(col("doc_id"), col("text"))
    val batch = d.unionAll(d.filter(col("doc_id") % 5 === 1)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val seen = d.filter(col("doc_id") % 3 === 0)
    val plain = Dedup.dedupAgainstCorpus(batch, "doc_id", "text", seen, "text")
      .collect().map(_.getLong(0)).sorted.toSeq
    val bloomed = Dedup.dedupAgainstCorpusBloom(batch, "doc_id", "text",
      seen, "text", expectedBatch = 200L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(plain == bloomed)
    assert(plain.nonEmpty)
    // the bloom probe must sit on the seen-side SCAN, upstream of its
    // exchange: the filter is exact for misses, so only ~|batch| seen
    // digests ever shuffle
    val plan = Dedup.dedupAgainstCorpusBloom(batch, "doc_id", "text",
      seen, "text", expectedBatch = 200L)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("bloommightcontain"), plan)
    val filterIdx = plan.toLowerCase.indexOf("bloommightcontain")
    // a codegen'd expression, not a UDF
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
    assert(filterIdx >= 0)
  }

  test("clusterRepresentatives keeps the best-scored member per cluster") {
    import spark.implicits._
    val d = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L),  // cluster {1,2,3}: 2 wins (30, lower id)
      (4L, 5L),                          // singleton: survives
      (5L, 7L), (6L, 9L)                 // cluster {5,6}: 6 wins
    ).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.clusterRepresentatives(d, "doc_id", pairs, "score")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster")))
      .sortBy(_._1).toSeq
    assert(got == Seq((2L, 1L), (4L, 4L), (6L, 5L)))
    graft.ops.Caches.releaseAll()
  }

  test("dupSpanProfile counts corpus-wide repeated shingles per doc") {
    import spark.implicits._
    // k=2 word shingles; "a b" appears in docs 1 and 2, "b c" only in 1,
    // doc 3 repeats "x y" internally (within-doc repeats count too)
    val df = Seq(
      (1L, "a b c"),     // shingles: (a b), (b c)
      (2L, "a b"),       // shingles: (a b)
      (3L, "x y x y"),   // shingles: (x y), (y x), (x y)
      (4L, "q r")        // shingles: (q r) — unique
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpanProfile(df, "doc_id", "text", k = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == (2L, 1L, 0.5))
    assert(got(2L) == (1L, 1L, 1.0))
    assert(got(3L) == (3L, 2L, 0.666667))
    assert(got(4L) == (1L, 0L, 0.0))
    // decision shuffle is keyed on the 8-byte shingle hash; text never
    // reaches an exchange
    val plan = Dedup.dupSpanProfile(df, "doc_id", "text", k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__h__"), plan)
    assert(!plan.contains("SinglePartition"), plan)
    // occurrence counting must be a partial-aggregable groupBy (map-side
    // combine collapses hot boilerplate shingles pre-shuffle), NOT a
    // count-over-window on the hash key (ships every occurrence to one
    // task)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("removeDupSpans excises later occurrences, keeps first, rebuilds text") {
    import spark.implicits._
    // k=3 shingles. Doc 1 owns "one two three"; doc 2 repeats it inside a
    // longer sentence — those three tokens are excised from doc 2 only.
    val df = Seq(
      (1L, "one two three"),
      (2L, "start one two three end"),
      (3L, "totally unrelated words here"),
      (4L, "one two three") // full repeat of doc 1: everything excised
    ).toDF("doc_id", "text")
    val got = Dedup.removeDupSpans(df, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "one two three")
    // doc 2: shingle ("one","two","three") at pos 1 is a repeat; it
    // covers tokens 1..3. "start" (covered only by flagged-free shingle
    // 0? no — shingle 0 = start one two, unique) and "end" survive
    assert(got(2L) == "start end")
    assert(got(3L) == "totally unrelated words here")
    assert(got(4L) == "")
    // only the hash rides the decision shuffle
    val plan = Dedup.removeDupSpans(df, "doc_id", "text", k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__h__"), plan)
    assert(!plan.contains("SinglePartition"), plan)
    // keep-first must be a partial-aggregable min(struct(id,pos)) per
    // hash — one candidate per map task per hash — NOT a row_number
    // window sorting every occurrence of a hot shingle in one task
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_min"), plan)
  }

  test("dedupParagraphs keeps first occurrences corpus-wide and rebuilds docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "INTRO\n\nunique one\n\nshared para"),
      (2L, "INTRO\n\nshared para\n\nunique two"),
      (3L, "shared para\n\nshared para"), // within-doc repeat too
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = Dedup.dedupParagraphs(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 is first for INTRO, "unique one", "shared para"
    assert(got(1L) == "INTRO\n\nunique one\n\nshared para")
    // doc 2 loses INTRO and "shared para" (doc 1 owns them)
    assert(got(2L) == "unique two")
    // doc 3 loses both copies; survives as empty text
    assert(got(3L) == "")
    // null text becomes one empty paragraph — doc 4 is its first owner
    assert(got(4L) == "")
    // the keep-decision window is keyed on the 32-byte digest (projected
    // into a _w0 column first), never single-partition
    val plan = Dedup.dedupParagraphs(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("sha2(cast(__para__"), plan)
    assert(!plan.contains("SinglePartition"), plan)
    // rank-limit pushdown: a partial WindowGroupLimit prunes losers
    // map-side BEFORE the shuffle (the combiner shape of this dedup)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("dedupParagraphs rebuild: O(P) native merge == lambda spec, scales to many paragraphs") {
    import spark.implicits._
    import graft.functions.NativeText
    // native two-pointer rebuild must match the O(P*K) array_contains
    // lambda on edge shapes: empty keeps, trailing separators (empty
    // parts are real positions), keeps past the end, unicode seps
    val cases = Seq(
      ("a\n\nb\n\nc", Seq(0, 2), "a\n\nc"),
      ("a\n\nb\n\nc", Seq.empty[Int], ""),
      ("a\n\nb\n\n", Seq(0, 2), "a\n\n"),     // pos 2 is the trailing empty
      ("", Seq(0), ""),
      ("x", Seq(5), ""),                      // keep beyond last part
      ("p\n\np\n\np", Seq(1), "p"))
    val df = cases.zipWithIndex
      .map { case ((t, k, want), i) => (i, t, k, want) }
      .toDF("i", "t", "keep", "want")
    val got = df.select(col("i"), col("want"),
      NativeText.keep_split_parts(col("t"), col("keep"), "\n\n").as("nat"),
      SpecTwins.keepSplitPartsLambda(col("t"), col("keep"), "\n\n").as("lam"))
      .collect()
    got.foreach { r =>
      assert(r.getAs[String]("nat") == r.getAs[String]("want"), r)
      assert(r.getAs[String]("lam") == r.getAs[String]("want"), r)
    }
    // a 4000-paragraph doc (half of them corpus-duplicated) round-trips —
    // the shape that makes an O(P*K) rebuild pay ~10^6+ comparisons in
    // one row; the merge rebuild handles it in one linear pass
    val paras = (0 until 4000).map(i =>
      if (i % 2 == 0) s"unique paragraph $i" else "REPEATED BOILERPLATE")
    val big = Seq(
      (0L, "REPEATED BOILERPLATE"),           // owns the duplicate
      (1L, paras.mkString("\n\n"))
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(big, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val wantBig = paras.filter(_.startsWith("unique")).mkString("\n\n")
    assert(out(0L) == "REPEATED BOILERPLATE")
    assert(out(1L) == wantBig)
  }

  test("native word_ngrams == SQL-lambda formulation on real documents + edges") {
    import graft.functions.NativeText
    val diff = docs.select(
      NativeText.word_ngrams(coalesce(col("text"), lit("")), 8).as("a"),
      SpecTwins.wordNgramsLambda(col("text"), 8).as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(diff == 0)
    // tokenization is on U+0020 ONLY (tabs/newlines are token chars),
    // duplicate grams collapse keeping first occurrence, short/empty
    // docs yield empty arrays
    val edges = Seq("", "   ", "a b", "a  b  c", "a\tb c d", "x y x y x y",
      "one two three four", " lead trail ", "的 是 了 在")
      .toDF("text")
    for (n <- Seq(1, 2, 3)) {
      val ediff = edges.select(
        NativeText.word_ngrams(coalesce(col("text"), lit("")), n).as("a"),
        SpecTwins.wordNgramsLambda(col("text"), n).as("b"))
        .filter(!(col("a") <=> col("b"))).count()
      assert(ediff == 0, s"n=$n")
    }
  }

  test("shingleNovelty: copies score zero, fresh text full, overlap partial") {
    import spark.implicits._
    val ref = Seq((10L, "alpha beta gamma delta")).toDF("id", "text")
    val df = Seq(
      (1L, "alpha beta gamma delta"),        // exact copy → 0 novel
      (2L, "totally different words here"),  // all novel
      (3L, "alpha beta gamma epsilon"))      // shares 2 of 2+... partial
      .toDF("id", "text")
    val got = graft.ops.Dedup.shingleNovelty(df, "id", "text",
        ref, "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"))).toMap
    assert(got(1L)._2 == 0L)
    assert(got(2L)._2 == got(2L)._1 && got(2L)._1 > 0L)
    assert(got(3L)._2 > 0L && got(3L)._2 < got(3L)._1)
  }

  test("crossSourceDups: distinct texts per pair, within-source copies count once") {
    import spark.implicits._
    val df = Seq(
      ("a", "x"), ("a", "x"), ("a", "y"),  // a's duplicate x counts once
      ("b", "x"), ("b", "y"), ("b", "z"),
      ("c", "z")).toDF("src", "text")
    val got = graft.ops.Dedup.crossSourceDups(df, "src", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("n_shared")).toMap
    assert(got == Map(("a", "b") -> 2L, ("b", "c") -> 1L))
  }

  test("templateScore: stamped source flags; within-doc repetition collapses") {
    import spark.implicits._
    val stamp = "one two three four five six seven eight" // exactly k=8
    val df = Seq(
      (1L, s"alpha beta $stamp", "t"),
      (2L, s"gamma delta $stamp", "t"),
      // repeating the stamp INSIDE one doc must not inflate df
      (3L, s"$stamp pad pad pad pad pad pad pad $stamp", "t"),
      (4L, "totally different words without any shared phrasing here", "c"),
      (5L, "another unrelated document of plain prose for control", "c"))
      .toDF("id", "text", "src")
    val got = graft.ops.Dedup.templateScore(df, "id", "text", "src",
        k = 8, pctNum = 50, pctDen = 100)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("max_df"),
         r.getAs[Boolean]("templated"))).toMap
    assert(got("t") == ((3L, 3L, true)))  // stamp shingle in all 3 docs
    assert(got("c")._2 == 1L && !got("c")._3)
  }

  test("markupFeatures: tags/entities counted, ratio flag, clean text zero") {
    import spark.implicits._
    val df = Seq(
      (1L, "plain prose with no markup at all in a longer sentence"),
      (2L, "<b>x</b> tiny"),                    // 7 of 13 chars = tags
      (3L, "&amp; &#39; entities only no tags here in this doc"),
      (4L, "a < b and b > c is math, not markup")).toDF("id", "text")
    val cols = graft.ops.TextAnalysis.markupFeatures(col("text"))
      .map { case (n, c) => c.as(n) }
    val got = df.select(col("id") +: cols: _*)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tags"), r.getAs[Long]("n_entities"),
         r.getAs[Boolean]("markup_heavy"))).toMap
    assert(got(1L) == ((0L, 0L, false)))
    assert(got(2L)._1 == 2L && got(2L)._3)      // 7/13 > 5%
    assert(got(3L) == ((0L, 2L, false)))
    assert(got(4L) == ((0L, 0L, false)))        // comparisons aren't tags
  }

  test("embeddingDrift: shifted dimension flags, others exact-equal") {
    import spark.implicits._
    val a = Seq(Tuple1(Array(0.1f, 0.5f)), Tuple1(Array(0.3f, 0.5f)))
      .toDF("embedding")
    // dim 0 shifted by +0.3 (300 milli > t=100); dim 1 identical
    val b = Seq(Tuple1(Array(0.4f, 0.5f)), Tuple1(Array(0.6f, 0.5f)))
      .toDF("embedding")
    val got = graft.ops.Similarity.embeddingDrift(a, b, "embedding",
        tNum = 100, tDen = 1)
      .collect().map(r => r.getAs[Int]("dim") ->
        (r.getAs[Long]("sum_a"), r.getAs[Long]("sum_b"),
         r.getAs[Boolean]("drift"))).toMap
    assert(got(0) == ((400L, 1000L, true)))
    assert(got(1) == ((1000L, 1000L, false)))
  }

  test("keepBest: highest score wins among duplicates, id breaks ties") {
    import spark.implicits._
    val df = Seq(
      (1L, "same", 5L), (2L, "same", 9L), (3L, "same", 9L), // 9-tie → id 2
      (4L, "only", 1L)).toDF("id", "text", "score")
    val got = graft.ops.Dedup.keepBest(df, "text", "id", "score")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("score"), r.getAs[Long]("n_copies"))).toMap
    assert(got == Map(2L -> ((9L, 3L)), 4L -> ((1L, 1L))))
  }

  test("keepBest: non-numeric id fails loudly instead of NULL-corrupting") {
    import spark.implicits._
    // a string id would implicitly cast to double inside the -id
    // tie-break and negate to NULL — require() must reject it up front
    val df = Seq(("d1", "same", 5L), ("d2", "same", 9L))
      .toDF("id", "text", "score")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Dedup.keepBest(df, "text", "id", "score")
    }
    assert(e.getMessage.contains("numeric id"))
  }

  test("pairMetrics: direction and duplicates collapse before counting") {
    import spark.implicits._
    // pred {1-2, 3-4 (given twice, once reversed), 5-6}; truth {1-2, 7-8}
    val pred = Seq((1L, 2L), (3L, 4L), (4L, 3L), (5L, 6L))
      .toDF("a", "b")
    val truth = Seq((2L, 1L), (7L, 8L)).toDF("a", "b")
    val r = graft.ops.Dedup.pairMetrics(pred, truth, "a", "b")
      .collect().head
    assert((r.getAs[Long]("tp"), r.getAs[Long]("fp"),
      r.getAs[Long]("fn")) == ((1L, 2L, 1L)))
  }

  test("scriptProfile: dominant label, tie priority, exact 20% mixed boundary") {
    import spark.implicits._
    val df = Seq(
      (1L, "hello world"),            // pure latin
      (2L, "你好世界"),                // pure cjk
      (3L, "привет мир"),             // pure cyrillic
      (4L, "مرحبا"),                  // pure arabic
      (5L, ""),                       // no letters → none
      (6L, "ab你好"),                  // 2 latin vs 2 cjk tie → latin wins
      (7L, "abcd你"),                  // 1 of 5 = exactly 20% → mixed (>=)
      (8L, "abcde你")                  // 1 of 6 < 20% → not mixed
    ).toDF("id", "text")
    val cols = graft.ops.TextAnalysis.scriptProfile(col("text"))
      .map { case (n, c) => c.as(n) }
    val got = df.select(col("id") +: cols: _*)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[String]("script"), r.getAs[Boolean]("mixed_script"),
         r.getAs[Long]("n_cjk"))).toMap
    assert(got(1L) == (("latin", false, 0L)))
    assert(got(2L) == (("cjk", false, 4L)))
    assert(got(3L)._1 == "cyrillic" && got(4L)._1 == "arabic")
    assert(got(5L) == (("none", false, 0L)))
    assert(got(6L) == (("latin", true, 2L)))  // strict chain: latin on tie
    assert(got(7L)._2 && !got(8L)._2)         // >= makes 20% exact bind
  }

  test("rrfFuse: exact integer scores, both-lists boost, topM cut") {
    import spark.implicits._
    // list1 ranks a,b,c; list2 ranks b,d. k=60, scale=1e6:
    // a: 1000000 div 61 = 16393; b: 16393 + 16129 = 32522 (rank-1 in one
    // + rank-2 in the other beats any single-list item); d: 16129.
    val l1 = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("item", "rank")
    val l2 = Seq(("b", 1), ("d", 2)).toDF("item", "rank")
    val got = graft.ops.Similarity.rrfFuse(Seq(l1, l2), "item", "rank",
        kParam = 60, topM = 3)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("rrf_mil"), r.getAs[Long]("n_lists"),
         r.getAs[Int]("rank"))).toMap
    assert(got("b") == ((16393L + 16129L, 2L, 1)))
    assert(got("a") == ((16393L, 1L, 2)))
    assert(got("d") == ((16129L, 1L, 3)))
    assert(!got.contains("c")) // topM = 3 cuts the fourth item
  }

  test("minhashNearDupsAgainst: batch probes corpus, no self-pairs") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "an entirely different document about distributed query engines"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river today"),
      (101L, "completely unrelated text with no shingles in common at all zz")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashNearDupsAgainst(batch, corpus, "doc_id", "text",
        bands = 8, rows = 4, shingleK = 3, threshold = 0.2)
      .collect().map(r => (r.getAs[Long]("batch_id"),
        r.getAs[Long]("corpus_id"))).toSet
    // the near-copy finds both corpus variants; the unrelated doc none
    assert(got.contains((100L, 1L)) && got.contains((100L, 3L)), got)
    assert(!got.exists(_._1 == 101L), got)
    // one-sided probe: corpus ids never appear on the batch side
    assert(got.forall(_._1 >= 100L))
  }

  test("minhashNearDupsAgainst: corpus bucket cap drops boilerplate buckets") {
    val boiler = "identical boilerplate page body repeated across the site"
    val corpus = (1L to 20L).map(i => (i, boiler)).toDF("doc_id", "text")
    val batch = Seq((100L, boiler + " x")).toDF("doc_id", "text")
    val capped = Dedup.minhashNearDupsAgainst(batch, corpus, "doc_id",
      "text", threshold = 0.2, maxBucketSize = 5)
    assert(capped.count() == 0, "capped boilerplate bucket must not pair")
    graft.ops.Caches.releaseAll()
    val uncapped = Dedup.minhashNearDupsAgainst(batch, corpus, "doc_id",
      "text", threshold = 0.2)
    assert(uncapped.count() == 20)
  }

  test("embeddingNearDupsAgainst: one-sided probe, threshold, NaN guard") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),    // bucket 1, same direction as 100
      (2L, Seq(-1.0f, 0.0f, 0.0f)),   // bucket 0 (no positive dim)
      (3L, Seq(0.9f, 0.0f, -0.1f)),   // bucket 1, near batch 100
      (4L, Seq(0.0f, 0.0f, 0.0f)))    // bucket 0, zero-norm: cosine NaN
      .toDF("vec_id", "embedding")
    val batch = Seq(
      (100L, Seq(1.0f, 0.0f, 0.0f)),
      (101L, Seq(0.0f, 0.0f, 0.0f)))  // zero-norm probe shares bucket 0
      .toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDupsAgainst(batch, corpus, "vec_id",
        "embedding", threshold = 0.5, bits = 3)
      .collect().map(r => (r.getAs[Long]("batch_id"),
        r.getAs[Long]("corpus_id"))).toSet
    assert(got == Set((100L, 1L), (100L, 3L)), got)
  }

  test("embeddingNearDupsAgainst: corpus bucket cap, plan equi-join") {
    val hot = (1L to 20L).map(i => (i, Seq(1.0f, 0.0f)))
    val corpus = (hot :+ ((50L, Seq(-1.0f, 0.1f)))).toDF("vec_id", "embedding")
    val batch = Seq((100L, Seq(1.0f, 0.0f)), (101L, Seq(-1.0f, 0.2f)))
      .toDF("vec_id", "embedding")
    val capped = Dedup.embeddingNearDupsAgainst(batch, corpus, "vec_id",
      "embedding", threshold = 0.5, bits = 2, maxBucketSize = 5)
    // the 20-member bucket is dropped; the 1-member bucket survives
    assert(capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((101L, 50L)))
    graft.ops.Caches.releaseAll()
    val plan = Dedup.embeddingNearDupsAgainst(batch, corpus, "vec_id",
        "embedding", threshold = 0.5, bits = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("minhashNearDupsAgainst plan: banded equi-join, no cartesian") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val batch = d.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" z")).as("text"))
    val plan = Dedup.minhashNearDupsAgainst(batch, d, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("band"), plan)
  }

  /** Independent winnowing reference over the shared hash primitive:
    * every window of w shingle hashes keeps its rightmost minimum. */
  private def winnowRef(text: String, k: Int, w: Int): Set[(Int, Long)] = {
    val hs = HashImpls.shingleHashes(text, k)
    val m = hs.length
    (1 to math.max(m - (w - 1), 1)).map { j =>
      val jend = math.min(j + (w - 1), m)
      var bv = Long.MaxValue; var bp = 0
      for (i <- j to jend) if (hs(i - 1) <= bv) { bv = hs(i - 1); bp = i }
      (bp, bv)
    }.toSet
  }

  test("winnowFingerprints ≡ brute-force reference, incl. tie + short docs") {
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "a b a b a b a b a b",      // repeated shingles force hash ties
      3L -> "one two three",            // exactly one shingle window
      4L -> "solo",                     // fewer tokens than k
      5L -> "")                         // empty text
    val df = texts.toDF("doc_id", "text")
    val got = Dedup.winnowFingerprints(df, "doc_id", "text", k = 3, w = 4)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Int]("pos"), r.getAs[Long]("h"))))
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
    texts.foreach { case (id, t) =>
      assert(got(id) == winnowRef(t, 3, 4), s"doc $id")
    }
    // null text behaves as empty, not as a dropped row
    val nullGot = Dedup.winnowFingerprints(
      Seq((9L, null: String)).toDF("doc_id", "text"),
      "doc_id", "text", k = 3, w = 4).collect()
    assert(nullGot.length == 1 &&
      nullGot.head.getAs[Long]("h") == HashImpls.shingleHashes("", 3)(0))
  }

  test("winnowing guarantee: shared run >= w+k-1 tokens shares a print") {
    // docs share the 6-token run (w + k - 1 = 6) inside unrelated text
    val shared = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (1L, s"xx yy $shared zz ww"),
      (2L, s"pp $shared qq rr ss tt")).toDF("doc_id", "text")
    val prints = Dedup.winnowFingerprints(df, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("h")))
    val h1 = prints.filter(_._1 == 1L).map(_._2).toSet
    val h2 = prints.filter(_._1 == 2L).map(_._2).toSet
    assert(h1.intersect(h2).nonEmpty)
    // density: never more prints than windows, always >= 1 per doc
    val counts = prints.groupBy(_._1).map(_._2.length)
    assert(counts.forall(_ >= 1))
  }

  test("winnowFingerprints plan: per-row until explode, no exchange") {
    // parquet-backed input — a literal local relation constant-folds the
    // whole projection away and hides the shape under test (and the
    // shared `docs` fixture's limit(100) would inject its own exchange)
    val full = spark.read.parquet(
      "/root/testdata/sf0.001/documents.parquet")
    val plan = Dedup.winnowFingerprints(full, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // the hash array is materialized once; the window lambdas reference
    // the attribute (no per-window re-tokenization of the document)
    assert(plan.contains("shinglehashesexpr"), plan)
    assert(plan.split("shinglehashesexpr").length == 2,
      "shinglehashesexpr must appear exactly once in the plan:\n" + plan)
  }

  test("compressionSignals: deflate cross-validation, invariants, SQL path") {
    // direct cross-validation against java.util.zip on real docs + edges
    def refDeflate(s: String): Long = {
      val d = new java.util.zip.Deflater(6, true)
      try {
        d.setInput(s.getBytes("UTF-8")); d.finish()
        val buf = new Array[Byte](8192)
        var n = 0L
        while (!d.finished()) n += d.deflate(buf)
        n
      } finally d.end()
    }
    val sample = docs.select(col("doc_id"), col("text")).limit(20)
    val got = TextAnalysis.compressionSignals(sample, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bytes"), r.getAs[Long]("deflate_bytes")))).toMap
    val raw = sample.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    raw.foreach { case (id, text) =>
      assert(got(id) ==
        ((text.getBytes("UTF-8").length.toLong, refDeflate(text))), s"doc $id")
    }
    // invariant: pure repetition compresses far better than varied text
    val inv = TextAnalysis.compressionSignals(
      Seq((1L, "ab" * 500), (2L, (1 to 500).mkString(" "))).toDF("id", "t"),
      "id", "t").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("compression_ratio"))
      .toMap
    assert(inv(1L) < 0.05 && inv(2L) > 0.2, inv)
    // empty text: ratio is null, deflate of zero bytes still emits a block
    val empty = TextAnalysis.compressionSignals(
      Seq((1L, "")).toDF("id", "t"), "id", "t").collect().head
    assert(empty.getAs[Long]("n_bytes") == 0L)
    assert(empty.isNullAt(empty.fieldIndex("compression_ratio")))
    // SQL registration path computes the same value
    graft.functions.GraftSqlExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT graft_deflate_size('hello hello hello', 6) AS n")
      .collect().head.getAs[Long]("n")
    assert(viaSql == refDeflate("hello hello hello"))
  }

  test("imageAHash: decode matches the pixel-formula hash; copies collide") {
    val media = Multimodal.withSyntheticImage(
      Seq(5L, 12L).toDF("doc_id"), "doc_id")
    val got = Multimodal.imageAHash(media).collect()
      .map(r => r.media_id -> r).toMap
    // driver-side replay of the synthetic pixel formula
    def ref(id: Long) = {
      val w = (id % 16 + 1).toInt
      val h = (id * 7 % 16 + 1).toInt
      val lumas = for (y <- 0 until h; x <- 0 until w) yield {
        val (r, g, b) = Multimodal.synthPixel(id, x, y)
        (299L * r + 587L * g + 114L * b) / 1000L
      }
      val n = w * h
      val sum = lumas.sum
      val nb = math.min(64, n)
      var hi = 0L; var lo = 0L; var ones = 0
      for (i <- 0 until nb if lumas(i) * n > sum) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
        ones += 1
      }
      (w, h, nb, hi, lo, ones)
    }
    Seq(5L, 12L).foreach { id =>
      val r = got(id)
      assert((r.width, r.height, r.n_bits, r.ahash_hi, r.ahash_lo,
        r.n_ones) == ref(id), s"id $id")
    }
    // byte-identical copies hash identically (the near-dup group key)
    val twice = media.union(media)
    val hashes = Multimodal.imageAHash(twice).collect()
      .groupBy(r => (r.ahash_hi, r.ahash_lo)).values.map(_.length).toSeq
    assert(hashes.sorted == Seq(2, 2))
  }

  test("imageDHash: decode matches the formula; brightness-shift invariant") {
    val media = Multimodal.withSyntheticImage(
      Seq(5L, 12L, 16L).toDF("doc_id"), "doc_id")  // 16 → 1×1 image
    val got = Multimodal.imageDHash(media).collect()
      .map(r => r.media_id -> r).toMap
    def lumasOf(id: Long): (Int, Int, IndexedSeq[Long]) = {
      val w = (id % 16 + 1).toInt
      val h = (id * 7 % 16 + 1).toInt
      (w, h, for (y <- 0 until h; x <- 0 until w) yield {
        val (r, g, b) = Multimodal.synthPixel(id, x, y)
        (299L * r + 587L * g + 114L * b) / 1000L
      })
    }
    def hash(lumas: IndexedSeq[Long]): (Int, Long, Long, Int) = {
      val nb = math.min(64, lumas.length - 1)
      var hi = 0L; var lo = 0L; var ones = 0
      for (i <- 0 until nb if lumas(i + 1) > lumas(i)) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
        ones += 1
      }
      (nb, hi, lo, ones)
    }
    Seq(5L, 12L, 16L).foreach { id =>
      val (w, h, ls) = lumasOf(id)
      val r = got(id)
      assert((r.width, r.height) == ((w, h)), s"id $id")
      assert((r.n_bits, r.dhash_hi, r.dhash_lo, r.n_ones) == hash(ls),
        s"id $id")
    }
    // the dHash property aHash lacks: a global brightness shift keeps
    // every gradient bit (adjacent-order is preserved)
    val (_, _, ls) = lumasOf(5L)
    assert(hash(ls) == hash(ls.map(_ + 37L)))
    // 1×1 image: zero comparable pairs, well-defined zero hash
    assert(got(16L).n_bits == 0 && got(16L).n_ones == 0)
  }

  test("imagePHash: decode matches the integer-DCT formula; " +
    "brightness-shift invariant; flat image hashes to zero") {
    val ids = Seq(5L, 12L, 16L)
    val media = Multimodal.withSyntheticImage(ids.toDF("doc_id"), "doc_id")
    val got = Multimodal.imagePHash(media).collect()
      .map(r => r.media_id -> r).toMap
    val t = Multimodal.DctQ14
    def lumaAt(id: Long, x: Int, y: Int): Long = {
      val (r, g, b) = Multimodal.synthPixel(id, x, y)
      (299L * r + 587L * g + 114L * b) / 1000L
    }
    def hash(l8: (Int, Int) => Long): (Long, Long, Int) = {
      val coef = Array.tabulate(64) { p =>
        val u = p % 8; val v = p / 8
        (for (i <- 0 until 8; j <- 0 until 8)
          yield l8(i, j) * t(u)(i) * t(v)(j)).sum
      }
      val med = coef.drop(1).sorted.apply(31)
      var hi = 0L; var lo = 0L; var ones = 0
      for (p <- 1 until 64 if coef(p) > med) {
        if (p - 1 < 32) lo |= 1L << (p - 1) else hi |= 1L << (p - 33)
        ones += 1
      }
      (hi, lo, ones)
    }
    ids.foreach { id =>
      val w = (id % 16 + 1).toInt
      val h = (id * 7 % 16 + 1).toInt
      val r = got(id)
      val (hi, lo, ones) =
        hash((i, j) => lumaAt(id, i * w / 8, j * h / 8))
      assert((r.width, r.height) == ((w, h)), s"id $id")
      assert((r.phash_hi, r.phash_lo, r.n_ones) == ((hi, lo, ones)),
        s"id $id")
    }
    // frequency-domain property: a global brightness shift moves ONLY
    // the DC coefficient (every AC basis row of the pinned Q14 table
    // sums to exactly 0), so the hash is bit-identical
    val w5 = (5L % 16 + 1).toInt; val h5 = (5L * 7 % 16 + 1).toInt
    (1 until 8).foreach(u => assert(t(u).sum == 0L, s"basis row $u"))
    assert(hash((i, j) => lumaAt(5L, i * w5 / 8, j * h5 / 8)) ==
      hash((i, j) => lumaAt(5L, i * w5 / 8, j * h5 / 8) + 37L))
    // a flat image has every AC coefficient 0: strict > median keeps
    // all 63 bits clear
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(6, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 6) img.setRGB(x, y, 0x808080)
    val flat = Seq(Multimodal.MediaRecord(99L,
      Multimodal.ImageCodec.encodePng(img), "png", 0L)).toDS()
    val fr = Multimodal.imagePHash(flat).collect().head
    assert((fr.phash_hi, fr.phash_lo, fr.n_ones) == ((0L, 0L, 0)))
    // non-decodable payload yields the sentinel row
    val bad = Seq(Multimodal.MediaRecord(7L,
      Array[Byte](1, 2, 3), "junk", 3L)).toDS()
    assert(Multimodal.imagePHash(bad).collect().head.width == -1)
  }

  test("codeSignals: code trips both families; bracket-happy prose does not") {
    val code = "def countItems(x) { return x.fooBar; } import os; " +
      "if (x) { y(); }"
    val prose = "just (some) prose [here] with (many) brackets (every) " +
      "word gets (extra) parens (now) and (more) and (more) again"
    val plain = "completely ordinary sentence about nothing much at all"
    val df = Seq((1L, code), (2L, prose), (3L, plain)).toDF("id", "t")
    val sig = TextAnalysis.codeSignals(col("t"))
    val got = df.select(col("id") +: sig.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(got(1L).getAs[Boolean]("looks_like_code"))
    assert(got(1L).getAs[Long]("n_keywords") >= 3L) // def, return, import, if
    assert(got(1L).getAs[Long]("n_camel") >= 2L)
    // prose is brace-dense but has no keywords → NOT code
    assert(got(2L).getAs[Long]("n_braces") >= 10L)
    assert(!got(2L).getAs[Boolean]("looks_like_code"))
    assert(!got(3L).getAs[Boolean]("looks_like_code"))
  }

  test("repairHyphenation: lowercase breaks rejoin; compounds and " +
    "sentence boundaries survive") {
    val df = Seq(
      (1L, "an exam- ple of test-  ing"),
      (2L, "twenty-one items"),     // real compound: no whitespace
      (3L, "the end- The next"),    // capital after break: kept
      (4L, "clean text"))
      .toDF("id", "t")
    val rep = TextAnalysis.repairHyphenation(col("t"))
    val got = df.select(col("id") +: rep.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("repaired"), r.getAs[Long]("n_breaks")))).toMap
    assert(got(1L) == (("an example of testing", 2L)))
    assert(got(2L) == (("twenty-one items", 0L)))
    assert(got(3L) == (("the end- The next", 0L)))
    assert(got(4L) == (("clean text", 0L)))
  }

  test("homoglyphSignals: mixed-script tokens flag; pure scripts do not") {
    val df = Seq(
      (1L, "pаypal is fake"),          // Cyrillic а inside Latin
      (2L, "alphαbet soup"),            // Greek α inside Latin
      (3L, "hello world"),                   // clean Latin
      (4L, "москва 2024"), // pure Cyrillic
      (5L, "xа yβ z"))             // one of each
      .toDF("id", "t")
    val sig = TextAnalysis.homoglyphSignals(col("t"))
    val got = df.select(col("id") +: sig.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_latin_cyrillic_tokens"),
          r.getAs[Long]("n_latin_greek_tokens"),
          r.getAs[Boolean]("has_homoglyph")))).toMap
    assert(got(1L) == ((1L, 0L, true)))
    assert(got(2L) == ((0L, 1L, true)))
    assert(got(3L) == ((0L, 0L, false)))
    assert(got(4L) == ((0L, 0L, false))) // pure Cyrillic is NOT spoofing
    assert(got(5L) == ((1L, 1L, true)))
  }

  test("langIdMargin: clear winner, one-word coin flip, no-hit und") {
    val df = Seq(
      (1L, "the cat of the house and the dog"), // en ×5 hits, clear
      (2L, "the der"),                          // en 1, de 1 → tie: en
      (3L, "xyzzy plugh"),                      // no hits → und
      (4L, "the la"))                           // en 1, es 1 (la), fr 1
      .toDF("id", "t")
    val got = TextAnalysis.langIdMargin(df, "id", "t")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("lang_pred"), r.getAs[Long]("best_hits"),
          r.getAs[Long]("second_hits"), r.getAs[Long]("margin"),
          r.getAs[Boolean]("ambiguous")))).toMap
    val one = got(1L)
    assert(one._1 == "en" && one._2 == 5L && one._5 == (one._4 <= 1))
    assert(got(2L) == (("en", 1L, 1L, 0L, true))) // tie breaks by order
    assert(got(3L) == (("und", 0L, 0L, 0L, true)))
    assert(got(4L)._1 == "en" && got(4L)._5)
    // margin agrees with the plain argmax op on every prediction
    val preds = TextAnalysis.langIdMargin(df, "id", "t")
      .select(col("id"), col("lang_pred"))
    val plain = df.select(col("id"),
      TextAnalysis.languageId(col("t")).as("p"))
    assert(preds.join(plain, "id")
      .filter(col("lang_pred") =!= col("p")).count() == 0)
  }

  test("videoFreezeRuns: tripled frames make runs of 2; boundaries break") {
    // id 6: n=7 frames, logical 0,0,0,1,1,1,2 → transitions
    // f=0,1 frozen | f=2 jump | f=3,4 frozen | f=5 jump:
    // 4 frozen, 2 runs, longest 2
    val media = Multimodal.withSyntheticAviRepeats(
      Seq(6L, 1L, 7L).toDF("doc_id"), "doc_id") // 1L: n=2; 7L: n=1
    val got = Multimodal.videoFreezeRuns(media).collect()
      .map(r => r.media_id -> r).toMap
    val six = got(6L)
    assert((six.n_frames, six.n_transitions, six.n_frozen,
      six.n_freeze_runs, six.longest_run) == ((7L, 6, 4, 2, 2)))
    // n=2: one frozen transition (both frames are logical frame 0)
    val one = got(1L)
    assert((one.n_transitions, one.n_frozen, one.n_freeze_runs,
      one.longest_run) == ((1, 1, 1, 1)))
    // n=1: no transitions at all
    assert(got(7L).n_transitions == 0 && got(7L).n_freeze_runs == 0)
    // non-AVI payload yields the sentinel
    import spark.implicits._
    val bad = Seq(Multimodal.MediaRecord(9L,
      Array[Byte](1, 2), "junk", 2L)).toDS()
    assert(Multimodal.videoFreezeRuns(bad).collect().head.n_frames == -1L)
  }

  test("audioQuality: clipping/silence/peak/energy match the formula") {
    val media = Multimodal.withSyntheticWavPcm(
      Seq(3L, 8L).toDF("doc_id"), "doc_id")
    val got = Multimodal.audioQuality(media, clipLevel = 1800,
      silenceLevel = 150).collect().map(r => r.media_id -> r).toMap
    Seq(3L, 8L).foreach { id =>
      val s = (0 until 64).map(i => Multimodal.synthSample(id, i, 0).toLong)
      val r = got(id)
      assert(r.sample_rate == 8000 && r.n_samples == 64L, s"id $id")
      assert(r.n_clipped == s.count(v => math.abs(v) >= 1800), s"id $id")
      assert(r.n_silent == s.count(v => math.abs(v) <= 150), s"id $id")
      assert(r.peak_abs == s.map(math.abs).max, s"id $id")
      assert(r.sum_sq == s.map(v => v * v).sum, s"id $id")
      assert(r.dc_sum == s.sum, s"id $id")
    }
    // non-audio payload yields the sentinel row
    import spark.implicits._
    val bad = Seq(Multimodal.MediaRecord(1L,
      Array[Byte](9, 9, 9), "junk", 3L)).toDS()
    assert(Multimodal.audioQuality(bad).collect().head.sample_rate == -1)
  }

  test("videoSceneChanges: container walk matches the frame-byte formula") {
    val media = Multimodal.withSyntheticAvi(
      Seq(2L, 9L, 7L).toDF("doc_id"), "doc_id") // 7L: n=1, no transitions
    val got = Multimodal.videoSceneChanges(media).collect()
      .map(r => r.media_id -> r).toMap
    def ref(id: Long) = {
      val n = (id % 7 + 1).toInt
      val diffs = (0 until n - 1).map { f =>
        (0 until 32).map(j => math.abs(
          Multimodal.synthFrameByte(id, f, j) -
            Multimodal.synthFrameByte(id, f + 1, j)).toLong).sum
      }
      (n.toLong, math.max(n - 1, 0),
        diffs.count(d => d * 1000L > 54000L * 32), diffs.sum)
    }
    Seq(2L, 9L, 7L).foreach { id =>
      val r = got(id)
      assert((r.n_frames, r.n_transitions, r.n_scene_changes,
        r.total_diff) == ref(id), s"id $id")
    }
    assert(got(7L).n_transitions == 0)
  }

  test("audioFingerprint: decode matches the sample-formula contour") {
    val media = Multimodal.withSyntheticWavPcm(
      Seq(3L, 8L).toDF("doc_id"), "doc_id")
    val got = Multimodal.audioFingerprint(media).collect()
      .map(r => r.media_id -> r).toMap
    def ref(id: Long) = {
      val s = (0 until 64).map(i => Multimodal.synthSample(id, i, 0).toLong)
      val e = s.grouped(8).map(fr => fr.map(v => v * v).sum).toSeq
      var fp = 0L
      for (f <- 0 until 7 if e(f) > e(f + 1)) fp |= 1L << f
      (8000, 8, fp, e.sum)
    }
    Seq(3L, 8L).foreach { id =>
      val r = got(id)
      assert((r.sample_rate, r.n_frames, r.fp, r.total_energy) == ref(id),
        s"id $id")
    }
    // byte-identical copies collide on the fingerprint
    val twice = Multimodal.audioFingerprint(media.union(media)).collect()
      .groupBy(_.fp).values.map(_.length).toSeq
    assert(twice.forall(_ % 2 == 0))
  }

  test("sourceScorecard: per-source composite with order-free sums") {
    val good = "the cats and dogs runs fast into the barn yard"
    val df = Seq(
      (1L, "A", good), (2L, "A", good),      // exact dups, gopher-pass
      (3L, "A", "zz"),                       // unique, gopher-fail
      (4L, "B", "xy xy"))
      .toDF("id", "src", "t")
    val got = TextAnalysis.sourceScorecard(df, "id", "t", "src",
      minWords = 10).collect()
      .map(r => r.getAs[String]("src") -> r).toMap
    val a = got("A")
    assert(a.getAs[Long]("n_docs") == 3L)
    assert(a.getAs[Double]("dup_rate") == math.round(2.0 / 3 * 1e6) / 1e6)
    assert(a.getAs[Double]("gopher_pass_rate") ==
      math.round(2.0 / 3 * 1e6) / 1e6)
    assert(a.getAs[Double]("mean_chars") ==
      math.round((46 + 46 + 2) / 3.0 * 1e6) / 1e6)
    val b = got("B")
    assert(b.getAs[Long]("n_docs") == 1L)
    assert(b.getAs[Double]("dup_rate") == 0.0)
    // mean_entropy equals the micro-quantized mean of the per-doc op
    val perDoc = TextAnalysis.charEntropyStats(
      df.filter(col("src") === "A"), "id", "t").collect()
      .map(r => math.round(r.getAs[Double]("char_entropy") * 1e6))
    val expected = math.round(
      perDoc.sum.toDouble / 1e6 / perDoc.length * 1e6) / 1e6
    assert(a.getAs[Double]("mean_entropy") == expected)
  }

  test("clusterPurity: member-to-rep jaccard, singletons excluded") {
    val t1 = "the quick brown fox jumps over the lazy dog tonight"
    val df = Seq((1L, 10L, t1), (2L, 20L, t1),
      (3L, 5L, "unrelated corpus text with completely different words here"))
      .toDF("doc_id", "score", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val got = Dedup.clusterPurity(df, "doc_id", "text", pairs, "score")
      .collect()
    // one 2-member cluster; rep = doc 2 (higher score); identical text
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("rep_id") == 2L)
    assert(r.getAs[Long]("n_members") == 2L)
    assert(r.getAs[Double]("mean_jac") == 1.0)
    assert(r.getAs[Double]("min_jac") == 1.0)
  }

  test("minhashCalibration: est is k/32 dyadic, exact on identical docs") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words in this entirely other text"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashCalibration(df, "doc_id", "text",
      bands = 8, rows = 4, shingleK = 3).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        ((r.getAs[Long]("n_agree"), r.getAs[Double]("est"),
          r.getAs[Double]("jaccard"), r.getAs[Double]("abs_err")))).toMap
    // identical docs: every slot agrees, exact jaccard 1, zero error
    assert(got((1L, 2L)) == ((32L, 1.0, 1.0, 0.0)))
    // doc 3 shares no band with the twins
    assert(got.keySet == Set((1L, 2L)))
  }

  test("dialogueStats: roles, alternation, untagged lines, mean chars") {
    val ok = "system: be brief\nuser: hi there\nassistant: hello\nuser: bye"
    val bad = "assistant: first\nassistant: again\nfree text line"
    val got = TextAnalysis.dialogueStats(
      Seq((1L, ok), (2L, bad), (3L, "no structure at all"))
        .toDF("id", "t"), "id", "t").collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    val r1 = got(1L)
    assert(r1.getAs[Long]("n_turns") == 4L)
    assert(r1.getAs[Long]("n_system") == 1L)
    assert(r1.getAs[Long]("n_user") == 2L)
    assert(r1.getAs[Long]("n_assistant") == 1L)
    assert(r1.getAs[Long]("n_untagged_lines") == 0L)
    assert(r1.getAs[Boolean]("starts_with_user"))
    assert(r1.getAs[Boolean]("alternating"))
    // turn texts: "be brief"(8) "hi there"(8) "hello"(5) "bye"(3) = 24/4
    assert(r1.getAs[Double]("mean_turn_chars") == 6.0)
    val r2 = got(2L)
    assert(r2.getAs[Long]("n_turns") == 2L)
    assert(r2.getAs[Long]("n_untagged_lines") == 1L)
    assert(!r2.getAs[Boolean]("starts_with_user"))
    assert(!r2.getAs[Boolean]("alternating"))
    val r3 = got(3L)
    assert(r3.getAs[Long]("n_turns") == 0L)
    assert(!r3.getAs[Boolean]("starts_with_user"))
    assert(!r3.getAs[Boolean]("alternating"))
    assert(r3.isNullAt(r3.fieldIndex("mean_turn_chars")))
  }

  test("gopherQualityFlags: integer-exact rules and the conjunction") {
    val good = "the cats and dogs runs fast into the barn yard"
    val df = Seq(
      (1L, good),                      // every rule passes
      (2L, "# # # ..."),               // symbols, alpha, stopwords fail
      (3L, "- a\n- b\n- c"))           // all-bullet lines fail
      .toDF("id", "t")
    val got = TextAnalysis.gopherQualityFlags(df, "id", "t",
      minWords = 10).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    val r1 = got(1L)
    assert(r1.getAs[Long]("n_words") == 10L)
    assert(r1.getAs[Long]("n_word_chars") == 37L)
    assert(r1.getAs[Long]("n_stopword_hits") == 3L)
    assert(r1.getAs[Boolean]("gopher_pass"))
    val r2 = got(2L)
    assert(r2.getAs[Long]("n_symbols") == 4L) // three '#' + one '...'
    assert(!r2.getAs[Boolean]("r_symbol_ratio"))
    assert(!r2.getAs[Boolean]("r_alpha_words"))
    assert(!r2.getAs[Boolean]("r_stopwords"))
    assert(!r2.getAs[Boolean]("gopher_pass"))
    val r3 = got(3L)
    assert(r3.getAs[Long]("n_bullet_lines") == 3L)
    assert(!r3.getAs[Boolean]("r_bullet_lines"))
  }

  test("gopherRepetitionFeatures: union coverage, lexicographic ties") {
    def rnd(x: Double) = math.round(x * 1e6) / 1e6
    val df = Seq((1L, "a b a b c a b"), (2L, "x"), (3L, ""))
      .toDF("id", "t")
    val got = TextAnalysis.gopherRepetitionFeatures(df, "id", "t")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    val r1 = got(1L)
    assert(r1.getAs[Long]("n_words") == 7L)
    // top 2-gram "a b" occurs at 1,3,6: union covers 6 of 7 positions
    assert(r1.getAs[Double]("top_2gram_frac") == rnd(6.0 / 7))
    // all 3-grams unique: tie goes to "a b a" (lexicographically first)
    assert(r1.getAs[Double]("top_3gram_frac") == rnd(3.0 / 7))
    assert(r1.getAs[Double]("top_4gram_frac") == rnd(4.0 / 7))
    // no duplicated 5..10-grams
    (5 to 10).foreach(n =>
      assert(r1.getAs[Double](s"dup_${n}gram_frac") == 0.0, s"n=$n"))
    // single word: no 2-grams at all -> coverage 0, not null
    assert(got(2L).getAs[Long]("n_words") == 1L)
    assert(got(2L).getAs[Double]("top_2gram_frac") == 0.0)
    // empty text: fractions null
    assert(got(3L).getAs[Long]("n_words") == 0L)
    assert(got(3L).isNullAt(got(3L).fieldIndex("top_2gram_frac")))
  }

  test("dimHealth: dead and collapsed dims flagged, exact moments") {
    val df = Seq(
      (1L, Array(0.0f, 1.0f, 2.0f, 0.004f)),
      (2L, Array(0.0f, 1.0f, 4.0f, 0.004f)),
      (3L, Array(0.0f, 1.0f, 6.0f, 0.01f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.dimHealth(df, "embedding").collect()
      .map(r => r.getAs[Int]("dim") ->
        ((r.getAs[Long]("n_zero"), r.getAs[Long]("min_q"),
          r.getAs[Long]("max_q"), r.getAs[Double]("mean_q"),
          r.getAs[Double]("var_q"), r.getAs[Boolean]("dead"),
          r.getAs[Boolean]("collapsed")))).toMap
    assert(got(0) == ((3L, 0L, 0L, 0.0, 0.0, true, true)))
    assert(got(1) == ((0L, 1000L, 1000L, 1000.0, 0.0, false, true)))
    // varying dim: mean 4000, var (3·56e6 − 12000²)/9
    assert(got(2) == ((0L, 2000L, 6000L, 4000.0,
      math.round(24000000.0 / 9 * 1e6) / 1e6, false, false)))
    assert(got(3) == ((0L, 4L, 10L, 6.0, 8.0, false, false)))
  }

  test("langMixture: per-segment argmax, blank segments dropped, ties") {
    val df = Seq(
      (1L, "the a of and to\n\nel la de que y"),   // en + es
      (2L, "the a of\n\n\n\nthe a of and"),        // blank seg dropped
      (3L, "zzz qqq\n\nthe a of"))                 // und + en
      .toDF("id", "t")
    val got = TextAnalysis.langMixture(df, "id", "t").collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_segments"), r.getAs[Long]("n_langs"),
          r.getAs[String]("majority_lang"), r.getAs[Boolean]("mixed"))))
      .toMap
    // 1-1 tie between en and es: lexicographically first wins
    assert(got(1L) == ((2L, 2L, "en", true)))
    assert(got(2L) == ((2L, 1L, "en", false)))
    assert(got(3L) == ((2L, 2L, "en", true)))
  }

  test("charEntropyStats: hand cases + explode-twin differential") {
    def rnd(x: Double) = math.round(x * 1e6) / 1e6
    val got = TextAnalysis.charEntropyStats(
      Seq((1L, "aab"), (2L, ""), (3L, "𝄞a"), (4L, "zzzz"))
        .toDF("id", "t"), "id", "t").collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_codepoints"), r.getAs[Long]("distinct_codepoints"),
          r.getAs[Double]("char_entropy")))).toMap
    // fold order a<b: (2/3)ln(2/3) then (1/3)ln(1/3)
    val aab = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3))
    assert(got(1L) == ((3L, 2L, rnd(aab))))
    assert(got(2L) == ((0L, 0L, 0.0)))
    // supplementary codepoint counts once, not as two UTF-16 units
    assert(got(3L) == ((2L, 2L, rnd(math.log(2)))))
    assert(got(4L) == ((4L, 1L, 0.0)))

    // differential vs a declarative explode+groupBy twin on real docs
    val native = TextAnalysis.charEntropyStats(docs, "doc_id", "text")
    val chars = docs.select(col("doc_id"),
      explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) > 0) // split(_, "") keeps a trailing ""
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
    val n = chars.groupBy("doc_id")
      .agg(sum(col("c")).as("n"), count(lit(1)).as("d"))
    val twin = chars.join(n, "doc_id")
      .select(col("doc_id"), struct(col("ch"),
        ((col("c").cast("double") / col("n").cast("double")) *
          log(col("c").cast("double") / col("n").cast("double")))
          .as("term")).as("t"),
        col("n"), col("d"))
      .groupBy(col("doc_id"), col("n"), col("d"))
      .agg(sort_array(collect_list(col("t"))).as("ts"))
      .select(col("doc_id"), col("n").as("n_codepoints"),
        col("d").as("distinct_codepoints"),
        round(-aggregate(col("ts"), lit(0.0),
          (a, t) => a + t.getField("term")), 6).as("char_entropy"))
    assert(native.exceptAll(twin).isEmpty && twin.exceptAll(native).isEmpty)
  }

  test("hammingNearDups: pigeonhole-complete pairs, group keys separate") {
    // 64-bit signatures as (hi, lo) halves; bands=4, maxDist=3 →
    // any pair ≤3 bits apart shares at least one 16-bit chunk
    val sig = Seq(
      (1L, 0L, 0L, 1),            // base
      (2L, 0L, 1L, 1),            // dist 1 to base
      (3L, 3L, 0L, 1),            // dist 2 (bits 32,33)
      (4L, 0L, 15L, 1),           // dist 4 → excluded
      // dist exactly 3 with the bits spread over chunks 0,1,2 — only
      // chunk 3 matches; the completeness edge case
      (5L, 1L, 65537L, 1),        // bits 0, 16, 32
      (6L, 0L, 0L, 2))            // identical to base, other group
      .toDF("id", "hi", "lo", "grp")
    val got = graft.ops.Dedup.hammingNearDups(sig, "id", "hi", "lo",
        maxDist = 3, bands = 4, groupCols = Seq("grp"))
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("dist"))).toSet
    // bit sets: s1=∅ s2={0} s3={32,33} s4={0,1,2,3} s5={0,16,32};
    // pairs over maxDist — (1,4)=4, (3,4)=6, (4,5)=5 — are excluded
    assert(got == Set((1L, 2L, 1), (1L, 3L, 2), (1L, 5L, 3),
      (2L, 3L, 3), (2L, 4L, 3), (2L, 5L, 2), (3L, 5L, 3)))
    // group 2's identical twin pairs with nobody
    assert(!got.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("hammingNearDups: bands must divide the halves; maxDist < bands") {
    val df = Seq((1L, 0L, 0L)).toDF("id", "hi", "lo")
    intercept[IllegalArgumentException] {
      graft.ops.Dedup.hammingNearDups(df, "id", "hi", "lo", 2, bands = 3)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Dedup.hammingNearDups(df, "id", "hi", "lo", 4, bands = 4)
    }
  }

  test("lshTuning: copy-group candidate volume, analytic thresholds") {
    // 3 copies of A, 2 of B, 1 unique C — identical texts share whole
    // signatures, so every band holds the copy groups intact:
    // candidates per config = bands · (C(3,2) + C(2,2... = 3 + 1) and
    // buckets per band = 3 (assuming no cross-text band collisions,
    // which these texts don't produce)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "one two three four five six seven"),
      (5L, "one two three four five six seven"),
      (6L, "completely different words entirely here now"))
      .toDF("doc_id", "text")
    val got = graft.ops.Dedup.lshTuning(docs, "doc_id", "text",
        Seq((2, 2), (4, 1))).collect()
      .map(r => (r.getAs[Int]("bands"), r.getAs[Int]("rows_per_band")) ->
        ((r.getAs[Long]("threshold_micro"), r.getAs[Long]("n_buckets"),
          r.getAs[Long]("max_bucket"),
          r.getAs[Long]("candidate_pairs")))).toMap
    assert(got((2, 2)) ==
      ((math.floor(math.pow(0.5, 0.5) * 1e6).toLong, 6L, 3L, 8L)))
    assert(got((4, 1)) == ((250000L, 12L, 3L, 16L)))
    assert(got.size == 2)
    graft.ops.Caches.releaseAll()
  }

  test("dupWeights: unit mass split by cluster size, null-safe key") {
    val a = Seq((1L, Some(10L)), (2L, Some(10L)), (3L, Some(10L)),
      (4L, Some(20L)), (5L, None), (6L, None))
      .toDF("id", "cluster")
    val got = graft.ops.Dedup.dupWeights(a, "cluster").collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("cluster_n"), r.getAs[Long]("weight_micro"))))
      .toMap
    assert(got(1L) == ((3L, 333333L)))
    assert(got(4L) == ((1L, 1000000L)))
    assert(got(5L) == ((2L, 500000L)))  // NULL cluster still groups
    assert(got.size == 6)
  }

  test("encodingAnomalies: mojibake digraphs, controls, replacement char") {
    val df = Seq(
      (1L, "clean text with tab\tand newline\n kept"),
      (2L, "bad�decode"),
      (3L, "cafÃ© double encoded"),
      (4L, "xy"),                    // 1 control in 3 chars → ≥2%
      (5L, "one bell in a long enough sentence that two percent " +
        "of the characters is more than one control character total"))
      .toDF("id", "t")
    val got = df.select(Seq(col("id")) ++
        TextAnalysis.encodingAnomalies(col("t")).map {
          case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_replacement"), r.getAs[Long]("n_control"),
          r.getAs[Long]("n_double_encoded"),
          r.getAs[Boolean]("encoding_suspect")))).toMap
    assert(got(1L) == ((0L, 0L, 0L, false)))  // tab/newline are fine
    assert(got(2L) == ((1L, 0L, 0L, true)))
    assert(got(3L) == ((0L, 0L, 1L, true)))
    assert(got(4L) == ((0L, 1L, 0L, true)))   // 1·50 ≥ 3
    assert(got(5L) == ((0L, 1L, 0L, false)))  // 1·50 < length
  }

  test("readability: hand-computed Flesch/FK, empty text degrades") {
    val df = Seq((1L, "The cat sat. It ran!"), (2L, ""), (3L, "   "))
      .toDF("id", "t")
    val got = df.select(Seq(col("id")) ++
        TextAnalysis.readability(col("t")).map {
          case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_sentences"),
          r.getAs[Long]("n_syllables"),
          Option(r.getAs[java.lang.Double]("flesch")),
          Option(r.getAs[java.lang.Double]("fk_grade"))))).toMap
    // 5 words, 2 sentence runs, 5 vowel groups:
    // 206.835 − 1.015·2.5 − 84.6·1 = 119.6975; 0.39·2.5 + 11.8 − 15.59
    assert(got(1L) == ((5L, 2L, 5L, Some(119.6975), Some(-2.815))))
    assert(got(2L) == ((0L, 1L, 0L, None, None)))
    assert(got(3L) == ((0L, 1L, 0L, None, None)))
  }

  test("rougeN: clipped bigram overlap, one-sided ids, harmonic F1") {
    val cand = Seq((1L, "a b c b c"), (2L, "x y"), (4L, "solo"))
      .toDF("id", "t")
    val ref = Seq((1L, "a b c d"), (3L, "p q r"), (4L, "solo"))
      .toDF("id", "t")
    val got = TextAnalysis.rougeN(cand, ref, "id", "t", n = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_cand"), r.getAs[Long]("n_ref"),
          r.getAs[Long]("n_match"),
          Option(r.getAs[java.lang.Double]("precision")),
          Option(r.getAs[java.lang.Double]("recall")),
          Option(r.getAs[java.lang.Double]("f1"))))).toMap
    // cand bigrams {a b:1, b c:2, c b:1}, ref {a b, b c, c d}:
    // clipped match 2 → p = 2/4, r = 2/3, f1 = 4/7
    assert(got(1L) == ((4L, 3L, 2L, Some(0.5), Some(0.666667),
      Some(0.571429))))
    assert(got(2L) == ((1L, 0L, 0L, Some(0.0), None, None)))
    assert(got(3L) == ((0L, 2L, 0L, None, Some(0.0), None)))
    // single-word docs have no bigrams on either side → no row at all
    assert(!got.contains(4L) && got.size == 3)
  }

  test("rougeN hashed ≡ exact on regular docs (the scale-path contract)") {
    // all docs ≥ 2 words and gram-collision-free, so the poly-hash
    // domain must reproduce the exact-string scores bit for bit
    val cand = docs.limit(40).select(col("doc_id"),
      regexp_replace(col("text"), "e", "a").as("text"))
    val ref = docs.limit(40).select(col("doc_id"), col("text"))
    val exact = TextAnalysis.rougeN(cand, ref, "doc_id", "text", n = 2)
    val hashed = TextAnalysis.rougeN(cand, ref, "doc_id", "text", n = 2,
      hashed = true)
    assert(exact.exceptAll(hashed).isEmpty &&
      hashed.exceptAll(exact).isEmpty)
  }

  test("srmCheck: exact chi-squared terms, missing arm counts as zero") {
    // 60/40 on an intended 1:1 → chi2 = 2·(10²/50) = 4.0 > 3.841
    val units = ((1L to 60L).map(u => (u, "a")) ++
      (61L to 100L).map(u => (u, "b")) ++
      Seq((7L, "a"), (999L, "junk")))   // dup unit + unexpected variant
      .toDF("u", "v")
    val got = graft.ops.Profiling.srmCheck(units, "u", "v",
        Seq(("a", 1L), ("b", 1L))).collect()
      .map(r => r.getAs[String]("variant") ->
        ((r.getAs[Long]("observed"), r.getAs[Double]("expected_n"),
          r.getAs[Double]("term"), r.getAs[Double]("chi2"),
          r.getAs[Boolean]("srm")))).toMap
    assert(got("a") == ((60L, 50.0, 2.0, 4.0, true)))
    assert(got("b") == ((40L, 50.0, 2.0, 4.0, true)))
    // balanced 2:1:1 passes at the df=2 critical value
    val ok = ((1L to 50L).map(u => (u, "x")) ++
      (51L to 76L).map(u => (u, "y")) ++ (77L to 100L).map(u => (u, "z")))
      .toDF("u", "v")
    val row = graft.ops.Profiling.srmCheck(ok, "u", "v",
        Seq(("x", 2L), ("y", 1L), ("z", 1L)), crit = 5.991)
      .collect().head
    assert(!row.getAs[Boolean]("srm"))
    // an arm that never shows up is observed 0, not dropped
    val miss = graft.ops.Profiling.srmCheck(
        Seq((1L, "a"), (2L, "a")).toDF("u", "v"), "u", "v",
        Seq(("a", 1L), ("b", 1L))).collect()
      .map(r => r.getAs[String]("variant") -> r.getAs[Long]("observed"))
      .toMap
    assert(miss == Map("a" -> 2L, "b" -> 0L))
  }

  test("mrrRecall: first-hit rank, coverage, empty-truth queries") {
    val ranking = Seq(
      (1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3),
      (2L, 10L, 1), (2L, 20L, 2),
      (3L, 40L, 1), (3L, 50L, 2), (3L, 60L, 6)) // rank 6 > k cut
      .toDF("q", "item", "rank")
    val truth = Seq((1L, 20L, 1L), (1L, 99L, 2L), (3L, 60L, 1L),
      (3L, 40L, 0L))                            // rel=0 is not relevant
      .toDF("q", "item", "rel")
    val got = graft.ops.Profiling.mrrRecall(ranking, truth, "q", "item",
        "rank", "rel", k = 5).collect()
      .map(r => r.getAs[Long]("q") ->
        ((Option(r.getAs[java.lang.Long]("first_rel_rank")).map(_.toLong),
          r.getAs[Long]("n_hits"), r.getAs[Long]("n_rel"),
          r.getAs[Double]("rr"), r.getAs[Double]("recall")))).toMap
    assert(got(1L) == ((Some(2L), 1L, 2L, 0.5, 0.5)))
    assert(got(2L) == ((None, 0L, 0L, 0.0, 0.0)))
    // q3's only relevant item sits at rank 6, cut by k=5
    assert(got(3L) == ((None, 0L, 1L, 0.0, 0.0)))
    assert(got.size == 3)
  }

  test("gramMatrix: hand-computed upper triangle, partial-aggregable") {
    val df = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 4.0f)))
      .toDF("id", "vec")
    val got = graft.ops.Similarity.gramMatrix(df, "vec", scale = 1L)
      .collect().map(r => (r.getAs[Int]("i"), r.getAs[Int]("j")) ->
        ((r.getAs[Long]("n"),
          r.getAs[java.math.BigDecimal]("g").longValueExact()))).toMap
    // q rows [1,2] and [3,4]: G00=1+9, G01=2+12, G11=4+16
    assert(got == Map((0, 0) -> ((2L, 10L)), (0, 1) -> ((2L, 14L)),
      (1, 1) -> ((2L, 20L))))
    val plan = graft.ops.Similarity.gramMatrix(df, "vec", 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), plan)
  }

  test("specialTokenLeaks: literal counts, no regex seam, clean zero") {
    val df = Seq(
      (1L, "a <|endoftext|> b [INST] hi [/INST] <|endoftext|>"),
      (2L, "perfectly ordinary prose with <brackets> and | pipes"),
      (3L, "<s>wrapped</s>"))
      .toDF("id", "text")
    val flags = graft.ops.TextAnalysis.specialTokenLeaks(col("text"))
    val got = df.select(col("id") +:
        flags.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_special_tokens"),
          r.getAs[Boolean]("has_special_tokens")))).toMap
    assert(got(1L) == ((4L, true)))
    assert(got(2L) == ((0L, false)))
    assert(got(3L) == ((2L, true)))
  }

  test("gram_pairs native equals the lambda twin, and via SQL") {
    val df = Seq(
      (1L, Seq(0.25f, -1.5f, 3.0f)),
      (2L, Seq(-0.0004f, 2.2f, -7.125f)),
      (3L, Seq(0.0f, 0.0f, 0.0f)))
      .toDF("id", "vec")
    val native = df.select(col("id"),
      graft.functions.NativeHashes.gram_pairs(col("vec"), 1000L)
        .as("p")).orderBy("id").collect().map(_.toSeq)
    val lambda = df.select(col("id"),
      SpecTwins.gramPairsLambda(col("vec"), 1000L).as("p"))
      .orderBy("id").collect().map(_.toSeq)
    assert(native.toSeq == lambda.toSeq)
    // SQL registration round-trip
    graft.functions.GraftSqlExtensions.register(spark)
    df.createOrReplaceTempView("gp_vecs")
    val viaSql = spark.sql(
      "SELECT id, graft_gram_pairs(vec, 1000) AS p FROM gp_vecs " +
        "ORDER BY id").collect().map(_.toSeq)
    assert(viaSql.toSeq == native.toSeq)
  }

  test("topPrincipalComponent: rank-1 direction recovered, sign fixed") {
    // points t·(3,4), t ∈ -2..2 — covariance is rank-1 along (0.6, 0.8)
    val df = (-2 to 2).map(t => (t.toLong, Seq(3.0f * t, 4.0f * t)))
      .toDF("id", "vec")
    val got = graft.ops.Similarity.topPrincipalComponent(df, "vec")
      .collect().map(r => r.getAs[Int]("dim") ->
        ((r.getAs[Double]("loading"), r.getAs[Double]("eigenvalue"))))
      .toMap
    assert(got(0)._1 == 0.6 && got(1)._1 == 0.8, got)
    // λ = Σt²/n · |(3000,4000)|² = 2 · 2.5e7
    assert(math.abs(got(0)._2 - 5.0e7) < 1.0, got)
    // sign convention: flipping every input leaves the answer unchanged
    val flipped = (-2 to 2).map(t => (t.toLong, Seq(-3.0f * t, -4.0f * t)))
      .toDF("id", "vec")
    val g2 = graft.ops.Similarity.topPrincipalComponent(flipped, "vec")
      .collect().map(r => r.getAs[Int]("dim") ->
        r.getAs[Double]("loading")).toMap
    assert(g2 == Map(0 -> 0.6, 1 -> 0.8), g2)
  }

  test("tagged n-gram native expressions equal their lambda twins " +
      "element-for-element (order included)") {
    import spark.implicits._
    val texts = Seq("the cat sat on the mat", "  tabs\tand\nnewlines  ",
      "one", "", "a  b   c", "ünïcödé tëxt ünïcödé", "x y z w v u t",
      "AAA aaa AaA").toDF("t")
    for (maxN <- Seq(1, 3, 4)) {
      val w = texts.select(
        graft.functions.NativeText.tagged_word_ngrams(lower(col("t")),
          maxN).cast("array<struct<n:int,g:string>>").as("a"),
        SpecTwins.taggedWordGramsLambda(col("t"), maxN)
          .cast("array<struct<n:int,g:string>>").as("b"))
        .collect()
      w.foreach(r => assert(r.get(0) == r.get(1), r))
      val c = texts.select(
        graft.functions.NativeText.tagged_char_ngrams(lower(col("t")),
          maxN).cast("array<struct<n:int,g:string>>").as("a"),
        SpecTwins.taggedCharGramsLambda(col("t"), maxN)
          .cast("array<struct<n:int,g:string>>").as("b"))
        .collect()
      c.foreach(r => assert(r.get(0) == r.get(1), r))
    }
  }

  test("bleu/chrF row-local native path equals the gram-join spec twin " +
      "on a varied corpus") {
    import spark.implicits._
    val docs = (1L to 40L).map { i =>
      val words = (0 until (i % 9).toInt + 1)
        .map(j => s"w${(i * 3 + j) % 11}")
      val cand =
        if (i % 2 == 0) words.mkString(" ") else words.reverse.mkString(" ")
      val ref = (0 until (i % 13).toInt + 1)
        .map(j => s"w${(i + j) % 11}").mkString(" ")
      ((i % 3).toString, i, cand, ref)
    }.toDF("g", "id", "cand", "ref")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("g").collect().map(_.toSeq).toSeq
    assert(rows(graft.ops.TextAnalysis.bleu(docs, "g", "id", "cand",
        "ref", maxN = 3)) ==
      rows(SpecTwins.bleuViaGramJoin(docs, "g", "id",
        "cand", "ref", maxN = 3)))
    assert(rows(graft.ops.TextAnalysis.chrF(docs, "g", "id", "cand",
        "ref", maxN = 4)) ==
      rows(SpecTwins.chrfViaGramJoin(docs, "g", "id",
        "cand", "ref", maxN = 4)))
  }

  test("chrF: whitespace-free char grams, clipping, order skipping, " +
      "recall-weighted F2") {
    import spark.implicits._
    // identical after space strip -> perfect at every order
    val same = Seq(("g", 1L, "a b", "ab")).toDF("grp", "id", "cand", "ref")
    val rs = graft.ops.TextAnalysis.chrF(same, "grp", "id", "cand",
      "ref", maxN = 2).collect().head
    assert(rs.getAs[Double]("chrf") == 1.0)
    assert(rs.getAs[Long]("match_2") == 1L) // "ab" bigram matched
    // clipped: "aaa" vs "a" -> P=1/3, R=1, F2 = 5PR/(4P+R) = 5/7;
    // order 2 skipped (no reference bigrams)
    val clip = Seq(("g", 1L, "aaa", "a")).toDF("grp", "id", "cand", "ref")
    val rc = graft.ops.TextAnalysis.chrF(clip, "grp", "id", "cand",
      "ref", maxN = 2).collect().head
    assert(rc.getAs[Long]("match_1") == 1L &&
      rc.getAs[Long]("totc_1") == 3L)
    assert(rc.getAs[Double]("chrf") == 0.714286)
    // disjoint -> zero-match orders contribute F = 0
    val zero = Seq(("g", 1L, "ab", "cd")).toDF("grp", "id", "cand", "ref")
    assert(graft.ops.TextAnalysis.chrF(zero, "grp", "id", "cand", "ref",
      maxN = 2).collect().head.getAs[Double]("chrf") == 0.0)
  }

  test("bleu: corpus-level clipped precisions, brevity penalty, " +
      "zero-match floor, short-candidate null") {
    import spark.implicits._
    // pair 1 perfect, pair 2 disjoint: corpus p1 = 3/5, p2 = 2/3
    val df = Seq(("g", 1L, "the cat sat", "the cat sat"),
      ("g", 2L, "a b", "c d")).toDF("grp", "id", "cand", "ref")
    val r = graft.ops.TextAnalysis.bleu(df, "grp", "id", "cand", "ref",
      maxN = 2).collect().head
    assert(r.getAs[Long]("n_pairs") == 2L)
    assert(r.getAs[Long]("cand_len") == 5L &&
      r.getAs[Long]("ref_len") == 5L)
    assert(r.getAs[Long]("match_1") == 3L &&
      r.getAs[Long]("total_1") == 5L)
    assert(r.getAs[Long]("match_2") == 2L &&
      r.getAs[Long]("total_2") == 3L)
    assert(r.getAs[Double]("bp") == 1.0)
    // exp((ln 0.6 + ln(2/3))/2) = sqrt(0.4)
    assert(r.getAs[Double]("bleu") == 0.632456)
    // clipping: candidate repeats a reference word 3x, ref has it once
    val clip = Seq(("g", 1L, "x x x", "x y")).toDF("grp", "id", "cand", "ref")
    val rc = graft.ops.TextAnalysis.bleu(clip, "grp", "id", "cand", "ref",
      maxN = 1).collect().head
    assert(rc.getAs[Long]("match_1") == 1L &&
      rc.getAs[Long]("total_1") == 3L)
    // brevity penalty: perfect short candidate, BP = e^(1-4/2)
    val short = Seq(("g", 1L, "the cat", "the cat sat on"))
      .toDF("grp", "id", "cand", "ref")
    val rs = graft.ops.TextAnalysis.bleu(short, "grp", "id", "cand", "ref",
      maxN = 1).collect().head
    assert(rs.getAs[Double]("bp") == 0.367879)
    assert(rs.getAs[Double]("bleu") == 0.367879)
    // zero corpus matches at some n -> 0.0; zero TOTAL at some n -> null
    val zero = Seq(("g", 1L, "a b", "c d")).toDF("grp", "id", "cand", "ref")
    val rz = graft.ops.TextAnalysis.bleu(zero, "grp", "id", "cand", "ref",
      maxN = 2).collect().head
    assert(rz.getAs[Double]("bleu") == 0.0)
    val tiny = Seq(("g", 1L, "a", "a")).toDF("grp", "id", "cand", "ref")
    val rt = graft.ops.TextAnalysis.bleu(tiny, "grp", "id", "cand", "ref",
      maxN = 2).collect().head
    assert(rt.isNullAt(rt.fieldIndex("bleu"))) // no bigrams to score
  }

  test("mmrSelect: diversity beats raw relevance, exact rational lambda, " +
      "early exhaustion") {
    // 1:(1,0) rel 1.0 | 2:(1,0) rel 0.9 (clone of 1) | 3:(0,1) rel 0.5
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), 1.0),
      (2L, Seq(1.0f, 0.0f), 0.9),
      (3L, Seq(0.0f, 1.0f), 0.5)
    ).toDF("vec_id", "embedding", "rel")
    val got = graft.ops.Similarity.mmrSelect(
        df, "vec_id", "embedding", "rel", k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        r.getDouble(4))).toSeq
    // round 1: argmax 0.7*rel -> 1; round 2: the orthogonal 3
    // ((7*0.5-0)/10 = 0.35) beats the clone 2 ((7*0.9-3*1)/10 = 0.33);
    // round 3: only 2 left (max_sim to selected = 1.0); then exhausted
    assert(got == Seq(
      (1, 1L, 1.0, None, 0.7),
      (2, 3L, 0.5, Some(0.0), 0.35),
      (3, 2L, 0.9, Some(1.0), 0.33)))
    graft.ops.Caches.releaseAll()
  }

  test("mmrSelect: incremental max-sim fold ≡ recompute (differential), " +
      "array<double> input accepted") {
    // deterministic pseudo-random corpus: 40 vectors, 4 dims, with
    // duplicate directions so the diversity term actually bites
    val rows = (1L to 40L).map { i =>
      val v = Seq.tabulate(4)(d =>
        (((i * 37 + d * 17 + 5) % 13).toFloat - 6.0f) / 6.0f)
      (i, v, ((i * 31 + 7) % 19).toDouble / 19.0)
    }
    val df = rows.toDF("vec_id", "embedding", "rel")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        r.getDouble(4))).toSeq
    // nine rounds, each cut by the round driver
    val inc = canon(graft.ops.Similarity.mmrSelect(
      df, "vec_id", "embedding", "rel", k = 9))
    val rec = canon(SpecTwins.mmrSelectRecompute(
      df, "vec_id", "embedding", "rel", k = 9))
    assert(inc == rec)
    assert(inc.size == 9)
    // array<double> vectors must not CCE mid-loop (pinned cast up front)
    val dbl = rows.map { case (i, v, r) => (i, v.map(_.toDouble), r) }
      .toDF("vec_id", "embedding", "rel")
    val incD = canon(graft.ops.Similarity.mmrSelect(
      dbl, "vec_id", "embedding", "rel", k = 4))
    assert(incD == inc.take(4))
    graft.ops.Caches.releaseAll()
  }

  test("maximalDupSpans: a 5-token shared span is invisible to " +
      "removeDupSpans at k=8 but surfaces with exact extent at minLen=4") {
    val df = Seq(
      (1L, "u1 u2 u3 s1 s2 s3 s4 s5 t1"),
      (2L, "v1 s1 s2 s3 s4 s5 w1 w2 w3")
    ).toDF("doc_id", "text")
    // k=8: no duplicated 8-shingle exists anywhere -> excision is a no-op
    val removed = graft.ops.Dedup.removeDupSpans(df, "doc_id", "text", k = 8)
      .orderBy(col("doc_id")).collect().map(_.getString(1)).toSeq
    assert(removed == Seq("u1 u2 u3 s1 s2 s3 s4 s5 t1",
      "v1 s1 s2 s3 s4 s5 w1 w2 w3"))
    // minLen=4: runs of duplicated 4-grams merge to the true 5-token span
    val spans = graft.ops.Dedup.maximalDupSpans(df, "doc_id", "text",
        minLen = 4)
      .orderBy(col("doc_id"), col("span_start"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(spans == Seq((1L, 3L, 7L, 5L), (2L, 1L, 5L, 5L)))
    graft.ops.Caches.releaseAll()
  }

  test("contaminationSpans: maximal cross-corpus leaked spans, exact " +
      "extent; clean docs emit nothing") {
    val corpus = Seq(
      (1L, "x1 x2 a b c d e x3"),   // leaks "a b c d e" at positions 2-6
      (2L, "u1 u2 u3 u4 u5")        // shares nothing with the benchmark
    ).toDF("doc_id", "text")
    val bench = Seq("q a b c d e r").toDF("text")
    // doc 1's duplicated 4-grams vs bench: positions 2 ("a b c d") and
    // 3 ("b c d e") — one island -> span [2, 6], 5 tokens, the true
    // extent of the leaked passage (not a gram count)
    val got = graft.ops.Dedup.contaminationSpans(
        corpus, "doc_id", "text", bench, "text", minLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == Set((1L, 2L, 6L, 5L)))
    // a whole-doc copy reports one doc-length span
    val full = graft.ops.Dedup.contaminationSpans(
        Seq((9L, "q a b c d e r")).toDF("doc_id", "text"),
        "doc_id", "text", bench, "text", minLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(full == Set((9L, 0L, 6L, 7L)))
    graft.ops.Caches.releaseAll()
  }

  test("IVF index: build→write→load→probe ≡ build-per-call at a " +
      "genuinely approximate probe depth") {
    val corpus = (0L until 96L).map(i =>
        (i, Seq.tabulate(8)(d => ((i * 5 + d * 3 + 1) % 11).toFloat - 5.0f)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 4)
    def canon(d: org.apache.spark.sql.DataFrame) = d
      .orderBy(col("query_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSeq
    // nProbe=2 of 4 centroids: approximate routing, so equality proves
    // the loaded index routes identically, not just that top-k agrees
    val direct = canon(graft.ops.Similarity.ivfTopK(queries, corpus,
      "vec_id", "embedding", 3, nCentroids = 4, nProbe = 2))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_ivf_rt").toString
    val v = graft.ops.Similarity.ivfWrite(
      graft.ops.Similarity.ivfBuild(corpus, "vec_id", "embedding",
        nCentroids = 4), s"$tmp/ivf")
    val loaded = graft.ops.Similarity.ivfLoad(spark, s"$tmp/ivf", Some(v))
    assert(canon(graft.ops.Similarity.ivfTopKWith(loaded, queries,
      "vec_id", "embedding", 3, nProbe = 2)) == direct)
    // versioning: a second build commits v+1; the pinned v=1 still loads
    val v2 = graft.ops.Similarity.ivfWrite(
      graft.ops.Similarity.ivfBuild(corpus, "vec_id", "embedding",
        nCentroids = 4), s"$tmp/ivf")
    assert(v2 == v + 1)
    assert(graft.ops.Similarity.ivfLoad(spark, s"$tmp/ivf")
      .centroids == loaded.centroids)
    // incremental append: frozen-centroid routing is batch-split
    // invariant — one delta batch ≡ the same rows in two batches,
    // probed at a genuinely approximate depth; centroids untouched
    val base = graft.ops.Similarity.ivfBuild(
      corpus.filter(col("vec_id") < 48), "vec_id", "embedding",
      nCentroids = 4)
    val oneShot = graft.ops.Similarity.ivfAppend(base,
      corpus.filter(col("vec_id") >= 48), "vec_id", "embedding")
    val twoStep = graft.ops.Similarity.ivfAppend(
      graft.ops.Similarity.ivfAppend(base,
        corpus.filter(col("vec_id") >= 48 && col("vec_id") % 2 === 0),
        "vec_id", "embedding"),
      corpus.filter(col("vec_id") >= 48 && col("vec_id") % 2 === 1),
      "vec_id", "embedding")
    assert(oneShot.centroids == base.centroids)
    assert(canon(graft.ops.Similarity.ivfTopKWith(oneShot, queries,
      "vec_id", "embedding", 3, nProbe = 2)) ==
      canon(graft.ops.Similarity.ivfTopKWith(twoStep, queries,
        "vec_id", "embedding", 3, nProbe = 2)))
    graft.ops.Caches.releaseAll()
  }

  test("ivfAppend id guard: dedupeIds drops an overlapping re-ingest; " +
      "default documents the disjoint contract (duplicates surface)") {
    val corpus = (0L until 64L).map(i =>
        (i, Seq.tabulate(8)(d => ((i * 5 + d * 3 + 1) % 11).toFloat - 5.0f)))
      .toDF("vec_id", "embedding")
    val base = graft.ops.Similarity.ivfBuild(
      corpus.filter(col("vec_id") < 40), "vec_id", "embedding",
      nCentroids = 4)
    // the delta re-ingests ids 32..39 (already indexed) plus 40..63
    val delta = corpus.filter(col("vec_id") >= 32)
    val guarded = graft.ops.Similarity.ivfAppend(base, delta,
      "vec_id", "embedding", dedupeIds = true)
    assert(guarded.assignments.count() == 64)
    assert(guarded.assignments.groupBy(col("neighbor_id"))
      .count().filter(col("count") > 1).count() == 0)
    // unguarded default: the overlap duplicates inverted-list rows —
    // the documented hazard the flag exists for
    val unguarded = graft.ops.Similarity.ivfAppend(base, delta,
      "vec_id", "embedding")
    assert(unguarded.assignments.count() == 72)
    graft.ops.Caches.releaseAll()
  }

  test("ivfAppend chain: N appends stack N lazy unions; the intended " +
      "write→load cycle collapses the probe to one snapshot scan") {
    val corpus = (0L until 64L).map(i =>
        (i, Seq.tabulate(8)(d => ((i * 7 + d) % 13).toFloat - 6.0f)))
      .toDF("vec_id", "embedding")
    val base = graft.ops.Similarity.ivfBuild(
      corpus.filter(col("vec_id") < 32), "vec_id", "embedding",
      nCentroids = 4)
    def unions(i: graft.ops.Similarity.IvfIndex): Int =
      i.assignments.queryExecution.optimizedPlan.collect {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
      }.size
    assert(unions(base) == 0)
    val a1 = graft.ops.Similarity.ivfAppend(base,
      corpus.filter(col("vec_id") >= 32 && col("vec_id") < 48),
      "vec_id", "embedding")
    val a2 = graft.ops.Similarity.ivfAppend(a1,
      corpus.filter(col("vec_id") >= 48), "vec_id", "embedding")
    assert(unions(a1) >= 1 && unions(a2) >= unions(a1),
      "appends are lazy unions by design — the doc'd chain hazard")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_ivf_chain").toString
    val v = graft.ops.Similarity.ivfWrite(a2, s"$tmp/ivf")
    val loaded = graft.ops.Similarity.ivfLoad(spark, s"$tmp/ivf", Some(v))
    // the round-trip flattens: no Union survives, and one more append
    // on the LOADED index stays exactly one union deep
    assert(unions(loaded) == 0)
    assert(unions(graft.ops.Similarity.ivfAppend(loaded,
      corpus.filter(col("vec_id") < 8)
        .select((col("vec_id") + 1000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding")) == 1)
    graft.ops.Caches.releaseAll()
  }

  test("ivfStats: exact list sizes over a skewed append — hot verdict " +
      "by integer cross-multiplication, dead centroid surfaces as 0") {
    // one-hot geometry: seed centroids (kmeansIters=0) are vectors
    // 0..3 = one-hot dims 0..3, so every one-hot-dim-d vector routes
    // EXACTLY to centroid d. Base spreads 16 rows evenly; the delta
    // piles 40 rows onto dim 0 — centroid 0 must flag hot (> 2× mean)
    def oneHot(ids: Range, dim: Int => Int) = ids.map(i =>
      (i.toLong, Seq.tabulate(8)(d =>
        if (d == dim(i)) 1.0f else 0.0f)))
    val base = oneHot(0 until 16, _ % 4).toDF("vec_id", "embedding")
    val idx = graft.ops.Similarity.ivfBuild(base, "vec_id", "embedding",
      nCentroids = 4, kmeansIters = 0)
    val delta = oneHot(100 until 140, _ => 0).toDF("vec_id", "embedding")
    val appended = graft.ops.Similarity.ivfAppend(idx, delta,
      "vec_id", "embedding")
    val stats = graft.ops.Similarity.ivfStats(appended, hotNum = 2,
      hotDen = 1).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(stats == Seq((0, 44L, true), (1, 4L, false),
      (2, 4L, false), (3, 4L, false)), stats.toString)
    // a list nothing routes to reports 0 + not-hot, never a missing
    // row (the post-compaction / guarded-ingest state)
    val pruned = graft.ops.Similarity.IvfIndex(appended.centroids,
      appended.assignments.filter(col("cid") =!= 2))
    val prunedStats = graft.ops.Similarity.ivfStats(pruned, 2, 1)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(prunedStats.map(_._1) == Seq(0, 1, 2, 3))
    assert(prunedStats.find(_._1 == 2).get._2 == 0L)
    graft.ops.Caches.releaseAll()
  }
}
