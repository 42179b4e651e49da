package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Caches, Corpus, Dedup, Multimodal, TextAnalysis}

/** One-order-of-magnitude scale stress for the dedup/CC path and the
  * corpus-preparation ops (the 100 TB arguments are plan-shape arguments;
  * this grounds them with a measured 1× vs 10× data point — see SCALE.md).
  *
  * The 10× corpus is 10 near-disjoint copies of the sf corpus: each copy's
  * text is passed through a distinct lowercase-letter rotation, so
  * within-copy duplicate structure is preserved exactly while cross-copy
  * shingle sets are almost unrelated — ground truth at 10× is ≈10× the
  * pairs of 1×. "Almost": rotations are not disjoint codes (copy i's
  * rotation of one token can coincide with copy j's rotation of another,
  * and non-[a-z] characters survive rotation unchanged), so a small
  * cross-copy surplus (<1% observed) is expected; the run PRINTS the
  * 10×/1× pair ratio so drift in the fixture is visible rather than
  * silent. A run prints one JSON line per (scale, op) with wall seconds,
  * result count, and shuffle write bytes.
  *
  * Usage: `runMain graft.ScaleStress [sfDir]` (default sf0.1; writes the
  * derived corpus under /tmp/graft_scale_corpus).
  */
object ScaleStress {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // shuffle accounting, accumulated per run
    val meter = RunMeter.attach(spark.sparkContext)

    val docs1x = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val stride = docs1x.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val corpusDir = "/tmp/graft_scale_corpus"
    val copies = (0 until 10).map { i =>
      val rot = alpha.drop(i) + alpha.take(i)
      docs1x.select(
        (col("doc_id") + lit(i * stride)).as("doc_id"),
        translate(col("text"), alpha, rot).as("text"))
    }
    copies.reduce(_ unionAll _).repartition(cpus)
      .write.mode("overwrite").parquet(corpusDir)
    val docs10x = spark.read.parquet(corpusDir)

    // optional second arg: comma-separated op allowlist (re-measure a
    // few rows without paying for the whole harness)
    val opFilter: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None

    def timed(scale: String, op: String)(f: => (Long, String)): String = {
      if (opFilter.exists(!_.contains(op))) return ""
      meter.settle()
      meter.reset()
      val t0 = System.nanoTime()
      val (n, planSig) = f
      val secs = (System.nanoTime() - t0) / 1e9
      Caches.releaseAll()
      meter.settle()
      val line = s"""{"scale":"$scale","op":"$op","sec":${f"$secs%.2f"},""" +
        s""""rows":$n,"shuffle_write_mb":${meter.shuffleWrite.get / 1024 / 1024},""" +
        s""""plan":"$planSig"}"""
      println(line)
      line
    }

    /** Operator-name signature of the FINAL (post-AQE) plan — call after
      * the action. Identical signatures at 1× and 10× demonstrate the plan
      * is data-size-invariant (same joins, same aggregates, no strategy
      * flip). Parsed from the plan string because the AQE wrapper hides its
      * current plan from TreeNode traversal. */
    def sig(df: org.apache.spark.sql.Dataset[_]): String = {
      val planStr = df.queryExecution.executedPlan.toString
      val marker = if (planStr.contains("isFinalPlan=true")) "final;" else "INITIAL;"
      val names = planStr
        .linesIterator
        .map(_.replaceAll("^[-+*:() 0-9]*", ""))   // tree art + codegen ids
        .map(_.takeWhile(c => c.isLetter))
        .filter(_.nonEmpty)
        .toSeq
      marker + names.groupBy(identity).toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k:${v.size}" }.mkString(",")
    }

    var pairs1x = 0L
    def run(scale: String, docs: DataFrame): Unit = {
      // q52 shape, hashed band keys (the at-scale default)
      timed(scale, "minhash_neardup") {
        val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
          bands = 8, rows = 4, shingleK = 3, threshold = 0.2)
        // count() would spawn a SEPARATE QueryExecution and leave this
        // frame's AQE plan un-finalized; executing the frame's own plan
        // makes sig() read the real post-AQE (isFinalPlan=true) tree
        val n = pairs.queryExecution.toRdd.count()
        if (scale == "1x") pairs1x = n
        else println(s"""{"check":"pair_ratio","value":${
          f"${n.toDouble / math.max(pairs1x, 1)}%.3f"}}""")
        (n, sig(pairs))
      }
      // q54 shape: frontier CC
      timed(scale, "cc_frontier") {
        val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
          bands = 8, rows = 4, shingleK = 3, threshold = 0.2)
        val cl = Dedup.nearDupClusters(docs, "doc_id", pairs)
        (cl.count(), "iterative")
      }
      // q61 shape: alternating large-star/small-star CC
      timed(scale, "cc_alternating") {
        val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
          bands = 8, rows = 4, shingleK = 3, threshold = 0.2)
        val cl = Dedup.nearDupClustersAlternating(docs, "doc_id", pairs,
          strict = true)
        (cl.count(), "iterative")
      }
      // q66 shape: per-shard cumsum sequence packing — the claim under
      // test is that the window stays hash-partitioned by shard (no
      // single-partition global window) as data grows
      timed(scale, "sequence_pack") {
        val d = docs.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        val packed = Corpus.sequencePack(d, "doc_id", "n_tokens",
          ctxLen = 256, nShards = 8)
        (packed.queryExecution.toRdd.count(), sig(packed))
      }
      // q67 shape: vocabulary — partial-aggregated word count, TakeOrdered
      // top-k; the word-key shuffle is the irreducible cost
      timed(scale, "vocabulary") {
        val v = Corpus.vocabulary(docs, "text", 50)
        (v.queryExecution.toRdd.count(), sig(v))
      }
      // q308 shape: vocabulary richness — one (group, word) collapse,
      // then a vocabulary-bounded frequency-of-frequencies collapse
      timed(scale, "vocab_richness") {
        val g = docs.withColumn("src",
          concat(lit("s"), pmod(col("doc_id"), lit(20L))))
        val out = Corpus.vocabRichness(g, "src", "text")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q68 shape: PII redaction — pure per-row regex chain, no shuffle;
      // must scale linearly with zero exchanges at any size
      timed(scale, "redact_pii") {
        val (red, counts) = Corpus.redactPii(col("text"))
        val out = docs.select(
          col("doc_id") +: counts.map { case (n, c) => c.cast("long").as(n) } :+
            red.as("text"): _*)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q69 shape: real PNG encode→ImageIO decode→stats — the media-tier
      // claim under test is "linear CPU, no shuffle": the plan must stay
      // exchange-free and wall must grow ~linearly with the corpus
      timed(scale, "image_decode") {
        val st = Multimodal.decodeImageStats(
          Multimodal.withSyntheticImage(docs, "doc_id"))
        (st.queryExecution.toRdd.count(), sig(st))
      }
      // q221/q222 shapes: perceptual hashes — decode CPU, no shuffle
      timed(scale, "image_ahash") {
        val st = Multimodal.imageAHash(
          Multimodal.withSyntheticImage(docs, "doc_id"))
        (st.queryExecution.toRdd.count(), sig(st))
      }
      timed(scale, "audio_fingerprint") {
        val st = Multimodal.audioFingerprint(
          Multimodal.withSyntheticWavPcm(docs, "doc_id"))
        (st.queryExecution.toRdd.count(), sig(st))
      }
      // q223 shape: scene changes — container walk, per-row CPU only
      timed(scale, "video_scenes") {
        val st = Multimodal.videoSceneChanges(
          Multimodal.withSyntheticAvi(docs, "doc_id"))
        (st.queryExecution.toRdd.count(), sig(st))
      }
      // q72 shape: WAV PCM construct→RIFF decode→stats — same
      // linear-CPU/no-shuffle claim for the audio tier
      timed(scale, "audio_decode") {
        val st = Multimodal.decodeAudioStats(
          Multimodal.withSyntheticWavPcm(docs, "doc_id"))
        (st.queryExecution.toRdd.count(), sig(st))
      }
      // q248/q252 shapes: the other two perceptual tiers — same
      // decode-CPU/no-shuffle claim; pHash adds the 8×8 integer DCT
      timed(scale, "image_dhash") {
        val st = Multimodal.imageDHash(
          Multimodal.withSyntheticImage(docs, "doc_id"))
        (st.queryExecution.toRdd.count(), sig(st))
      }
      timed(scale, "image_phash") {
        val st = Multimodal.imagePHash(
          Multimodal.withSyntheticImage(docs, "doc_id"))
        (st.queryExecution.toRdd.count(), sig(st))
      }
      // q249 shape: audio hygiene counters over the same PCM decodes
      timed(scale, "audio_quality") {
        val st = Multimodal.audioQuality(
          Multimodal.withSyntheticWavPcm(docs, "doc_id"),
          clipLevel = 1800, silenceLevel = 150)
        (st.queryExecution.toRdd.count(), sig(st))
      }
      // q250/q251 shapes: per-row string canonicalization (shuffle-free)
      // then the domain rollup's two partial-aggregable groupBys
      timed(scale, "url_canonicalize") {
        val id = col("doc_id")
        val url = concat(
          when(id % 3 === 0, lit("https")).otherwise(lit("http")),
          lit("://"), when(id % 2 === 0, lit("WWW.")).otherwise(lit("")),
          lit("Site"), (id % 5).cast("string"), lit(".Example.org"),
          lit("//a/"), (id % 7).cast("string"),
          when(id % 3 === 0, lit("?utm_source=x&b=2&a=1")).otherwise(lit("")))
        val d = docs.select(id, url.as("url"), lit("en").as("lang"),
          length(col("text")).as("n_chars"))
        val out = graft.ops.UrlOps.domainRollup(d, "url", "lang", "n_chars")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q258 shape: Gini — rank window over the count table only
      timed(scale, "gini") {
        val out = graft.ops.Profiling.gini(
          docs.withColumn("lang", (col("doc_id") % 5).cast("string"))
            .withColumn("source", (col("doc_id") % 37).cast("string")),
          "lang", "source")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q254 shape: HHI — two stacked groupBys, group-count-sized tail
      timed(scale, "hhi") {
        val out = graft.ops.Profiling.hhi(
          docs.withColumn("lang", (col("doc_id") % 5).cast("string"))
            .withColumn("source", (col("doc_id") % 37).cast("string")),
          "lang", "source")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q262-q265 shapes: per-row passes (container walk, regexps,
      // stopword scans) — the zero-shuffle tier
      timed(scale, "video_freeze") {
        val st = Multimodal.videoFreezeRuns(
          Multimodal.withSyntheticAviRepeats(docs, "doc_id"))
        (st.queryExecution.toRdd.count(), sig(st))
      }
      timed(scale, "langid_margin") {
        val out = graft.ops.TextAnalysis.langIdMargin(
          docs, "doc_id", "text")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "homoglyphs") {
        val sigs2 = graft.ops.TextAnalysis.homoglyphSignals(col("text"))
        val out = docs.select(col("doc_id") +:
          sigs2.map { case (n, c) => c.as(n) }: _*)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "hyphen_repair") {
        val rep = graft.ops.TextAnalysis.repairHyphenation(col("text"))
        val out = docs.select(col("doc_id") +:
          rep.map { case (n, c) => c.as(n) }: _*)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q77 shape: benchmark decontamination — the claim under test is
      // that with a FIXED benchmark set (real eval suites don't grow with
      // the corpus) its gram set broadcasts, corpus text is never the
      // shuffled side, and corpus cost stays linear. The benchmark is
      // drawn from the 1× corpus at BOTH scales so only the corpus grows.
      timed(scale, "decontaminate") {
        val bench = docs1x.filter(col("doc_id") % 10 === 0).select("text")
        val out = Dedup.decontaminate(docs, "doc_id", "text",
          bench, "text", n = 8)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q79 shape: corpus-wide paragraph dedup — the keep-decision window
      // rides 32-byte digests; the claim is both shuffles (decision +
      // rebuild) stay hash-partitioned with no single-partition stage
      timed(scale, "dedup_paragraphs") {
        val d = docs.select(col("doc_id"),
          concat_ws("\n\n", lit("SHARED INTRO"), col("text")).as("text"))
        val out = Dedup.dedupParagraphs(d, "doc_id", "text")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q81 shape: duplicated-span profile — (id, hash) explode,
      // partial-aggregated groupBy(hash).count() + join-back of the
      // >=minOcc set; text never shuffles, cost tracks shingle count
      timed(scale, "dup_spans") {
        val out = Dedup.dupSpanProfile(docs, "doc_id", "text", k = 8)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q83 shape: duplicated-span removal — keep-first is a
      // partial-aggregable min(struct(id,pos)) per hash + join-back,
      // then per-doc codegen'd token surgery; text rides the rebuild
      // join only, never the decision shuffle
      timed(scale, "remove_dup_spans") {
        val out = Dedup.removeDupSpans(docs, "doc_id", "text", k = 8)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q377 shape: maximal exact-substring spans — 8-byte 4-gram
      // explode, partial-aggregable dup collapse, per-DOC island window
      timed(scale, "exact_substr_spans") {
        val out = Dedup.maximalDupSpans(docs, "doc_id", "text", minLen = 4)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // ADVERSARIAL hot-shingle corpus: one fixed 8-word boilerplate
      // sentence prefixes 50% of documents, so a single shingle hash
      // holds half the corpus — the web-boilerplate skew that killed the
      // former count/row_number windows (every occurrence in one task).
      // The claim under test: map-side partial aggregation collapses the
      // hot key pre-shuffle, so wall stays ~linear and the plan is
      // unchanged vs the uniform corpus
      val hotDocs = docs.withColumn("text",
        when(pmod(col("doc_id"), lit(2L)) === 0,
          concat(lit("click here to accept all cookies and continue "),
            coalesce(col("text"), lit(""))))
          .otherwise(col("text")))
      timed(scale, "dup_spans_hot") {
        val out = Dedup.dupSpanProfile(hotDocs, "doc_id", "text", k = 8)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "remove_dup_spans_hot") {
        val out = Dedup.removeDupSpans(hotDocs, "doc_id", "text", k = 8)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q98 shape: inverted index — df counts first, then the distinct
      // (word, doc) pairs semi-join the surviving vocabulary BEFORE any
      // posting list materializes; cutoff scales with the corpus so the
      // same vocabulary fraction survives at both sizes
      timed(scale, "inverted_index") {
        val cutoff = docs.count() * 78 / 100
        val out = Corpus.invertedIndex(docs, "doc_id", "text", cutoff)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q95 shape: CDC chunk-dup profile — per-row codegen'd chunking,
      // then groupBy(digest) partials + join-back; only 8-byte digests
      // shuffle and the count aggregation collapses repeats map-side
      timed(scale, "cdc_dedup") {
        val out = Dedup.cdcDedupStats(docs, "doc_id", "text")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // same op on the hot-boilerplate corpus: the shared 47-char prefix
      // of half the docs produces a corpus-dominating chunk digest; the
      // claim is partial aggregation collapses it pre-shuffle (wall and
      // plan match the uniform corpus)
      timed(scale, "cdc_dedup_hot") {
        val out = Dedup.cdcDedupStats(hotDocs, "doc_id", "text")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q78/q82 shapes under ADVERSARIAL key skew: one hot key holds 50%
      // of rows through the per-key quota cap and the token-budget
      // cumsum. Both windows stay hash-partitioned BY KEY; the hot key
      // sorts in one task but its tail rows are exactly the discarded
      // ones, so wall must stay bounded (~linear) as the corpus grows
      val skewed = docs
        .withColumn("key",
          when(pmod(col("doc_id"), lit(2L)) === 0, lit("hot"))
            .otherwise(concat(lit("k"), pmod(col("doc_id"), lit(97L)))))
        .withColumn("len", length(coalesce(col("text"), lit(""))))
      timed(scale, "cap_per_key_hot") {
        val out = Corpus.capPerKey(skewed, "key", 100, "len", "doc_id")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q104 shape under the same skew: hash-order sampling through a
      // hot stratum — WindowGroupLimit forwards ≤ n candidates per map
      // task, so the hot stratum never ships its membership to one task
      timed(scale, "stratified_sample_hot") {
        val out = Corpus.stratifiedSample(skewed, "key", 100,
          "text", "doc_id")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q111 shape: per-key exact-percentile thresholds (|keys| rows)
      // broadcast back; two scans, no data-sized shuffle
      timed(scale, "quantile_filter") {
        val out = Corpus.filterByQuantile(skewed, "key", "len", 0.8)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q366 shape: the same broadcast-threshold plan with GK sketches —
      // per-key agg state is bounded, so the hot key costs its scan, not
      // a value buffer
      timed(scale, "quantile_filter_approx") {
        val out = Corpus.filterByQuantileApprox(skewed, "key", "len", 0.8)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "token_budget_hot") {
        val out = Corpus.selectByTokenBudget(
          skewed, "key", "len", "len", 500000L, "doc_id")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q84 shape: incremental exact dedup — the seen corpus (a third of
      // the docs) contributes only a distinct digest projection and the
      // batch pays one sha-keyed exchange shared by the anti-join and the
      // keep-first window; both sides grow with the corpus here, and the
      // claim is the plan shape (single batch exchange, digests-only from
      // seen) is scale-invariant
      timed(scale, "dedup_incremental") {
        val out = Dedup.dedupAgainstCorpus(
          docs, "doc_id", "text",
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0), "text")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q85 shape: cluster representatives — CC then a cluster-keyed
      // rank-1 window; the claim is WindowGroupLimit map-side pruning
      // keeps a mega-cluster from shipping its membership to one task
      timed(scale, "cluster_reps") {
        val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
          bands = 8, rows = 4, shingleK = 3, threshold = 0.2)
        val scored = docs.select(col("doc_id"),
          length(coalesce(col("text"), lit(""))).cast("long").as("score"))
        val out = Dedup.clusterRepresentatives(scored, "doc_id", pairs, "score")
        (out.count(), "iterative")
      }
      // q369 shape: greedy max-coverage — persisted 8-byte pair table,
      // k single-row argmax rounds (the trainBpe loop posture)
      timed(scale, "max_coverage") {
        val out = Corpus.maxCoverageSelect(docs, "doc_id", "text", k = 5)
        (out.count(), "iterative")
      }
      // q374 shape: stochastic-greedy max-coverage — each round scores
      // only a content-hash pool of expected (n/k)·ln(1/ε) docs
      // (ε=1/2, k=8 → ~8.7% of the corpus per round vs 8 full rescans)
      timed(scale, "max_coverage_sampled") {
        val out = Corpus.maxCoverageSelectSampled(docs, "doc_id", "text",
          k = 8, epsNum = 1, epsDen = 2)
        (out.count(), "iterative")
      }
      // q86 shape: TF-IDF keywords — two partial-aggregable word
      // aggregations; the vocabulary-sized doc-frequency table broadcasts
      // back and the per-doc top-k window is rank-limited
      // (WindowGroupLimit), so no global sort appears at any size
      timed(scale, "tfidf_keywords") {
        val out = Corpus.tfidfKeywords(docs, "doc_id", "text", 5)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q87 shape: unigram stats — same explode + broadcast frequency
      // join; the per-doc ordered fold is bounded by document vocabulary,
      // never corpus size
      timed(scale, "unigram_stats") {
        val out = Corpus.unigramStats(docs, "doc_id", "text")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q80 shape: mixture sampling — stateless per-row generate; must
      // stay exchange-free at any size (the derived corpus carries no
      // source column, so derive one from the id)
      timed(scale, "sample_mixture") {
        val d = docs.withColumn("source",
          concat(lit("src"), pmod(col("doc_id"), lit(20L))))
        val out = Corpus.sampleMixture(d, "source", "text",
          Map("src0" -> 0.0, "src1" -> 0.5, "src2" -> 2.25, "src3" -> 3.0))
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q130 shape under the same skew: winsorization — |keys|-row
      // percentile table broadcast back; two scans, no data-sized shuffle
      timed(scale, "winsorize_hot") {
        val out = Corpus.winsorize(skewed, "key", "len", 0.1, 0.9)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q367 shape: GK-band winsorization under the same skew
      timed(scale, "winsorize_approx_hot") {
        val out = Corpus.winsorizeApprox(skewed, "key", "len", 0.1, 0.9)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q133 shape: snapshot diff — digests-only full-outer join, one
      // key shuffle, payloads never ship
      timed(scale, "snapshot_diff") {
        val dig = graft.functions.NativeHashes.poly_hash(
          coalesce(col("text"), lit("")))
        val old = docs.select(col("doc_id"), dig.as("digest"))
        val neu = docs.filter(pmod(col("doc_id"), lit(13L)) =!= 0)
          .select(col("doc_id"), dig.as("digest"))
        val out = graft.ops.Incremental.snapshotDiff(
          old, neu, "doc_id", "digest")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q134 shape under the cap_per_key skew: equi-depth ntile — one
      // key-partitioned window, a key costs its own row count
      timed(scale, "equidepth_hot") {
        val out = graft.ops.Profiling.equiDepthBins(
          skewed, "key", "len", "doc_id", 5)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q121 shape: BM25 — per-term tf from the row's own tokens, ONE
      // single-row stats broadcast; the corpus never shuffles and the
      // rank window is top-k-limited (WindowGroupLimit map-side)
      timed(scale, "bm25") {
        val out = Corpus.bm25TopK(docs, "doc_id", "text",
          Seq("join", "vector", "scan"), topK = 20)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q122 shape under the cap_per_key skew: hot key holds half the
      // corpus, but WindowGroupLimit forwards ≤ k rows per map task
      timed(scale, "weighted_sample_hot") {
        val out = Corpus.weightedSample(skewed, "key", "len", "doc_id", 100)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q123 shape: chunking — pure per-row sequence+posexplode; output
      // grows with tokens × window/stride, shuffle must stay zero
      timed(scale, "chunk") {
        val out = Corpus.chunkDocuments(docs, "doc_id", "text", 24, 16)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q124 shape: incremental pre-agg refresh — base is ALREADY the
      // |keys|-sized aggregate (persisted once), so a delta refresh
      // scans and shuffles only the delta + aggregate rows; the claim is
      // the refresh cost tracks |delta|, not |base facts|
      timed(scale, "incremental_preagg") {
        import graft.ops.Incremental
        val keyed = docs.withColumn("key", pmod(col("doc_id"), lit(97L)))
          .withColumn("len", length(coalesce(col("text"), lit(""))).cast("long"))
          .withColumn("sign", lit(1L))
        val baseAgg = Incremental.aggregateSigned(
          keyed.filter(pmod(col("doc_id"), lit(10L)) =!= 0),
          Seq("key"), "sign", Seq("len"))
        val deltaAgg = Incremental.aggregateSigned(
          keyed.filter(pmod(col("doc_id"), lit(10L)) === 0),
          Seq("key"), "sign", Seq("len"))
        val out = Incremental.merge(baseAgg, deltaAgg, Seq("key"))
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q145 shape: BPE pair stats — the corpus collapses into the
      // word-frequency histogram map-side; the char-pair roll-up runs
      // over DISTINCT words, so 10× data with the same vocabulary must
      // cost the FIRST aggregation only
      timed(scale, "bpe_pairs") {
        val out = Corpus.bpePairCounts(docs, "text", topK = 50)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q168 shape: collocations — in-row bigram zip (no self-join),
      // vocabulary-sized unigram joins; output bounded by minCount
      timed(scale, "collocations") {
        val out = Corpus.collocations(docs, "text",
          minCount = 20, delta = 5, thresholdNum = 3, thresholdDen = 2)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q169 shape: lexical diversity — text collapses map-side to the
      // per-key vocabulary; second pass is vocabulary-sized
      timed(scale, "lexical_diversity") {
        val keyed = docs.withColumn("src",
          pmod(col("doc_id"), lit(20L)).cast("string"))
        val out = Corpus.lexicalDiversity(keyed, "src", "text")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q172 shape: vocab coverage — distributed prefix sum; every
      // window is partition-scoped, the offset collect is
      // |partitions|-rows
      timed(scale, "vocab_coverage") {
        val out = Corpus.vocabCoverage(docs, "text", Seq(50, 90, 99))
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q147 shape: script profile — pure per-row regexp counts, zero
      // shuffle beyond the harness count
      timed(scale, "script_profile") {
        val cols = TextAnalysis.scriptProfile(col("text"))
          .map { case (n, c) => c.as(n) }
        val out = docs.select(col("doc_id") +: cols: _*)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q144 shape: class rebalancing with an ADVERSARIAL split — one
      // class holds ~50% of rows (the per-class rank window's hot key);
      // skew lands on the MAJORITY class, which gets no extra copies,
      // and the fan-out is bounded by the output corpus
      timed(scale, "balance_hot") {
        val skewed = docs.withColumn("cls",
          when(pmod(col("doc_id"), lit(2L)) === 0, lit("hot"))
            .otherwise(pmod(col("doc_id"), lit(13L)).cast("string")))
        val out = Corpus.balanceClasses(skewed, "cls", "doc_id")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q175 shape: prefix-filtered exact Jaccard join — candidates meet
      // only on prefix (rarest-shingle) elements; 10× corpus with
      // duplicate structure must scale in candidates, not corpus²
      timed(scale, "ppjoin") {
        val withTwins = docs.unionAll(
          docs.filter(pmod(col("doc_id"), lit(25L)) === 0)
            .select(col("doc_id") + 10000000L,
              concat(col("text"), lit(" extra")).as("text")))
        val out = graft.ops.Fuzzy.prefixFilterJaccardPairs(
          withTwins, "doc_id", "text", 3, 1, 2)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q176 shape: gazetteer — one explode per phrase length + a
      // broadcast dictionary join; non-hits die map-side
      timed(scale, "gazetteer") {
        val out = Corpus.gazetteerMatch(docs, "doc_id", "text",
          Seq("the", "of the", "in a row"))
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // the single-pass Aho-Corasick twin: same dictionary, one scan
      // regardless of phrase-length count — measured against the
      // explode form above
      timed(scale, "gazetteer_ac") {
        val out = Corpus.gazetteerMatchAC(docs, "doc_id", "text",
          Seq("the", "of the", "in a row"))
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q180 shape: LM scoring — train vocabulary collapses map-side,
      // scoring is one explode + word join + per-doc partial agg
      timed(scale, "lm_score") {
        val out = Corpus.lmScore(docs, "doc_id", "text",
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0), "text")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q384 shape (r13): KN bigram scoring — train collapses map-side
      // to the bigram table (plus two vocab-sized derived collapses),
      // scoring is one explode + three vocab-sized equi-joins + per-doc
      // partial aggregation; only (B, V) scalars reach the driver
      timed(scale, "kn_bigram_lm") {
        val out = Corpus.knScore(docs, "doc_id", "text",
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0), "text")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q385 shape (r13): contamination spans — the benchmark's distinct
      // L-gram hash set broadcast-semi-joins the corpus's positional gram
      // explode (corpus text never shuffles); islands window per-document
      timed(scale, "contamination_spans") {
        val out = Dedup.contaminationSpans(docs, "doc_id", "text",
          docs.filter(pmod(col("doc_id"), lit(17L)) === 0), "text",
          minLen = 4)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q386 shape (r13): perplexity bucketing — the kn_bigram_lm cost
      // plus a distributed exact-rank pass (range repartition of the
      // doc-scale score table, per-partition row_number, |partitions|-row
      // offset collect) and a nBuckets-row collapse; NO global window
      timed(scale, "perplexity_buckets") {
        val out = Corpus.perplexityBuckets(docs, "doc_id", "text",
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0), "text",
          nBuckets = 3)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q181 shape: DSIR — the model is |buckets| doubles broadcast;
      // cost is the two bucket-count collapses + the scoring pass
      timed(scale, "dsir") {
        val out = Corpus.dsirWeights(docs, "doc_id", "text",
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0), "text", 64)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q178 shape: skyline — corpus collapses to the |distinct x|
      // frontier table map-side; the suffix max runs partition-scoped
      timed(scale, "skyline") {
        val pts = docs.select(col("doc_id"),
          length(col("text")).cast("long").as("x"),
          (graft.functions.NativeHashes.poly_hash(col("text")) % 1000)
            .as("y"))
        val out = graft.ops.Profiling.skyline2d(pts, "x", "y")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q198 shape: incremental near-dup — the 1-in-10 perturbed batch
      // probes the corpus band table via the (band, key) equi-join;
      // candidate volume tracks the batch, never batch×corpus
      timed(scale, "minhash_incremental") {
        val batch = docs.filter(pmod(col("doc_id"), lit(10L)) === 0)
          .select((col("doc_id") + 100000000L).as("doc_id"),
            concat(col("text"), lit(" z")).as("text"))
        val out = Dedup.minhashNearDupsAgainst(batch, docs, "doc_id",
          "text", bands = 8, rows = 4, shingleK = 3, threshold = 0.2)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q187 shape: winnowing — per-row window folds, zero shuffle
      // before the explode; wall must track the corpus linearly
      timed(scale, "winnowing") {
        val out = Dedup.winnowFingerprints(docs, "doc_id", "text",
          k = 3, w = 4)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q189 shape: sorted-neighborhood — ONE block-key shuffle + a
      // per-block sort; candidates are O(n·w) by construction
      timed(scale, "sorted_neighborhood") {
        val d = docs.select(col("doc_id"),
          pmod(graft.functions.NativeHashes.poly_hash(col("text")),
            lit(64L)).as("blk"),
          length(col("text")).cast("long").as("len"))
        val out = graft.ops.Fuzzy.sortedNeighborhood(d, "doc_id",
          Seq("blk"), Seq("len"), w = 3)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q192 shape: χ² keywords — presence explode collapses into
      // partial-aggregable (word, class) cells; top-k is a
      // WindowGroupLimit-pruned rank over |classes| partitions
      timed(scale, "chi2_keywords") {
        val d = docs.withColumn("cls",
          pmod(col("doc_id"), lit(16L)).cast("string"))
        val out = Corpus.chi2Keywords(d, "doc_id", "cls", "text",
          topK = 5, minDf = 2)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q200 shape: JS divergence — vocabulary-sized full-outer join
      // after two partial-aggregable counts; total fold bounded by the
      // minCount-truncated support
      timed(scale, "js_divergence") {
        val out = Corpus.jsDivergence(
          docs.filter(pmod(col("doc_id"), lit(2L)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2L)) === 1),
          "text", topK = 20, minCount = 3L)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q326 shape: log-odds fightin' words — two word collapses, one
      // vocabulary-sized full-outer join, two TakeOrdered passes
      timed(scale, "log_odds") {
        val out = Corpus.logOddsWords(
          docs.filter(pmod(col("doc_id"), lit(2L)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2L)) === 1),
          "text", topK = 20)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q201 shape: distinct-n diversity — three explodes, each into two
      // partial-aggregable levels; only gram strings ride the shuffle
      timed(scale, "ngram_diversity") {
        val d = docs.withColumn("grp",
          pmod(col("doc_id"), lit(8L)).cast("string"))
        val out = Corpus.ngramDiversity(d, "grp", "text")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q297 shape: systematic resample — distributed prefix sum of
      // weights in id order, exact copy arithmetic
      timed(scale, "systematic_resample") {
        val out = Corpus.systematicResample(
          docs.select(col("doc_id"),
            (length(col("text")) + 1).cast("long").as("wt")),
          "doc_id", "wt", n = 100000L)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q300 shape: epoch shuffle order — the same prefix-sum shape on
      // row counts, LCG-scrambled polyhash keys
      timed(scale, "shuffle_order") {
        val out = Corpus.shuffleOrder(docs.select(col("doc_id")),
          "doc_id", epoch = 3L)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q296 shape: SFT mask QA — per-row JSON parse + lambda folds;
      // the assistant turn carries real (JSON-sanitized) doc text so
      // the parse cost is corpus-shaped, not constant-folded
      timed(scale, "sft_mask") {
        val safe = regexp_replace(col("text"),
          "[\"\\\\\\x00-\\x1f]", " ")
        val convo = concat(
          lit("[{\"role\":\"user\",\"content\":\"q\"},"),
          lit("{\"role\":\"assistant\",\"content\":\""),
          safe, lit("\"}]"))
        val out = graft.ops.SemiStructured.sftMaskStats(
          docs.select(col("doc_id"), convo.as("convo")),
          "doc_id", "convo")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q203 shape: codepoint entropy — one JIT pass per row, no shuffle
      timed(scale, "char_entropy") {
        val out = graft.ops.TextAnalysis.charEntropyStats(
          docs, "doc_id", "text")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // deflate quality signal — per-row codec pass, no shuffle
      timed(scale, "compression_ratio") {
        val out = graft.ops.TextAnalysis.compressionSignals(
          docs, "doc_id", "text")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q209 shape: BPE training — corpus collapses once into the vocab
      // table; every round after is vocab-sized (4 rounds here)
      timed(scale, "bpe_train") {
        val out = Corpus.trainBpe(docs, "text", numMerges = 4)
        (out.queryExecution.toRdd.count(), "driver-loop")
      }
      // q376 shape: unigram-LM tokenizer training — corpus collapses
      // once into the word table; each EM round is one per-word JIT
      // Viterbi pass + a vocab-sized collapse/collect
      timed(scale, "unigram_lm_train") {
        val out = Corpus.trainUnigramLm(docs, "text")
        (out.queryExecution.toRdd.count(), "driver-loop")
      }
      // q382 shape (r13): loss-ranked prune — the EM cost plus, per
      // prune round, ONE words-table JIT pass scoring ALL candidates'
      // whole-bit loss deltas + a |candidates|-row collect, and a final
      // recount pass
      timed(scale, "unigram_lm_loss_prune") {
        val out = Corpus.trainUnigramLmLossPrune(docs, "text",
          seedSize = 30, vocabSize = 16, emRounds = 2, pruneRounds = 2)
        (out.queryExecution.toRdd.count(), "driver-loop")
      }
      // q378 shape: unigram encode — per-row JIT Viterbi per word with
      // a literal piece table, no shuffle (bpe_encode's sibling)
      timed(scale, "unigram_encode") {
        val trained = Corpus.trainUnigramLm(docs, "text")
          .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
        val out = Corpus.unigramEncodeStats(docs, "doc_id", "text", trained)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q383 shape (r13): byte-fallback encode — same shuffle-free
      // one-JIT-pass shape as unigram_encode, plus the per-char UTF-8
      // byte valuation on fallback words
      timed(scale, "unigram_encode_bf") {
        val trained = Corpus.trainUnigramLm(docs, "text")
          .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
        val out = Corpus.unigramEncodeStatsByteFallback(
          docs.withColumn("text", concat(col("text"), lit(" héllo中"))),
          "doc_id", "text", trained)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q210 shape: BPE encode — per-row JIT pass with a literal merge
      // table, no shuffle
      timed(scale, "bpe_encode") {
        val out = Corpus.bpeEncodeStats(docs, "doc_id", "text",
          Seq(("e", "r"), ("t", "h"), ("a", "n"), ("er", "s")))
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q211/q212 shape: Gopher repetition + quality rules — per-row
      // passes, no exchange
      timed(scale, "gopher_repetition") {
        val out = graft.ops.TextAnalysis.gopherRepetitionFeatures(
          docs, "doc_id", "text")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "gopher_rules") {
        val out = graft.ops.TextAnalysis.gopherQualityFlags(
          docs, "doc_id", "text", minWords = 10)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q213 shape: skip-gram pairs — vocab-sized frequency join, per-doc
      // re-index window, doc-keyed self-join with fan-out <= 2*window
      timed(scale, "skipgram_pairs") {
        val out = Corpus.skipgramPairs(docs, "doc_id", "text",
          window = 2, tMil = 1000L, topK = 50)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q215 shape: negative-sampling table — one partial-aggregable
      // count, windows over the K-row cap only
      timed(scale, "negative_sampling") {
        val out = Corpus.negativeSamplingTable(docs, "text", topK = 100)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q217 shape: dialogue stats — per-row array lambdas, no shuffle
      timed(scale, "dialogue_stats") {
        val conv = docs.select(col("doc_id"),
          concat(lit("user: "), col("text"), lit("\nassistant: "),
            col("text")).as("text"))
        val out = graft.ops.TextAnalysis.dialogueStats(
          conv, "doc_id", "text")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q218 shape: sketch calibration — the q52 banded join + one
      // signature join-back per side; candidates, never all pairs
      timed(scale, "minhash_calibration") {
        val out = Dedup.minhashCalibration(docs, "doc_id", "text",
          bands = 8, rows = 4, shingleK = 3)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q220 shape: source scorecard — two per-row passes + one
      // hash-keyed dup groupBy + one per-source aggregate
      timed(scale, "source_scorecard") {
        val d = docs.withColumn("src",
          pmod(col("doc_id"), lit(20L)).cast("string"))
        val out = graft.ops.TextAnalysis.sourceScorecard(
          d, "doc_id", "text", "src", minWords = 10)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q197 shape: expectations — all row-local rules fold into ONE
      // aggregation pass; Unique adds one partial-aggregable groupBy,
      // ForeignKey one anti-join against a fixed-size reference
      timed(scale, "expectations") {
        val ref = docs.select(pmod(col("doc_id"), lit(1000L)).as("k"))
          .distinct()
        val out = graft.ops.Validate.validate(
          docs.withColumn("k2", pmod(col("doc_id"), lit(1100L))), Seq(
            graft.ops.Validate.NotNull("text"),
            graft.ops.Validate.InRange("doc_id", 0L, 1000000000L),
            graft.ops.Validate.Unique(Seq("doc_id")),
            graft.ops.Validate.ForeignKey(Seq("k2"), ref, Seq("k"), "ref")))
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q230 shape: blocked edit-distance linkage over the distinct
      // first words — block size is vocabulary-bounded, the length
      // prefilter rides the join condition, only survivors pay the DP
      timed(scale, "edit_join") {
        // distinct vocabulary (~10× at 10× via the rotated copies) plus
        // a 3rd-char-deletion typo per word, so the DP verify has real
        // distance-1 pairs to confirm, not just a block join to prune
        val words = docs.select(
            explode(split(lower(col("text")), "\\s+")).as("w"))
          .filter(length(col("w")).between(4, 12))
        val typos = words.select(concat(substring(col("w"), 1, 2),
          substring(col("w"), 4, 100)).as("w"))
        val out = graft.ops.Fuzzy.editDistancePairs(
          words.unionAll(typos), "w", blockLen = 2, maxDist = 1)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q231 shape: LOO target encoding — one per-category partial
      // aggregate + an AQE-splittable join-back on the category key
      timed(scale, "target_encode") {
        val d = docs.select(col("doc_id"),
          pmod(col("doc_id"), lit(50L)).cast("string").as("cat"),
          length(col("text")).cast("long").as("y"))
        val out = Corpus.targetEncodeLoo(d, "doc_id", "cat", "y")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q240 shape: l-diversity — the kAnonymize plan with one more
      // aggregate; null-safe equi join-back, AQE splits hot groups
      timed(scale, "l_diversity") {
        // 199·7 co-prime to 5, so doc_id % 5 VARIES inside each quasi
        // group (a 200-modulus would lock it and homogenize every group)
        val d = docs.select(col("doc_id"),
          pmod(col("doc_id"), lit(199L)).as("q1"),
          pmod(col("doc_id"), lit(7L)).as("q2"),
          when(pmod(col("doc_id"), lit(3L)) =!= 0,
            pmod(col("doc_id"), lit(5L)).cast("string")).as("sens"))
        val out = Corpus.lDiversity(d, Seq("q1", "q2"), "sens", l = 3L)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q241 shape: LSH tuning sweep — ONE persisted signature pass
      // feeds all three configs; per config an explode + (band, key)
      // partial count collapsing to a single row
      timed(scale, "lsh_tuning") {
        val out = graft.ops.Dedup.lshTuning(docs, "doc_id", "text",
          Seq((8, 4), (16, 2), (4, 8)))
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q242 shape: soft-dedup weights — cluster count + join-back on
      // synthesized clusters (the CC path is measured separately)
      timed(scale, "dup_weights") {
        val a = docs.select(col("doc_id"),
          pmod(col("doc_id"), lit(20000L)).as("cluster"))
        val out = graft.ops.Dedup.dupWeights(a, "cluster")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q243 shape: percentile rank — per-(group, value) partial counts
      // window only over the distinct-value histogram, then join-back
      timed(scale, "percentile_rank") {
        val d = docs.select(col("doc_id"),
          pmod(col("doc_id"), lit(20L)).cast("string").as("src"),
          length(col("text")).cast("long").as("len"))
        val out = graft.ops.Profiling.percentileRank(d, "src", "len")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q245 shape: readability — pure per-row regexp_count trio
      timed(scale, "readability") {
        val out = docs.select(Seq(col("doc_id")) ++
          graft.ops.TextAnalysis.readability(col("text")).map {
            case (n, c) => c.as(n) }: _*)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q246 shape: ROUGE-2 — per-side (id, gram) partial counts, one
      // full-outer equi-join, per-id collapse. The exact-string path
      // ships the text's n-grams verbatim; the hashed path is the
      // corpus-scale variant (8-byte poly-hash grams on the wire)
      timed(scale, "rouge") {
        val cand = docs.select(col("doc_id"),
          regexp_replace(col("text"), "e", "a").as("text"))
        val out = graft.ops.TextAnalysis.rougeN(cand, docs, "doc_id",
          "text", n = 2)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "rouge_hashed") {
        val cand = docs.select(col("doc_id"),
          regexp_replace(col("text"), "e", "a").as("text"))
        val out = graft.ops.TextAnalysis.rougeN(cand, docs, "doc_id",
          "text", n = 2, hashed = true)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q232 shape: encoding anomalies — pure per-row codegen'd
      // regexp_count, no exchange at any size
      timed(scale, "mojibake") {
        val out = docs.select(Seq(col("doc_id")) ++
          graft.ops.TextAnalysis.encodingAnomalies(col("text")).map {
            case (n, c) => c.as(n) }: _*)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q236 shape: golden-record survivorship — ONE partial-aggregable
      // groupBy; every per-field survivor is a max(struct) that
      // combines map-side, so the shuffle carries |clusters| rows
      timed(scale, "golden_record") {
        val d = docs.select(col("doc_id"),
          pmod(col("doc_id"), lit(50000L)).as("clu"),
          pmod(col("doc_id"), lit(11L)).as("ord"),
          when(pmod(col("doc_id"), lit(7L)) =!= 0, col("text"))
            .as("t"),
          length(col("text")).cast("long").as("len"))
        val out = graft.ops.Fuzzy.goldenRecords(d, "clu", "ord",
          "doc_id", Seq("t", "len"))
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q234 shape: Hamming near-dup pairing — 4-band explode + one
      // equi-join on (band, chunk); signatures derive from the text
      // hash so the 10× rotated copies band near-uniformly
      timed(scale, "hamming_neardup") {
        val sigs = docs.select(col("doc_id"),
          pmod(hash(col("text")).cast("long"), lit(1L << 32)).as("hi"),
          pmod(hash(col("text"), col("doc_id") % 7).cast("long"),
            lit(1L << 32)).as("lo"))
        val out = graft.ops.Dedup.hammingNearDups(sigs, "doc_id",
          "hi", "lo", maxDist = 3, bands = 4)
        (out.queryExecution.toRdd.count(), sig(out))
      }
    }

    // warmup (JIT/codegen) on the small corpus, untimed
    Dedup.minhashNearDups(docs1x.limit(200), "doc_id", "text", 8, 4).count()
    Caches.releaseAll()

    // q329/q330 shapes: fixed-radius grid join + DBSCAN at CONSTANT
    // density — the field side scales with √N so true pair count (and
    // therefore the honest cost) grows linearly; a fixed field would
    // measure the quadratic density blowup, not the operator. The
    // q334 BLEU corpus join rides the same doc tables.
    def runSpatial(scale: String, docs: DataFrame): Unit = {
      val n = docs.count()
      val side = math.max(1L, math.round(math.sqrt(n.toDouble) * 30.0))
      val pts = docs.select(col("doc_id"),
        ((col("doc_id") * 2654435761L) % side).as("x"),
        ((col("doc_id") * 40503L + 7L) % side).as("y"))
      timed(scale, "grid_radius_join") {
        val out = graft.ops.Spatial.gridRadiusJoin(
          pts, "doc_id", "x", "y", radius = 40L)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "dbscan") {
        val out = graft.ops.Spatial.dbscanLite(
          pts, "doc_id", "x", "y", eps = 40L, minPts = 3)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q368 shape: border-corrected Ripley K — the naive ladder's one
      // grid join plus two |points|-row boundary-distance equi-joins;
      // the result is a |radii|-row driver assembly
      timed(scale, "ripley_border") {
        val out = graft.ops.Spatial.ripleyKBorder(pts, "doc_id", "x", "y",
          Seq(10L, 40L), 0L, 0L, side, side)
        (out.count(), "driver-assembled")
      }
      timed(scale, "bleu") {
        val ws = regexp_extract_all(lower(col("text")),
          lit("[^\\s]+"), lit(0))
        val d = docs.select(lit("all").as("g"), col("doc_id"),
          concat_ws(" ", slice(ws, 1, 30)).as("cand"),
          col("text").as("ref"))
        val out = TextAnalysis.bleu(d, "g", "doc_id", "cand", "ref")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q343 shape: chrF — same row-local stats pass on char grams
      // (6 orders over FULL texts, the heavier sibling)
      timed(scale, "chrf") {
        val ws = regexp_extract_all(lower(col("text")),
          lit("[^\\s]+"), lit(0))
        val d = docs.select(lit("all").as("g"), col("doc_id"),
          concat_ws(" ", slice(ws, 1, 30)).as("cand"),
          col("text").as("ref"))
        val out = TextAnalysis.chrF(d, "g", "doc_id", "cand", "ref")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q346 shape: nearest-in-radius — grid join + min(struct) partial
      timed(scale, "fixed_radius_nn") {
        val out = graft.ops.Spatial.fixedRadiusNN(
          pts, "doc_id", "x", "y", radius = 40L)
        (out.queryExecution.toRdd.count(), sig(out))
      }
    }
    runSpatial("1x", docs1x)
    runSpatial("10x", docs10x)

    run("1x", docs1x)
    run("10x", docs10x)

    // q88 shape: fixed-point k-means — per-row assignment against literal
    // centroids (no shuffle) + one k·dim partial aggregation per
    // iteration; the 10× embedding corpus is 10 dimension-rotated copies
    // (same distribution, near-disjoint vectors)
    val emb1x = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val embStride = emb1x.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1
    val embDir = "/tmp/graft_scale_emb"
    (0 until 10).map { i =>
      emb1x.select((col("vec_id") + lit(i * embStride)).as("vec_id"),
        concat(slice(col("embedding"), i + 1, 64 - i),
          slice(col("embedding"), 1, i)).as("embedding"))
    }.reduce(_ unionAll _).repartition(cpus)
      .write.mode("overwrite").parquet(embDir)
    val emb10x = spark.read.parquet(embDir)
    def runKmeans(scale: String, emb: DataFrame): Unit =
      timed(scale, "kmeans") {
        val out = graft.ops.Clustering.kmeansAssign(
          emb, "vec_id", "embedding", k = 8, iters = 3)
        (out.queryExecution.toRdd.count(), sig(out))
      }
    runKmeans("1x", emb1x)
    runKmeans("10x", emb10x)

    // q195/q196 shape: PQ — training is m bounded-driver loops, encoding
    // is one narrow literal-codebook pass; the ADC scan broadcasts the
    // 8-query LUT block and collapses through the bounded top-k agg
    def runPq(scale: String, emb: DataFrame): Unit = {
      timed(scale, "pq_codes") {
        val out = graft.ops.Clustering.pqCodes(
          emb, "vec_id", "embedding", dims = 64, m = 4, k = 4, iters = 2)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "pq_adc") {
        val out = graft.ops.Clustering.pqAdcTopK(
          emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
          dims = 64, m = 4, k = 4, iters = 2, topK = 3)
        (out.queryExecution.toRdd.count(), sig(out))
      }
    }
    runPq("1x", emb1x)
    runPq("10x", emb10x)

    // q375 shape: persisted IVF — build+snapshot-write once (the
    // corpus-sized cost), then probes load the index and scan only the
    // routed inverted lists; the probe row is the per-batch serving cost
    // the persistence amortizes
    def runIvfPersist(scale: String, emb: DataFrame): Unit = {
      val base = s"/tmp/graft_scale_ivf_$scale"
      timed(scale, "ivf_build_write") {
        val v = graft.ops.Similarity.ivfWrite(
          graft.ops.Similarity.ivfBuild(emb, "vec_id", "embedding",
            nCentroids = 16), base)
        (v.toLong, "iterative")
      }
      timed(scale, "ivf_probe_loaded") {
        val loaded = graft.ops.Similarity.ivfLoad(spark, base)
        val out = graft.ops.Similarity.ivfTopKWith(loaded,
          emb.filter(col("vec_id") < 8), "vec_id", "embedding", 3,
          nProbe = 4)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q380 shape (r13): index health telemetry off the persisted
      // snapshot — ONE partial-aggregable count over the assignment
      // table + a k-row broadcast join; the corpus is never touched
      timed(scale, "ivf_stats") {
        val loaded = graft.ops.Similarity.ivfLoad(spark, base)
        val out = graft.ops.Similarity.ivfStats(loaded, 2, 1)
        (out.queryExecution.toRdd.count(), sig(out))
      }
    }
    runIvfPersist("1x", emb1x)
    runIvfPersist("10x", emb10x)

    // q370 shape: MMR rerank — k single-row argmax rounds; the running
    // max-sim is a MATERIALIZED column folded with ONE new cosine per
    // round (r12 incremental), so wall grows ~k, not k². The k=5 vs
    // k=20 rows ground that: incremental reads |C|·k sims total where
    // the recompute spec reads |C|·k²/2.
    def runMmr(scale: String, emb: DataFrame, k: Int, op: String): Unit =
      timed(scale, op) {
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("__q__"))
        val cands = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
          .select(col("vec_id"), col("embedding"),
            graft.ops.Similarity.cosine(col("embedding"), col("__q__"))
              .as("rel"))
        val out = graft.ops.Similarity.mmrSelect(
          cands, "vec_id", "embedding", "rel", k = k)
        (out.count(), "iterative")
      }
    runMmr("1x", emb1x, 5, "mmr_rerank")
    runMmr("10x", emb10x, 5, "mmr_rerank")
    runMmr("1x", emb1x, 20, "mmr_rerank_k20")
    runMmr("10x", emb10x, 20, "mmr_rerank_k20")

    // q206 shape: dim health — one posexplode into a |dims|-keyed
    // partial-aggregable pass; output fixed at 64 rows
    def runDimHealth(scale: String, emb: DataFrame): Unit =
      timed(scale, "dim_health") {
        val out = graft.ops.Similarity.dimHealth(emb, "embedding")
        (out.queryExecution.toRdd.count(), sig(out))
      }
    runDimHealth("1x", emb1x)
    runDimHealth("10x", emb10x)

    // q313 shape: truncation audit — |dims|+1 bounded top-k corpus
    // passes (broadcast queries), k-row joins; wall tracks corpus scans
    def runTrunc(scale: String, emb: DataFrame): Unit =
      timed(scale, "truncation_audit") {
        val out = graft.ops.Similarity.truncationAudit(
          emb.filter(col("vec_id") % embStride < 10), emb, "vec_id",
          "embedding", k = 5, dims = Seq(16, 32))
        (out.queryExecution.toRdd.count(), sig(out))
      }
    runTrunc("1x", emb1x)
    runTrunc("10x", emb10x)

    // q94 shape: deterministic JL projection — per-row codegen'd loop,
    // no shuffle, no broadcast (the sign matrix is recomputed from the
    // flat index); must stay exchange-free at any size
    def runProj(scale: String, emb: DataFrame): Unit =
      timed(scale, "random_projection") {
        val out = graft.ops.Similarity.randomProjection(
          emb, "vec_id", "embedding", 16)
        (out.queryExecution.toRdd.count(), sig(out))
      }
    runProj("1x", emb1x)
    runProj("10x", emb10x)

    // q276 shape: Gram matrix — d(d+1)/2 products per row, ONE
    // partial-aggregable groupBy on the d²-sized key space; shuffle is
    // O(d²·partitions) regardless of corpus size
    def runGram(scale: String, emb: DataFrame): Unit =
      timed(scale, "gram_matrix") {
        val out = graft.ops.Similarity.gramMatrix(emb, "embedding")
        (out.queryExecution.toRdd.count(), sig(out))
      }
    runGram("1x", emb1x)
    runGram("10x", emb10x)

    // q235 shape: silhouette — trainCentroids' bounded driver loop +
    // ONE per-row pass against the k·dim literal matrix; no shuffle in
    // the audit itself
    def runSilhouette(scale: String, emb: DataFrame): Unit =
      timed(scale, "silhouette") {
        val out = graft.ops.Clustering.silhouette(
          emb, "vec_id", "embedding", k = 8, iters = 2)
        (out.queryExecution.toRdd.count(), sig(out))
      }
    runSilhouette("1x", emb1x)
    runSilhouette("10x", emb10x)

    // q100 shape: SemDeDup — k MUST grow with the corpus (k ∝ n keeps
    // per-cluster size, and thus the within-cluster pairwise cost,
    // CONSTANT; fixed k would be quadratic). The published recipe.
    def runSemDedup(scale: String, emb: DataFrame, k: Int): Unit =
      timed(scale, "semantic_neardup") {
        val out = graft.ops.Similarity.clusteredNearDups(
          emb, "vec_id", "embedding", k = k, iters = 2, threshold = 0.2)
        (out.queryExecution.toRdd.count(), sig(out))
      }
    runSemDedup("1x", emb1x, k = 8)
    runSemDedup("10x", emb10x, k = 80)

    // q125 shape: hard-negative mining — the anchor set is FIXED-size
    // (a training batch), so the broadcast side never grows; the corpus
    // scan is one pass into the bounded map-side top-k aggregate and the
    // band filter only shrinks what the partial agg keeps
    def runHardNeg(scale: String, emb: DataFrame): Unit =
      timed(scale, "hard_negatives") {
        val out = graft.ops.Similarity.hardNegatives(
          emb1x.filter(col("vec_id") < 16), emb, "vec_id", "embedding",
          k = 5, lo = 0.125, hi = 0.25)
        (out.queryExecution.toRdd.count(), sig(out))
      }
    runHardNeg("1x", emb1x)
    runHardNeg("10x", emb10x)

    // q289 shape: incremental semantic dedup — batch×corpus sign-LSH
    // bucket equi-join; the corpus side grows, the batch stays a batch.
    // UNCAPPED here so the measurement is the real candidate growth
    // (with 64 buckets a fixed cap under corpus/64 drops EVERY bucket
    // at 10× — the cap is a recall knob sized per corpus, not a
    // constant; the first run of this row proved exactly that)
    def runEmbAgainst(scale: String, emb: DataFrame): Unit =
      timed(scale, "embedding_against") {
        val out = graft.ops.Dedup.embeddingNearDupsAgainst(
          emb1x.filter(col("vec_id") % 5 === 0), emb,
          "vec_id", "embedding", threshold = 0.2, bits = 6)
        (out.queryExecution.toRdd.count(), sig(out))
      }
    runEmbAgainst("1x", emb1x)
    runEmbAgainst("10x", emb10x)

    // q290 shape: one posexplode → |dims|-row collapse → |dims| fold
    def runEffRank(scale: String, emb: DataFrame): Unit =
      timed(scale, "effective_rank") {
        val out = graft.ops.Similarity.effectiveRank(emb, "embedding")
        (out.queryExecution.toRdd.count(), sig(out))
      }
    runEffRank("1x", emb1x)
    runEffRank("10x", emb10x)

    // q294 shape: k−1 narrow argmax scans against literal centers —
    // wall should track corpus size × k, never pairs
    def runKCenter(scale: String, emb: DataFrame): Unit =
      timed(scale, "kcenter_coreset") {
        val out = graft.ops.Clustering.kCenterGreedy(emb, "vec_id",
          "embedding", k = 6)
        (out.queryExecution.toRdd.count(), sig(out))
      }
    runKCenter("1x", emb1x)
    runKCenter("10x", emb10x)

    // r9 event-analytics shapes (q90–q92) over the events fact. 10× = 10
    // user-shifted copies: users grow with the log while per-user history
    // stays constant — the production growth mode, and the one that must
    // keep the asof window's per-key ordered scan bounded
    val ev1x = graft.tpch.EventsModel.eventsTable(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("tus"))
    val uStride = ev1x.agg(max(col("user_id"))).collect()(0).getLong(0) + 1
    val eStride = ev1x.agg(max(col("event_id"))).collect()(0).getLong(0) + 1
    val evDir = "/tmp/graft_scale_events"
    (0 until 10).map { i =>
      ev1x.select((col("event_id") + lit(i * eStride)).as("event_id"),
        (col("user_id") + lit(i * uStride)).as("user_id"),
        col("event_type"), col("value"), col("tus"))
    }.reduce(_ unionAll _).repartition(cpus)
      .write.mode("overwrite").parquet(evDir)
    val ev10x = spark.read.parquet(evDir)
    def runEvents(scale: String, ev: DataFrame): Unit = {
      timed(scale, "asof_join") {
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("tus"), col("value"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("tus").as("pts"),
            col("event_id").as("pid"), col("value").as("pv"))
        val out = graft.ops.EventAnalytics.asofJoin(clicks, purchases,
          Seq("user_id"), "tus", "pts", Seq("pv"), tieCol = Some("pid"))
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "funnel") {
        val out = graft.ops.EventAnalytics.funnel(ev, "user_id", "tus",
          "event_type", Seq("view", "click", "purchase"))
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "cohort_retention") {
        val out = graft.ops.EventAnalytics.cohortRetention(
          ev.withColumn("ts", timestamp_micros(col("tus"))),
          "user_id", "ts")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q132 shape: Markov transitions — one lag window + two partial
      // aggs; output |states|²-bounded at any scale
      timed(scale, "markov") {
        val out = graft.ops.EventAnalytics.markovTransitions(
          ev, "user_id", "tus", "event_id", "event_type")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q135 shape: SCD2 — two key-partitioned windows on one
      // partitioning; a key costs its own history
      timed(scale, "scd2") {
        val out = graft.ops.Incremental.scd2(
          ev, "user_id", "tus", "event_id", "event_type")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q126 shape: gaps-and-islands — two key-partitioned windows + one
      // grouped agg on ONE hash partitioning; per-key cost linear
      timed(scale, "interval_merge") {
        val iv = ev.select(col("user_id"), col("tus").as("s"),
          (col("tus") + 1800000000L).as("e"))
        val out = graft.ops.EventAnalytics.coalesceIntervals(
          iv, Seq("user_id"), "s", "e")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q127 shape: per-key EWMA — collect_list bounded by the KEY's
      // history; users grow with the log, per-user history stays flat
      timed(scale, "ewma") {
        val out = graft.ops.EventAnalytics.ewma(
          ev, "user_id", "tus", "event_id", "value", alpha = 0.25)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q128 shape: attribution — one asof key shuffle + a tiny group agg
      timed(scale, "attribution") {
        val e2 = ev.withColumn("vmil",
          floor(col("value") * 1000 + 0.5).cast("long"))
        val out = graft.ops.EventAnalytics.attribution(e2, "user_id",
          "tus", "event_id", "event_type", "vmil",
          convType = "purchase", touchTypes = Seq("view", "click"))
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q97 shape: bucketed range join — clicks in the hour before each
      // purchase; the claim is the plan stays an EQUI-join (broadcast or
      // shuffled by AQE) with fan-out bounded by interval/bucket, never
      // a nested loop
      timed(scale, "range_join") {
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("tus"))
        val windows = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("pid"),
            (col("tus") - 3600000000L).as("w_start"),
            col("tus").as("w_end"))
        val out = graft.ops.EventAnalytics.rangeJoin(clicks, windows,
          Seq("user_id"), "tus", "w_start", "w_end", bucket = 600000000L)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q99 shape: z-order layout write — one sampled-boundary range
      // exchange, no global sort; wall must track data volume
      timed(scale, "zorder_write") {
        val d = ev.select(col("event_id"), col("user_id"),
          floor(col("tus") / 3600000000L).cast("long").as("hr"))
        graft.ops.Layout.zorderWrite(d, "user_id", "hr",
          s"/tmp/graft_scale_zorder_$scale", nFiles = 32)
        (spark.read.parquet(s"/tmp/graft_scale_zorder_$scale").count(),
          "write")
      }
      // q108 shape: manifest + pruned read of a fixed rectangle over the
      // just-written z layout — the claim is the scan cost tracks the
      // SELECTED box, not the table: file pruning drops whole files
      // before any task launches, so 10× the table is not 10× the read
      timed(scale, "pruned_read") {
        val path = s"/tmp/graft_scale_zorder_$scale"
        val mf = graft.ops.Layout.manifest(spark, path, Seq("user_id", "hr"))
        val out = graft.ops.Layout.prunedRead(spark, path, mf,
          Map("user_id" -> (3L, 9L), "hr" -> (473400L, 473519L)))
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q105 shape: the anomaly grid collapses the log in one
      // partial-aggregable pass; everything after is grid-sized
      timed(scale, "anomaly_buckets") {
        val out = graft.ops.EventAnalytics.anomalousBuckets(
          ev.withColumn("ts", timestamp_micros(col("tus"))),
          "event_type", "ts", zNum = 2, zDen = 1)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q107 shape: PageRank over a deterministic 997-node multigraph
      // derived from the event log (edges grow 10×, nodes fixed) — per
      // iteration one src-keyed join + one dst-keyed partial aggregation
      timed(scale, "pagerank") {
        val edges = ev.select(
          pmod(col("user_id"), lit(997L)).as("src"),
          pmod(col("user_id") * 131L + col("event_id"), lit(997L)).as("dst"))
        val out = graft.ops.Graph.pageRank(edges, "src", "dst", iters = 3)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q131 shape: triangle counting on the same 997-node multigraph —
      // 10× events add parallel edges (dedup collapses them), the wedge
      // join stays bounded by the oriented out-degrees
      timed(scale, "triangles") {
        val edges = ev.select(
          pmod(col("user_id"), lit(997L)).as("src"),
          pmod(col("user_id") * 131L + col("event_id"), lit(997L)).as("dst"))
        val out = graft.ops.Graph.triangleCounts(edges, "src", "dst")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q188 shape: clustering coefficient — the triangles wedge join
      // plus a degree-table left join; same E^1.5 bound, |nodes| output
      timed(scale, "clustering_coeff") {
        val edges = ev.select(
          pmod(col("user_id"), lit(997L)).as("src"),
          pmod(col("user_id") * 131L + col("event_id"), lit(997L)).as("dst"))
        val out = graft.ops.Graph.clusteringCoefficient(edges, "src", "dst")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q190 shape: co-occurrence PMI — presence-distinct, the activity
      // cap bounds the per-key pair fan-out to C(cap,2), then all
      // partial-aggregable counts; only ids and counts shuffle
      timed(scale, "cooccurrence") {
        val e2 = ev.select(col("user_id"),
          pmod(col("event_id"), lit(100L)).as("item"))
        val out = graft.ops.EventAnalytics.cooccurrencePmi(
          e2, "user_id", "item", maxItemsPerKey = 40, minPairCount = 2)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q191 shape: info gain — one melt explode, three partial counts;
      // output |features| rows at any scale
      timed(scale, "info_gain") {
        val e2 = ev.select(
          (col("value") >= 0.5).as("hi_value"),
          col("event_type"),
          (pmod(col("event_id"), lit(7L)) === 0).as("id_mod"))
        val out = graft.ops.Profiling.infoGain(e2,
          Seq("hi_value", "id_mod"), "event_type")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q136 shape: OLS trend — ONE partial-aggregable pass of five
      // mergeable moments; everything after is |keys|-sized
      timed(scale, "trend") {
        val e2 = ev.select(col("user_id"),
          (col("tus") / 3600000000L).cast("long").as("x"),
          floor(col("value") * 1000 + 0.5).cast("long").as("y"))
        val out = graft.ops.EventAnalytics.trend(e2, "user_id", "x", "y")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q141 shape: MAD outliers — two median passes + two broadcast
      // |keys|-row join-backs; the data-sized side never shuffles
      timed(scale, "mad_outliers") {
        val e2 = ev.select(col("user_id"), col("event_id"),
          floor(col("value") * 1000 + 0.5).cast("long").as("vmil"))
        val out = graft.ops.Profiling.madOutliers(e2, "user_id", "vmil", 5)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q138 shape: debounce — gaps-and-islands windows + the skew-safe
      // min(struct) keep-first per burst, all on one hash partitioning
      timed(scale, "debounce") {
        val out = graft.ops.EventAnalytics.debounce(
          ev, "user_id", "tus", "event_id", cooldownUs = 14400000000L)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q137 shape: category drift — two count passes collapse the log
      // map-side; everything after is |categories|-sized
      timed(scale, "category_drift") {
        val out = graft.ops.Profiling.categoryDrift(
          ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1), "event_type", 2, 100)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q139 shape: dataset fingerprint — one partial-aggregable digest
      // pass; the total re-aggregates |shards| rows, never the data
      timed(scale, "fingerprint") {
        val out = graft.ops.Incremental.datasetFingerprint(
          ev.withColumn("v", col("value").cast("string")),
          "event_type", "event_id", "v")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q142 shape: k-anonymity — partial-aggregable count + an
      // AQE-splittable equi join-back (not a count-over-window)
      timed(scale, "k_anonymize") {
        val e2 = ev.select(col("event_id"), col("event_type"),
          (col("tus") / 86400000000L).cast("long").as("day"))
        val out = graft.ops.Corpus.kAnonymize(e2,
          Seq("event_type", "day"), k = 50)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q138 debounce under ADVERSARIAL skew: one key owns 50% of the
      // log. The lag/cumsum windows pay the hot key's full history in
      // one task (inherent to per-key ordering), but the burst collapse
      // partial-aggregates map-side — wall must stay linear in the hot
      // key's rows, nothing quadratic
      timed(scale, "debounce_hot") {
        val skewed = ev.withColumn("k",
          when(pmod(col("event_id"), lit(2L)) === 0, lit(0L))
            .otherwise(col("user_id")))
        val out = graft.ops.EventAnalytics.debounce(
          skewed, "k", "tus", "event_id", cooldownUs = 14400000000L)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q148 shape: CDC compaction — rn=1 DESC with map-side
      // WindowGroupLimit; the same 50%-hot key ships ONE candidate per
      // map task, not its history
      timed(scale, "cdc_compact_hot") {
        val skewed = ev.withColumn("k",
          when(pmod(col("event_id"), lit(2L)) === 0, lit(0L))
            .otherwise(col("user_id")))
          .withColumn("op", when(col("event_type") === "error",
            "delete").otherwise("upsert"))
        val out = graft.ops.Incremental.compactCdc(
          skewed, "k", "tus", "event_id", "op")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q149 shape: top paths — per-entity collect bounded by key
      // history + partial-aggregable path counts
      timed(scale, "top_paths") {
        val out = graft.ops.EventAnalytics.topPaths(
          ev, "user_id", "tus", "event_id", "event_type", 5, 20)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q159 shape: time-to-conversion — two filtered mins + an
      // |entities|-row join, the log never self-joins
      timed(scale, "time_to_conversion") {
        val out = graft.ops.EventAnalytics.timeToConversion(ev,
          "user_id", "tus", "event_type", Seq("view", "click"),
          "purchase")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q161 shape: inter-arrival profile — one lag window + one
      // grouped pass on a single hash partitioning
      timed(scale, "interarrival") {
        val out = graft.ops.EventAnalytics.interArrivalProfile(ev,
          "user_id", "tus", "event_id", 50, 60000000L)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q164 shape: rolling actives — presence explodes to the bounded
      // W window-days; fan-out = 7 × |user-day presences|, never events
      timed(scale, "rolling_active") {
        val out = graft.ops.EventAnalytics.rollingActiveUsers(
          ev.withColumn("ts", timestamp_micros(col("tus"))),
          "user_id", "ts", 7)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q365 shape: the HLL swap — the W-day explode fans out |days|×W
      // KB-sized sketch blobs instead of |user-day|×W id rows
      timed(scale, "rolling_active_hll") {
        val out = graft.ops.EventAnalytics.rollingActiveUsersApprox(
          ev.withColumn("ts", timestamp_micros(col("tus"))),
          "user_id", "ts", 7)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q167 shape (r13): concentration profile — events collapse to
      // per-entity counts map-side; the exact global rank runs as a
      // range-repartitioned per-partition row_number + |partitions|-row
      // offset collect, NEVER a single-partition ntile window (the r12
      // verdict's scale-killer, fixed)
      timed(scale, "concentration") {
        val out = graft.ops.EventAnalytics.concentrationProfile(
          ev, "user_id", 10)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q171 shape: audience overlap — distinct presence collapses the
      // log map-side; per-entity self-join fan-out bounded by |types|²
      timed(scale, "audience_overlap") {
        val out = graft.ops.EventAnalytics.audienceOverlap(
          ev, "event_type", "user_id")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q179 shape: label propagation — per round one adjacency join +
      // two partial-aggregable levels, no windows; 10× events grow the
      // edge list, rounds stay fixed
      timed(scale, "label_prop") {
        val edges = ev.select((col("user_id") % 5000).as("s"),
          ((col("user_id") * 7 + col("event_id")) % 5000).as("d"))
        val out = graft.ops.Graph.labelPropagation(edges, "s", "d", 3)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q204 shape: Poisson bootstrap — bounded 40x fan-out into ONE
      // partial-aggregable (group, replicate) pass; per-group state is
      // 40 means
      timed(scale, "bootstrap_ci") {
        val e2 = ev.withColumn("vmil",
          floor(col("value") * 1000 + 0.5).cast("long"))
        val out = graft.ops.Profiling.bootstrapCI(e2, "event_type",
          "vmil", "event_id", b = 40)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q207 shape: CUPED — two partial-aggregable passes (pooled
      // moments broadcast as one row), |variants| output
      timed(scale, "cuped") {
        val e2 = ev.withColumn("vmil",
          floor(col("value") * 1000 + 0.5).cast("long"))
        val units = e2.groupBy(col("user_id"))
          .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
              .as("x"),
            sum(when(col("event_type") === "purchase", col("vmil"))
              .otherwise(0L)).as("y"))
          .withColumn("variant", (col("user_id") % 2).cast("int"))
        val out = graft.ops.EventAnalytics.cuped(units, "variant", "x", "y")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q214 shape: embargo split — one partial-aggregable min/max pass
      timed(scale, "embargo_split") {
        val out = graft.ops.EventAnalytics.embargoSplit(
          ev.select(col("user_id"), col("tus")), "user_id", "tus",
          splitUs = 1705708800000000L, embargoUs = 86400000000L)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q247 shape: lift table — boundary collect + one labeled
      // histogram pass; the cumulative window rides the ≤10 bucket rows
      timed(scale, "lift_table") {
        val d = ev.withColumn("score_mil",
            pmod(col("event_id") * 37 + col("user_id"), lit(1001L)))
          .withColumn("label",
            pmod(col("event_id") * 17, lit(1000L)) < col("score_mil"))
        val out = graft.ops.Profiling.liftTable(d, "score_mil", "label")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q216 shape: calibration — 10-bin partial aggregate, bin-sized
      // tail
      timed(scale, "calibration") {
        val d = ev.withColumn("score_mil",
            pmod(col("event_id") * 37 + col("user_id"), lit(1001L)))
          .withColumn("label",
            pmod(col("event_id") * 17, lit(1000L)) < col("score_mil"))
        val out = graft.ops.Profiling.calibration(d, "score_mil", "label")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q225 shape: Benford — one (group, digit) partial aggregate
      timed(scale, "benford") {
        val e2 = ev.withColumn("vmil",
          floor(col("value") * 1000 + 0.5).cast("long"))
        val out = graft.ops.Profiling.benford(e2, "event_type", "vmil")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q226 shape: NDCG@5 — two grouped counts, one left join, k-bounded
      // per-query folds
      timed(scale, "ndcg") {
        val e2 = ev.withColumn("item", (col("event_id") % 37))
        val views = e2.filter(col("event_type") === "view")
          .groupBy(col("user_id"), col("item"))
          .agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("n").desc, col("item").asc)
        val ranking = views
          .withColumn("rank", org.apache.spark.sql.functions
            .row_number().over(w))
          .filter(col("rank") <= 5)
        val truth = e2.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("item"))
          .agg(count(lit(1)).as("rel"))
        val out = graft.ops.Profiling.ndcg(ranking, truth, "user_id",
          "item", "rank", "rel", k = 5)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q199 shape: PSI drift — one histogram pass per side (each
      // partial-aggregable on the ≤|probs|+1 bucket index), a
      // |bins|-row grid; output is bin-bounded at any scale
      timed(scale, "psi") {
        val e2 = ev.withColumn("vmil",
          floor(col("value") * 1000 + 0.5).cast("long"))
        val a = e2.filter(col("event_id") % 2 === 0)
        val b = e2.filter(col("event_id") % 2 === 1)
          .filter(!(col("event_type") === "view" &&
            col("event_id") % 5 === 1))
        val out = graft.ops.Profiling.psi(a, b, "vmil")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q227 shape: HITS on the 997-node multigraph — per half-step one
      // edge join + per-node partial agg; 10× events add parallel edges
      // the distinct collapses, so work grows with |distinct edges|
      timed(scale, "hits") {
        val edges = ev.select(
          pmod(col("user_id"), lit(997L)).as("src"),
          pmod(col("user_id") * 131L + col("event_id"), lit(997L)).as("dst"))
        val out = graft.ops.Graph.hits(edges, "src", "dst", iters = 3)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q228 shape: SRM — one distinct-unit partial aggregate, then
      // everything is |variants|-sized
      timed(scale, "srm_check") {
        val e2 = ev.select(col("user_id"),
          when(col("user_id") % 4 <= 1, "a")
            .when(col("user_id") % 4 === 2, "b").otherwise("c")
            .as("variant"))
        val out = graft.ops.Profiling.srmCheck(e2, "user_id", "variant",
          Seq(("a", 2L), ("b", 1L), ("c", 1L)), crit = 5.991)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q229 shape: Kaplan-Meier — two filtered per-unit mins collapse
      // the log; the survival fold runs over |distinct durations| rows
      // (bounded by the observation range in days)
      timed(scale, "kaplan_meier") {
        val first = ev.groupBy(col("user_id")).agg(min(col("tus")).as("t0"))
        val conv = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id")).agg(min(col("tus")).as("tc"))
        val cutoff = ev.agg(max(col("tus")).as("tmax"))
        val d = first.join(conv, Seq("user_id"), "left")
          .crossJoin(broadcast(cutoff))
          .select(expr("(coalesce(tc, tmax) - t0) div 86400000000")
            .as("dur"), col("tc").isNotNull.as("ev"))
        val out = graft.ops.EventAnalytics.kaplanMeier(d, "dur", "ev")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q233 shape: MRR/recall@5 — the ndcg join pattern with min +
      // conditional-count aggregates in place of the DCG folds
      timed(scale, "mrr_recall") {
        val e2 = ev.withColumn("item", (col("event_id") % 37))
        val views = e2.filter(col("event_type") === "view")
          .groupBy(col("user_id"), col("item"))
          .agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("n").desc, col("item").asc)
        val ranking = views
          .withColumn("rank", org.apache.spark.sql.functions
            .row_number().over(w))
          .filter(col("rank") <= 5)
        val truth = e2.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("item"))
          .agg(count(lit(1)).as("rel"))
        val out = graft.ops.Profiling.mrrRecall(ranking, truth,
          "user_id", "item", "rank", "rel", k = 5)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q237 shape: correlation matrix — ONE pass computing every
      // moment in a single aggregate row; output is pair-count-sized
      timed(scale, "corr_matrix") {
        val e2 = ev.select(
          floor(col("value") * 1000 + 0.5).cast("long").as("vmil"),
          pmod(col("event_id"), lit(1000L)).as("em"),
          pmod(col("user_id"), lit(97L)).as("um"))
        val out = graft.ops.Profiling.corrMatrix(e2,
          Seq("vmil", "em", "um"))
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q238 shape: two-proportion readout — per-(unit, variant)
      // collapse, |variants|-row tail
      timed(scale, "proportion_test") {
        val e2 = ev.select(col("user_id"),
          when(col("user_id") % 2 === 0, "control")
            .otherwise("treatment").as("variant"),
          (col("event_type") === "purchase").as("conv"))
        val out = graft.ops.Profiling.proportionTest(e2, "user_id",
          "variant", "conv", control = "control")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q253 shape: ACF — densified grid (bucket-count-sized, NOT
      // event-sized) self-joined at L lags; the event table collapses
      // map-side before anything shuffles
      timed(scale, "acf") {
        val out = graft.ops.EventAnalytics.acf(
          ev.withColumn("ts", timestamp_micros(col("tus"))),
          "event_type", "ts", maxLag = 3)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q256 shape: CUSUM — windows over the SPAN-sized grid only
      timed(scale, "cusum") {
        val out = graft.ops.EventAnalytics.cusumDrift(
          ev.withColumn("ts", timestamp_micros(col("tus"))),
          "event_type", "ts")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q257 shape: TWA — one key-partitioned lead window + groupBy
      timed(scale, "time_weighted_avg") {
        val out = graft.ops.EventAnalytics.timeWeightedAvg(
          ev.withColumn("ts", timestamp_micros(col("tus")))
            .withColumn("vmil",
              floor(col("value") * 1000 + 0.5).cast("long")),
          "event_type", "ts", "event_id", "vmil")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q259 shape: seasonal anomalies — grid + 24-row broadcast base
      timed(scale, "seasonal_anomalies") {
        val out = graft.ops.EventAnalytics.seasonalAnomalies(
          ev.withColumn("ts", timestamp_micros(col("tus"))),
          "event_type", "ts", thresholdAbs = 3L)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q266 shape: path log-prob — entity lag window + broadcast model
      timed(scale, "path_logprob") {
        val out = graft.ops.EventAnalytics.pathLogProb(
          ev.withColumn("ts", timestamp_micros(col("tus"))),
          "user_id", "ts", "event_id", "event_type")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q239 shape: bot signals — two entity-keyed log aggregations
      // joined at |entities| rows; the hot entity IS the subject
      timed(scale, "bot_signals") {
        val out = graft.ops.EventAnalytics.botSignals(
          ev.withColumn("ts", timestamp_micros(col("tus"))),
          "user_id", "ts", "event_type",
          peakPerMinute = 3L, minEvents = 100L)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q274 shape: rank-sum — ONE histogram collapse, a window over
      // the per-group value GRID (distinct cents, not events), one fold
      timed(scale, "rank_sum") {
        val e2 = ev.select(col("event_type"),
          (col("user_id") % 2 === 0).as("lab"),
          floor(col("value") * 100 + 0.5).cast("long").as("v"))
        val out = graft.ops.Profiling.rankSumTest(e2, "event_type",
          "lab", "v")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q275 shape: Welch t — one |variants|-row moment collapse + a
      // broadcast single-row control join
      timed(scale, "welch_t") {
        val e2 = ev.select(
          when(col("user_id") % 3 === 0, "control")
            .when(col("user_id") % 3 === 1, "t1").otherwise("t2")
            .as("variant"),
          floor(col("value") * 100 + 0.5).cast("long").as("v"))
        val out = graft.ops.Profiling.welchTTest(e2, "variant", "v",
          control = "control")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q278 shape: Wasserstein — two histogram collapses, the merged
      // grid rides one task (grid-bounded, like ksTest)
      timed(scale, "wasserstein") {
        val e2 = ev.select(col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("v"))
        val out = graft.ops.Profiling.wasserstein1(
          e2.filter(col("event_id") % 2 === 0),
          e2.filter(col("event_id") % 2 === 1), "v")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q277 shape: Mann–Kendall — the event log collapses to the daily
      // grid FIRST; the O(span²) pair join runs on grid rows only
      timed(scale, "mann_kendall") {
        val series = ev
          .groupBy(col("event_type"),
            expr("tus div 86400000000").as("x"))
          .agg(count(lit(1)).as("y"))
        val out = graft.ops.EventAnalytics.mannKendall(series,
          "event_type", "x", "y")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q303 shape: Kendall τ-b — the pair join runs on the quantized
      // CELL grid; wall must track |cells|², never rows²
      timed(scale, "kendall_tau") {
        val e2 = ev.select(col("event_type"),
          floor(col("value") * 0.25 + 0.5).cast("long").as("x"),
          (floor(col("value") * 0.125 + 0.5) + col("user_id") % 5)
            .cast("long").as("y"))
        val out = graft.ops.Profiling.kendallTau(e2, "event_type",
          "x", "y")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q304 shape: Theil–Sen — same cell-grid pair join as kendall;
      // the weighted-median window then sees |distinct slopes| rows per
      // group (grid-bounded), never row pairs
      timed(scale, "theil_sen") {
        val e2 = ev.select(col("event_type"),
          expr("tus div 86400000000").as("x"),
          floor(col("value") * 0.1 + 0.5).cast("long").as("y"))
        val out = graft.ops.Profiling.theilSen(e2, "event_type", "x", "y")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q305 shape: RBO — two row_number sorts share ONE exchange, then
      // everything collapses to <= depth (group, m) rows before the fold
      timed(scale, "rbo") {
        val e2 = ev.select(col("event_type"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("sa"),
          (floor(col("value") * 10 + 0.5) + col("user_id") % 13)
            .cast("long").as("sb"))
        val out = graft.ops.Profiling.rbo(e2, "event_type", "event_id",
          "sa", "sb", depth = 20, p = 0.5)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q306 shape: McNemar — one partial-aggregable boolean collapse
      timed(scale, "mcnemar") {
        val e2 = ev.select(col("event_type"),
          (floor(col("value") * 1000 + 0.5).cast("long") > 34000L)
            .as("a"),
          (floor(col("value") * 900 + 0.5).cast("long") +
            (col("user_id") % 10) * 500L > 34000L).as("b"))
        val out = graft.ops.Profiling.mcnemar(e2, "event_type", "a", "b")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q307 shape: chi-squared independence — one (g, a, b) collapse,
      // label-bounded marginal cross grid, |cells|-array fold
      timed(scale, "chi_squared") {
        val e2 = ev.select(col("event_type"),
          concat(lit("s"), pmod(col("user_id"), lit(5L))).as("seg"),
          when(col("value") < 20, "lo").when(col("value") < 60, "mid")
            .otherwise("hi").as("vb"))
        val out = graft.ops.Profiling.chiSquared(e2, "event_type",
          "seg", "vb")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q309 shape: Krippendorff alpha — per-unit collapse, then
      // rater-count-bounded + label-bounded collapses only
      timed(scale, "krippendorff") {
        val rated = Seq(0, 1, 2).map { r =>
          val v = r match {
            case 0 => col("value")
            case 1 => col("value") * 1.05
            case _ => col("value") + (col("user_id") % 3) * 10.0
          }
          ev.filter((col("event_id") + r) % 5 =!= 0)
            .select(col("event_type"), col("event_id"),
              when(v < 20, "lo").when(v < 60, "mid").otherwise("hi")
                .as("label"))
        }.reduce(_ union _)
        val out = graft.ops.Profiling.krippendorffAlpha(rated,
          "event_type", "event_id", "label")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q310 shape: Cochran's Q — task + model collapses, exact
      // integers to the single final division
      timed(scale, "cochran_q") {
        val scored = Seq(0, 1, 2).map { m =>
          ev.filter((col("event_id") + m) % 7 =!= 0)
            .select(col("event_type"), col("event_id"),
              lit(s"m$m").as("model"),
              (floor(col("value") * (1000 - m * 100) + 0.5)
                .cast("long") + (col("user_id") % 10) * (m * 500L) >
                34000L).as("ok"))
        }.reduce(_ union _)
        val out = graft.ops.Profiling.cochranQ(scored, "event_type",
          "event_id", "model", "ok")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q311 shape: Cochran–Armitage — one dose-bounded moment collapse
      timed(scale, "cochran_armitage") {
        val e2 = ev.select(col("event_type"),
          least(floor(col("value") / 50).cast("long"), lit(9L))
            .as("dose"),
          (floor(col("value") * 10 + 0.5).cast("long") +
            col("user_id") % 350 > 500L).as("ok"))
        val out = graft.ops.Profiling.cochranArmitage(e2, "event_type",
          "dose", "ok")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q312 shape: Mantel–Haenszel — one (g, stratum) 2×2 collapse,
      // stratum-bounded fold
      timed(scale, "mantel_haenszel") {
        val e2 = ev.select(col("event_type"),
          concat(lit("s"), (col("user_id") % 4).cast("string"))
            .as("stratum"),
          (col("event_id") % 2 === 0).as("treated"),
          (floor(col("value") * 10 + 0.5).cast("long") +
            (col("user_id") % 4) * 100L +
            when(col("event_id") % 2 === 0, 50L).otherwise(0L) > 400L)
            .as("ok"))
        val out = graft.ops.Profiling.mantelHaenszel(e2, "event_type",
          "stratum", "treated", "ok")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q315 shape: Wilson intervals — one boolean collapse, per-group
      // closed-form bounds
      timed(scale, "wilson") {
        val e2 = ev.select(col("event_type"),
          (floor(col("value") * 1000 + 0.5).cast("long") > 34000L)
            .as("ok"))
        val out = graft.ops.Profiling.wilsonInterval(e2, "event_type",
          "ok")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q316 shape: best threshold — (group, score) collapse, windows
      // over the quantization-BOUNDED score grid, struct-max pick
      timed(scale, "best_threshold") {
        val e2 = ev.select(col("event_type"),
          floor(col("value") * 10 + 0.5).cast("long").as("score"),
          (col("user_id") % 3 === 0).as("label"))
        val out = graft.ops.Profiling.bestThreshold(e2, "event_type",
          "score", "label")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q314 shape: chi2 GOF — one (group, category) collapse, a
      // |target|-term literal fold
      timed(scale, "chi2_gof") {
        val e2 = ev.select(col("event_type"),
          when(col("value") < 20, "lo").when(col("value") < 60, "mid")
            .otherwise("hi").as("cat"))
        val out = graft.ops.Profiling.chi2GoodnessOfFit(e2,
          "event_type", "cat",
          Map("lo" -> 300000L, "mid" -> 400000L, "hi" -> 300000L))
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q317 shape: group-sequential — one (group, interim) collapse,
      // windows over the K-bounded interim grid
      timed(scale, "group_sequential") {
        val e2 = ev.select(col("event_type"),
          least(expr("(tus div 86400000000 - 19723) div 6") + 1,
            lit(5L)).as("interim"),
          (col("user_id") % 2 === 0).as("treated"),
          (floor(col("value") * 1000 + 0.5).cast("long") > 34000L)
            .as("ok"))
        val out = graft.ops.Profiling.groupSequential(e2, "event_type",
          "interim", "treated", "ok", totalInterims = 5)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q318 shape: power plan — one boolean collapse + literal explode
      timed(scale, "power_plan") {
        val e2 = ev.select(col("event_type"),
          (floor(col("value") * 1000 + 0.5).cast("long") > 34000L)
            .as("ok"))
        val out = graft.ops.Profiling.powerPlan(e2, "event_type", "ok",
          Seq(10000L, 20000L, 50000L))
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q319 shape: quantile treatment effects — per-arm value-grid
      // windows + |probs| literal explode
      timed(scale, "quantile_effect") {
        val e2 = ev.select(col("event_type"),
          (col("user_id") % 2 === 0).as("treated"),
          floor(col("value") * 1000 + 0.5).cast("long").as("vmil"))
        val out = graft.ops.Profiling.quantileTreatmentEffect(e2,
          "event_type", "treated", "vmil")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q321 shape: Brown–Forsythe — per-variant median grid + one
      // broadcast join-back + anovaF's moment collapse
      timed(scale, "levene") {
        val e2 = ev.select(col("event_type"),
          when(col("user_id") % 3 === 0, "a")
            .when(col("user_id") % 3 === 1, "b").otherwise("c")
            .as("variant"),
          floor(col("value") * 100 + 0.5).cast("long").as("v"))
        val out = graft.ops.Profiling.leveneTest(e2, "event_type",
          "variant", "v")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q322 shape: Dunn post-hoc — one pooled midrank pass + a
      // label-bounded pair join
      timed(scale, "dunn") {
        val e2 = ev.select(col("event_type"),
          when(col("user_id") % 3 === 0, "a")
            .when(col("user_id") % 3 === 1, "b").otherwise("c")
            .as("variant"),
          floor(col("value") * 100 + 0.5).cast("long").as("v"))
        val out = graft.ops.Profiling.dunnTest(e2, "event_type",
          "variant", "v")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q323 shape: Friedman — per-block (k-row) midrank windows +
      // k-bounded treatment moments, all-decimal statistic
      timed(scale, "friedman") {
        val scored = Seq(0, 1, 2).map { m =>
          ev.filter((col("event_id") + m) % 7 =!= 0)
            .select(col("event_type"), col("event_id"),
              lit(s"m$m").as("model"),
              (floor(col("value") * (1000 - m * 100) + 0.5)
                .cast("long") + (col("user_id") % 10) * (m * 500L))
                .as("score"))
        }.reduce(_ union _)
        val out = graft.ops.Profiling.friedmanTest(scored,
          "event_type", "event_id", "model", "score")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q324 shape: rank effect sizes — grid² cell cross join on the
      // group key, never rows²
      timed(scale, "rank_effect") {
        val e2 = ev.select(col("event_type"),
          when(col("user_id") % 3 === 0, "a")
            .when(col("user_id") % 3 === 1, "b").otherwise("c")
            .as("variant"),
          floor(col("value") * 100 + 0.5).cast("long").as("v"))
        val out = graft.ops.Profiling.rankEffectSize(e2, "event_type",
          "variant", "v", control = "a")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q327 shape: off-policy IPS/SNIPS — one collapse, exact
      // integer-quantized weights
      timed(scale, "off_policy") {
        val e2 = ev.select(col("event_type"),
          (col("event_id") % 3 === 0).as("matched"),
          (lit(200000L) + (col("user_id") % 5) * 150000L)
            .as("p_micro"),
          floor(col("value") * 1000 + 0.5).cast("long").as("r_milli"))
        val out = graft.ops.Profiling.offPolicyValue(e2, "event_type",
          "matched", "p_micro", "r_milli")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q328 shape: doubly-robust — one collapse, residual corrections
      timed(scale, "doubly_robust") {
        val e2 = ev.select(col("event_type"),
          (col("event_id") % 3 === 0).as("matched"),
          (lit(200000L) + (col("user_id") % 5) * 150000L)
            .as("p_micro"),
          floor(col("value") * 1000 + 0.5).cast("long").as("r_milli"),
          (floor(col("value") * 800 + 0.5).cast("long") +
            (col("user_id") % 7) * 100L).as("q_milli"))
        val out = graft.ops.Profiling.doublyRobustValue(e2,
          "event_type", "matched", "p_micro", "r_milli", "q_milli")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q325 shape: TOST equivalence — one boolean collapse
      timed(scale, "equivalence") {
        val e2 = ev.select(col("event_type"),
          (col("user_id") % 2 === 0).as("cand"),
          (floor(col("value") * 1000 + 0.5).cast("long") > 34000L)
            .as("ok"))
        val out = graft.ops.Profiling.equivalenceTest(e2, "event_type",
          "cand", "ok", marginMicro = 10000L)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q286 shape: Spearman — two histogram windows over DISTINCT
      // values + two rank join-backs; cost tracks |distinct|, not rows
      timed(scale, "spearman") {
        val e2 = ev.select(col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("x"),
          (floor(col("value") * 10 + 0.5) + col("user_id") % 7)
            .cast("long").as("y"))
        val out = graft.ops.Profiling.spearman(e2, "event_type", "x", "y")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q287/q288 shape: k-sample omnibus — one (group, variant) moment
      // collapse, |variants|-array fold per group
      timed(scale, "kruskal_wallis") {
        val e2 = ev.select(col("event_type"),
          when(col("user_id") % 3 === 0, "a")
            .when(col("user_id") % 3 === 1, "b").otherwise("c")
            .as("variant"),
          floor(col("value") * 100 + 0.5).cast("long").as("v"))
        val out = graft.ops.Profiling.kruskalWallis(e2, "event_type",
          "variant", "v")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "anova_f") {
        val e2 = ev.select(col("event_type"),
          when(col("user_id") % 4 === 0, "a")
            .when(col("user_id") % 4 === 1, "b")
            .when(col("user_id") % 4 === 2, "c").otherwise("d")
            .as("variant"),
          floor(col("value") * 100 + 0.5).cast("long").as("v"))
        val out = graft.ops.Profiling.anovaF(e2, "event_type",
          "variant", "v")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q293 shape: Bradley–Terry — one duel-log collapse to the
      // registry-bounded matchup table, then 3 tiny-join MM iterations
      timed(scale, "bt_strengths") {
        val duels = ev.select(col("event_type").as("winner"),
          when(col("event_type") === "view", lit("click"))
            .otherwise(lit("view")).as("loser"))
        val out = graft.ops.Profiling.btStrengths(duels,
          "winner", "loser", iters = 3)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q292 shape: pass@k — one partial-aggregable task collapse +
      // per-row unrolled product
      timed(scale, "pass_at_k") {
        val e2 = ev.select(concat(col("event_type"), lit("#"),
            pmod(col("user_id"), lit(50L)).cast("string")).as("task"),
          (col("value") > 1.0).as("ok"))
        val out = graft.ops.Profiling.passAtK(e2, "task", "ok",
          Seq(1, 5, 10))
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q291 shape: BH step-up — windows over the FAMILY registry only
      timed(scale, "bh_fdr") {
        val tests = ev.groupBy(col("event_type"),
            pmod(col("user_id"), lit(25L)).as("tid"))
          .agg((abs(sum(floor(col("value") * 100 + 0.5).cast("long"))) %
            1000001L).as("p_micro"))
        val out = graft.ops.Profiling.bhProcedure(tests, "event_type",
          "tid", "p_micro", alphaMicro = 200000L)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q284 shape: delta-method ratio metric — two partial-aggregable
      // collapses (unit, then variant) + a single-row control broadcast
      timed(scale, "ratio_metric") {
        val e2 = ev
          .withColumn("variant",
            when(col("user_id") % 3 === 0, "control")
              .when(col("user_id") % 3 === 1, "t1").otherwise("t2"))
          .withColumn("click",
            when(col("event_type") === "click", 1L).otherwise(0L))
          .withColumn("one", lit(1L))
        val out = graft.ops.Profiling.ratioMetric(e2, "user_id",
          "variant", "click", "one", control = "control")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q331 shape: hotspots — one partial collapse to cells; the 3×3
      // smear explodes the CELL table only (grid-bounded, not rows)
      timed(scale, "hotspots") {
        val p = ev.select((col("user_id") * 7919L % 100000L).as("x"),
          (col("event_id") * 104729L % 100000L).as("y"))
        val out = graft.ops.Spatial.spatialHotspots(p, "x", "y", 500L)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q332 shape: link prediction — wedge equi-join; the id spaces
      // grow with the log (10× offsets), so edges and wedges scale
      // instead of saturating a fixed fold space
      timed(scale, "link_prediction") {
        val e2 = ev.select((col("user_id") % 19997L).as("a"),
          (lit(19997L) + col("event_id") % 39989L).as("b"))
        val out = graft.ops.Graph.linkPrediction(e2, "a", "b", topK = 100)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q332 with the hub cap ENGAGED: the uncapped row above grows
      // superlinearly because per-node degree rises with the log; the
      // cap is the designed bound — this row demonstrates it holds
      timed(scale, "link_prediction_capped") {
        val e2 = ev.select((col("user_id") % 19997L).as("a"),
          (lit(19997L) + col("event_id") % 39989L).as("b"))
        val out = graft.ops.Graph.linkPrediction(e2, "a", "b",
          topK = 100, maxWedgeDeg = 60L)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q342 shape: RFM — one per-user collapse + three histogram tiles
      timed(scale, "rfm") {
        val out = graft.ops.EventAnalytics.rfm(
          ev.withColumn("vmil",
            coalesce(floor(col("value") * 1000 + 0.5).cast("long"),
              lit(0L))),
          "user_id", "tus", "vmil")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q344/q347 shapes: value-grid windows only
      timed(scale, "trimmed_mean") {
        val e2 = ev.filter(col("value").isNotNull)
          .select(col("event_type"),
            floor(col("value") * 1000 + 0.5).cast("long").as("v"))
        val out = graft.ops.Profiling.trimmedMean(e2, "event_type", "v")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "quantile_normalize") {
        val e2 = ev.filter(col("value").isNotNull)
          .select(col("event_type"),
            floor(col("value") * 1000 + 0.5).cast("long").as("v"))
        val out = graft.ops.Profiling.quantileNormalize(
          e2, "event_type", "v")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q345 shape: EB shrinkage — two collapses + broadcast prior
      timed(scale, "eb_shrink") {
        val e2 = ev.filter(col("value").isNotNull)
          .select(col("event_type"), (col("user_id") % 1000L).as("item"),
            (floor(col("value") * 1000 + 0.5).cast("long") > 34000L)
              .as("ok"))
        val out = graft.ops.Profiling.ebShrinkRates(e2, "event_type",
          "item", "ok")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q333 shape: item co-occurrence — per-user pair explode bounded
      // by the bot cap, pair table bounded by items²
      timed(scale, "item_cooccurrence") {
        val e2 = ev.select(col("user_id").as("u"),
          (col("event_id") % 97L).as("i"))
        val out = graft.ops.EventAnalytics.itemCooccurrence(
          e2, "u", "i", topK = 5)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q336/q338/q339 shapes: survival + series scorecards — windows
      // and lag joins over the distinct-DAY grid only
      timed(scale, "log_rank") {
        val d = ev.select((col("tus") / 86400000000L).cast("long")
            .as("dur"),
          (col("event_id") % 3 =!= 0).as("e"),
          when(col("user_id") % 2 === 0, lit("ctl")).otherwise(lit("trt"))
            .as("arm"))
        val out = graft.ops.EventAnalytics.logRank(
          d, "dur", "e", "arm", "ctl")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "forecast_accuracy") {
        val daily = ev.groupBy(col("event_type"),
            (col("tus") / 86400000000L).cast("long").as("t"))
          .agg(count(lit(1)).as("a"))
          .select(col("event_type"), col("t"), col("a"),
            (col("a") + col("t") % 5 - 2).as("f"))
        val out = graft.ops.EventAnalytics.forecastAccuracy(
          daily, "event_type", "t", "a", "f", season = 7)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q344/q352/q353 shapes: value-grid windows; q350/q351 shapes:
      // grid folds — all row-scan + grid-bounded state
      timed(scale, "winsorized_mean") {
        val e2 = ev.filter(col("value").isNotNull)
          .select(col("event_type"),
            floor(col("value") * 1000 + 0.5).cast("long").as("v"))
        val out = graft.ops.Profiling.winsorizedMean(e2, "event_type", "v")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "cvm") {
        val e2 = ev.filter(col("value").isNotNull)
          .select((col("user_id") % 5).as("tier"), col("event_type"),
            floor(col("value") * 1000 + 0.5).cast("long").as("v"))
        val out = graft.ops.Profiling.cvmTest(
          e2.filter(col("event_type") === "click"),
          e2.filter(col("event_type") === "purchase"), "tier", "v")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "isotonic") {
        val e2 = ev.filter(col("value").isNotNull)
          .select(col("event_type"),
            expr("cast(floor(value * 1000 + 0.5) as bigint) div 20000")
              .as("score"),
            (floor(col("value") * 1000 + 0.5).cast("long") +
              (col("user_id") % 7) * 3000L > 35000L).as("ok"))
        val out = graft.ops.Profiling.isotonicCalibration(
          e2, "event_type", "score", "ok")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "seasonal_decompose") {
        val daily = ev.groupBy(col("event_type"),
            (col("tus") / 86400000000L).cast("long").as("t"))
          .agg(count(lit(1)).as("v"))
        val out = graft.ops.EventAnalytics.seasonalDecompose(
          daily, "event_type", "t", "v", period = 7)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "holt") {
        val daily = ev.groupBy(col("event_type"),
            (col("tus") / 86400000000L).cast("long").as("t"))
          .agg(count(lit(1)).as("v"))
        val out = graft.ops.EventAnalytics.holt(
          daily, "event_type", "t", "v", 0.3, 0.1)
        (out.queryExecution.toRdd.count(), sig(out))
      }
      // q356/q355/q357 shapes: tile windows over the score grid;
      // driver-side fits over REGISTRY-sized tables
      timed(scale, "qini") {
        val e2 = ev.filter(col("value").isNotNull)
          .select(col("event_type"),
            expr("cast(floor(value * 1000 + 0.5) as bigint) div 10000")
              .as("score"),
            (col("user_id") % 2 === 0).as("tr"),
            (floor(col("value") * 1000 + 0.5).cast("long") +
              (col("user_id") % 11) * 500L > 40000L).as("ok"))
        val out = graft.ops.Profiling.qiniCurve(e2, "event_type",
          "score", "tr", "ok")
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "rake") {
        val e2 = ev.select(col("event_type"),
          (col("user_id") % 3).as("tier"))
        val out = graft.ops.Corpus.rakeWeights(e2, "event_type", "tier",
          Map("click" -> 200000L, "error" -> 200000L,
            "purchase" -> 200000L, "signup" -> 200000L,
            "view" -> 200000L),
          Map("0" -> 500000L, "1" -> 300000L, "2" -> 200000L))
        (out.queryExecution.toRdd.count(), sig(out))
      }
      timed(scale, "markov_attribution") {
        val out = graft.ops.EventAnalytics.markovAttribution(
          ev.select(col("user_id"), col("tus"), col("event_id"),
            col("event_type")),
          "user_id", "tus", "event_id", "event_type", "purchase",
          Seq("click", "signup", "view"))
        (out.queryExecution.toRdd.count(), sig(out))
      }
    }
    runEvents("1x", ev1x)
    runEvents("10x", ev10x)
    spark.stop()
  }
}
