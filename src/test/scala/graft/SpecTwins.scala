package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{Caches, Similarity, TextAnalysis, UrlOps}

/** Executable specs of operators whose `src/main` form is a native
  * (codegen'd) expression or a one-pass plan. Each twin is the
  * interpreted SQL-lambda (or direct, recompute) formulation the DuckDB
  * oracle replays, and the specs assert value identity against the
  * operator main runs: OpsSpec for most, CdcProjectionSpec for
  * [[randomProjectionLambda]], LayoutSpec for [[zorderValueLambda]] and
  * UrlOpsSpec for [[canonicalizeLambda]]. SpecTwinsSpec fails if
  * `src/main` defines one of them. */
object SpecTwins {

  // ------------------------------------------------------------ Similarity

  /** [[graft.ops.Similarity.randomProjection]]'s projection column: the
    * same LCG parity signs and exact-integer sums, ~outDims·dim lambda
    * calls per row. */
  def randomProjectionLambda(vecCol: Column, outDims: Int,
      scale: Long = 1000L): Column = {
    val q = transform(vecCol,
      x => floor(x.cast("double") * scale + 0.5).cast("long"))
    val d = size(vecCol)
    transform(sequence(lit(0), lit(outDims - 1)), j =>
      aggregate(sequence(lit(0L), d.cast("long") - 1L), lit(0L),
        (acc, i) => {
          val idx = j.cast("long") * d.cast("long") + i
          val v = pmod(lit(1103515245L) * idx + lit(12345L),
            lit(2147483648L))
          val bit = pmod(floor(v / 65536.0).cast("long"), lit(2L))
          acc + (lit(1L) - lit(2L) * bit) * element_at(q, (i + 1).cast("int"))
        }))
  }

  /** [[graft.ops.Similarity.dot]] as a left fold: the same association. */
  def dotLambda(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** [[graft.ops.Similarity.signBits]]: NaN ranks above zero in SQL
    * comparisons, which the native loop replicates. */
  def signBitsLambda(v: Column, bits: Int): Column =
    aggregate(
      zip_with(slice(v, 1, bits), sequence(lit(0), lit(bits - 1)),
        (x, i) => when(x > 0, pow(lit(2.0), i).cast("long")).otherwise(0L)),
      lit(0L), (acc, b) => acc + b)

  /** [[graft.functions.GramPairsExpr]]'s pair column: the same
    * quantization and upper-triangle order, ~d²/2 lambda calls per row. */
  def gramPairsLambda(vecCol: Column, scale: Long = 1000L): Column = {
    val q = transform(vecCol,
      x => floor(x.cast("double") * scale + 0.5).cast("long"))
    val n = size(vecCol)
    flatten(transform(sequence(lit(0), n - 1), i =>
      transform(sequence(i, n - 1), j =>
        struct(i.cast("int").as("i"), j.cast("int").as("j"),
          (element_at(q, i + 1) * element_at(q, j + 1)).as("p")))))
  }

  /** Direct (recompute) formulation of [[graft.ops.Similarity.mmrSelect]]:
    * each round recomputes max-sim against ALL selected vectors
    * (|C|·k²/2 sims in total) and collects its pick to the driver.
    * Value-identical to the incremental fold by the max-composition
    * identity. */
  def mmrSelectRecompute(vecs: DataFrame, idCol: String, vecCol: String,
      relCol: String, k: Int, lamNum: Long = 7, lamDen: Long = 10)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lamDen > 0 && lamNum >= 0 && lamNum <= lamDen,
      s"need 0 <= lamNum <= lamDen, got $lamNum/$lamDen")
    val spark = vecs.sparkSession
    import spark.implicits._
    val base = Caches.registerDf(vecs.select(
        col(idCol).cast("long").as("__id__"),
        col(vecCol).cast("array<float>").as("__v__"),
        col(relCol).cast("double").as("__r__"))
      .filter(col("__r__").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // (id, vector, rel, maxSimPrev, mmr) in selection order
    var selected = Vector.empty[(Long, Seq[Float], Double,
      Option[Double], Double)]
    var exhausted = false
    for (r <- 1 to k if !exhausted) {
      val cands = selected.map(_._1) match {
        case ids if ids.isEmpty => base
        case ids => base.filter(!col("__id__").isInCollection(ids))
      }
      val maxSim: Column = selected.map { case (_, v, _, _, _) =>
        Similarity.cosine(col("__v__"), array(v.map(x => lit(x)): _*))
      } match {
        case s if s.isEmpty => lit(null).cast("double")
        case Seq(one) => one
        case many => greatest(many: _*)
      }
      val score = (lit(lamNum) * col("__r__") -
        lit(lamDen - lamNum) * coalesce(col("__ms__"), lit(0.0))) /
        lit(lamDen)
      val best = cands.withColumn("__ms__", maxSim)
        .withColumn("__mmr__", score)
        .agg(max(struct(col("__mmr__").as("m"), (-col("__id__")).as("nid")))
          .as("__b__"))
        .select(col("__b__.m"), col("__b__.nid")).collect().head
      if (best.isNullAt(0)) exhausted = true
      else {
        val id = -best.getLong(1)
        val row = cands.filter(col("__id__") === id)
          .withColumn("__ms__", maxSim)
          .select(col("__v__"), col("__r__"), col("__ms__"))
          .collect().head
        selected = selected :+ ((id, row.getSeq[Float](0), row.getDouble(1),
          if (row.isNullAt(2)) None else Some(row.getDouble(2)),
          best.getDouble(0)))
      }
    }
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    selected.zipWithIndex.map { case ((id, _, rel, ms, mmr), i) =>
      (i + 1, id, r6(rel), ms.map(r6), r6(mmr))
    }.toDF("rank", "__pick__", "relevance", "max_sim_prev", "mmr")
      .select(col("rank"), col("__pick__").as(idCol), col("relevance"),
        col("max_sim_prev"), col("mmr"))
  }

  // ---------------------------------------------------------- TextAnalysis

  /** Whitespace tokens of the lowercased text (any whitespace run — a
    * literal-space split broke language-ID on tab/newline-separated
    * text). */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** [[graft.functions.NativeHashes.poly_hash]]: the polynomial rolling
    * hash over the characters of a string, fold (acc·131 + codepoint) mod
    * 1e9+7, as the list fold the DuckDB oracle replays. */
  def polyHashLambda(s: Column): Column =
    aggregate(
      filter(split(s, ""), c => c =!= ""),
      lit(0L),
      (acc, c) => pmod(acc * 131L + ascii(c), lit(1000000007L)))

  /** Per-language stopword-hit count over the token array (the native
    * form is [[graft.functions.StopwordHitsExpr]]). */
  def langScoreLambda(toks: Column, lang: String): Column = {
    val words = TextAnalysis.stopwords.toMap.apply(lang)
    size(filter(toks, t => t.isin(words: _*)))
  }

  /** [[graft.ops.TextAnalysis.languageId]]: per-language stopword hits
    * over the token array, argmax in list order, "und" on no hit. */
  def languageIdLambda(text: Column): Column = {
    val toks = tokens(text)
    val scored = TextAnalysis.stopwords.map { case (lang, _) =>
      (lang, langScoreLambda(toks, lang)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldRight(lit("und")) { case ((lang, score), acc) =>
      when(score === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** [[graft.ops.TextAnalysis.repetitionFeatures]] from array lambdas: the
    * modal-word count is the longest equal run of the sorted words. */
  def repetitionFeaturesLambda(text: Column): Seq[(String, Column)] = {
    val lines = filter(split(text, "\n"), l => length(trim(l)) > 0)
    val nLines = size(lines).cast("long")
    val nDistinct = size(array_distinct(lines)).cast("long")
    val dupFrac = when(nLines > 0,
      round(lit(1.0) - nDistinct.cast("double") / nLines.cast("double"), 6))
      .otherwise(0.0)
    val maxLineLen =
      coalesce(array_max(transform(lines, l => length(l))), lit(0)).cast("long")
    val words = filter(split(text, "\\s+"), w => length(w) > 0)
    val wc = size(words).cast("long")
    // longest equal run in the sorted words = count of the modal word
    val maxRun = aggregate(sort_array(words),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, w) => {
        val run = when(w === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1L))
        struct(w.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val topFrac = when(wc > 0,
      round(maxRun.cast("double") / wc.cast("double"), 6)).otherwise(0.0)
    Seq(
      "n_lines" -> nLines,
      "distinct_lines" -> nDistinct,
      "dup_line_frac" -> dupFrac,
      "max_line_len" -> maxLineLen,
      "word_count" -> wc,
      "top_word_frac" -> topFrac
    )
  }

  /** [[graft.functions.NativeText.tagged_word_ngrams]] from builtin regexp
    * and HOF shapes (DuckDB-replayable). */
  def taggedWordGramsLambda(c: Column, maxN: Int): Column = {
    val ws = regexp_extract_all(lower(c), lit("[^\\s]+"), lit(0))
    def gramsFor(n: Int): Column =
      if (n == 1) ws
      else when(size(ws) >= n,
        transform(sequence(lit(1), size(ws) - (n - 1)),
          i => concat_ws(" ", slice(ws, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    concat((1 to maxN).map(n => transform(gramsFor(n),
      g => struct(lit(n).as("n"), g.as("g")))): _*)
  }

  /** [[graft.functions.NativeText.tagged_char_ngrams]] (see
    * [[taggedWordGramsLambda]]). */
  def taggedCharGramsLambda(c: Column, maxN: Int): Column = {
    val s = regexp_replace(lower(c), lit("\\s+"), lit(""))
    def grams(n: Int): Column =
      when(length(s) >= n,
        transform(sequence(lit(1), length(s) - (n - 1)),
          i => s.substr(i, lit(n))))
        .otherwise(array().cast("array<string>"))
    concat((1 to maxN).map(n => transform(grams(n),
      g => struct(lit(n).as("n"), g.as("g")))): _*)
  }

  /** Per-(group, n) clipped overlap moments from the distributed gram join:
    * per-side explode to (group, pair, n, gram) counts, one full-outer
    * equi join, one collapse. It shuffles every gram of the corpus, where
    * the operators' row-local native path shuffles |groups|·maxN rows. */
  private def perNViaGramJoin(df: DataFrame, groupCol: String, idCol: String,
      candCol: String, refCol: String, grams: Column => Column): DataFrame = {
    def cnt(c: String, out: String) =
      df.select(col(groupCol).as("__grp__"), col(idCol).as("__id__"),
          explode(grams(col(c))).as("__x__"))
        .groupBy(col("__grp__"), col("__id__"),
          col("__x__.n").as("__n__"), col("__x__.g").as("__g__"))
        .agg(count(lit(1)).as(out))
    val joined = cnt(candCol, "__c__")
      .join(cnt(refCol, "__r__"),
        Seq("__grp__", "__id__", "__n__", "__g__"), "full_outer")
    joined.groupBy(col("__grp__"), col("__n__"))
      .agg(sum(least(coalesce(col("__c__"), lit(0L)),
        coalesce(col("__r__"), lit(0L)))).as("__m__"),
        sum(coalesce(col("__c__"), lit(0L))).as("__tc__"),
        sum(coalesce(col("__r__"), lit(0L))).as("__tr__"))
  }

  /** [[graft.ops.TextAnalysis.bleu]] on the gram-join formulation. */
  def bleuViaGramJoin(df: DataFrame, groupCol: String, idCol: String,
      candCol: String, refCol: String, maxN: Int = 4): DataFrame =
    TextAnalysis.bleuTail(df, groupCol, maxN,
      perNViaGramJoin(df, groupCol, idCol, candCol, refCol,
        taggedWordGramsLambda(_, maxN)))

  /** [[graft.ops.TextAnalysis.chrF]] on the gram-join formulation. */
  def chrfViaGramJoin(df: DataFrame, groupCol: String, idCol: String,
      candCol: String, refCol: String, maxN: Int = 6,
      beta: Double = 2.0): DataFrame =
    TextAnalysis.chrfTail(df, groupCol, maxN, beta,
      perNViaGramJoin(df, groupCol, idCol, candCol, refCol,
        taggedCharGramsLambda(_, maxN)))

  // ----------------------------------------------------------------- Dedup

  /** The [[graft.ops.Dedup.dedupParagraphs]] rebuild
    * ([[graft.functions.NativeText.keep_split_parts]]) as an
    * O(parts × kept) membership scan. */
  def keepSplitPartsLambda(text: Column, keep: Column, sep: String): Column =
    array_join(
      filter(split(text, java.util.regex.Pattern.quote(sep)),
        (p, i) => array_contains(keep, i)),
      sep)

  /** Distinct word n-grams ([[graft.functions.NativeText.word_ngrams]]). */
  def wordNgramsLambda(c: Column, n: Int): Column = {
    val words = filter(split(coalesce(c, lit("")), " "),
      w => length(w) > 0)
    // guard: Spark's sequence(1, stop) DESCENDS when stop < 1, which
    // would emit bogus indexes for docs shorter than n words
    when(size(words) >= n,
      array_distinct(transform(
        sequence(lit(1), size(words) - (n - 1)),
        i => concat_ws(" ", slice(words, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Engine-independent k-shingle hashes: each token is poly-hashed once,
    * shingle hash = poly-fold over the k token hashes (the minhash
    * shingle space of [[graft.functions.NativeHashes.shingle_hashes]]). */
  def shingleHashesLambda(text: Column, k: Int): Column = {
    val toks = split(lower(text), "\\s+")
    val ths = transform(toks, t => polyHashLambda(t))
    transform(sequence(lit(1), greatest(size(ths) - (k - 1), lit(1))),
      i => aggregate(slice(ths, i, lit(k)), lit(0L),
        (acc, h) => pmod(acc * 131L + h, lit(1000000007L))))
  }

  /** [[graft.ops.Dedup.simhash32]] over poly-hashed whitespace tokens. */
  def simhash32Lambda(text: Column): Column = {
    val hs = transform(split(lower(text), "\\s+"), t => polyHashLambda(t))
    val counts = aggregate(
      hs,
      array_repeat(lit(0), 32),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(31)),
        (a, j) => a + when(
          pmod(floor(h.cast("double") / pow(lit(2.0), j)).cast("long"), lit(2L)) === 1,
          1).otherwise(-1)))
    aggregate(
      zip_with(counts, sequence(lit(0), lit(31)),
        (c, j) => when(c > 0, pow(lit(2.0), j).cast("long")).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
  }

  // ---------------------------------------------------------------- Layout

  /** [[graft.ops.Layout.zorderValue]]: the low 31 bits of each coordinate,
    * bit-interleaved; mirrored by the DuckDB oracle. */
  def zorderValueLambda(a: Column, b: Column): Column = {
    val x = a.cast("long").bitwiseAND(lit(0x7FFFFFFFL))
    val y = b.cast("long").bitwiseAND(lit(0x7FFFFFFFL))
    (0 until 31).map { i =>
      (shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)): Column
    }.reduce(_ + _)
  }

  // ---------------------------------------------------------------- UrlOps

  /** [[graft.ops.UrlOps.canonicalize]] as a builtin composition,
    * DuckDB-replayable step for step (the q250 oracle mirrors it). */
  def canonicalizeLambda(u: Column): Column = {
    import UrlOps.MaxLen
    val nf        = UrlOps.stripFragment(u)
    val schemeRaw = substring_index(nf, "://", 1)
    val scheme    = lower(schemeRaw)
    val rest      = nf.substr(length(schemeRaw) + lit(4), lit(MaxLen))
    val authority = substring_index(rest, "/", 1)
    val pathq     = rest.substr(length(authority) + lit(1), lit(MaxLen))

    val hp    = lower(authority)
    val noWww = when(hp.startsWith("www."),
      hp.substr(lit(5), lit(MaxLen))).otherwise(hp)
    val host = when(scheme === "http" && noWww.endsWith(":80"),
        noWww.substr(lit(1), length(noWww) - 3))
      .when(scheme === "https" && noWww.endsWith(":443"),
        noWww.substr(lit(1), length(noWww) - 4))
      .otherwise(noWww)

    val pathRaw = substring_index(pathq, "?", 1)
    val query = when(length(pathq) > length(pathRaw),
      pathq.substr(length(pathRaw) + lit(2), lit(MaxLen)))
      .otherwise(lit(""))

    val collapsed = regexp_replace(pathRaw, "/+", "/")
    val path0 = when(collapsed === "", lit("/")).otherwise(collapsed)
    val path = when(length(path0) > 1 && path0.endsWith("/"),
      path0.substr(lit(1), length(path0) - 1)).otherwise(path0)

    val kept = array_sort(filter(split(query, "&"), t => {
      val name = substring_index(t, "=", 1)
      t =!= "" && !name.startsWith("utm_") &&
        !UrlOps.trackingParams.foldLeft(lit(false))((acc, p) => acc || name === p)
    }))
    val qs = when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
      .otherwise(lit(""))

    when(nf.contains("://"),
      concat(scheme, lit("://"), host, path, qs)).otherwise(lower(nf))
  }
}
