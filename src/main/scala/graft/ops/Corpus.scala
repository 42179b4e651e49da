package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators for training-data pipelines: deterministic
  * train/val/test splits, context-window sequence packing, vocabulary
  * extraction, and PII redaction. Like the rest of `graft.ops` these are
  * built on engine-independent arithmetic (polynomial hashes, explicit
  * window frames, a shared Java/RE2 regex subset) so the DuckDB oracle
  * replays them exactly.
  */
object Corpus {

  /** Deterministic, CONTENT-ADDRESSED split assignment: the bucket is a
    * polynomial hash of the text (not the id, not a random number), so
    * byte-identical duplicates always land in the same split — the only
    * assignment that prevents train/test leakage through surviving
    * near-duplicate copies. Stateless per-row (no shuffle, no seed to
    * coordinate across 1000 executors), stable across runs and engines.
    *
    * @param weights (label, percent) in order; percents must sum to 100.
    */
  def withSplit(df: DataFrame, textCol: String,
      weights: Seq[(String, Int)] = Seq("train" -> 90, "val" -> 5, "test" -> 5),
      bucketCol: String = "bucket", splitCol: String = "split"): DataFrame = {
    require(weights.map(_._2).sum == 100,
      s"split weights must sum to 100, got ${weights.map(_._2).sum}")
    val bucket = pmod(
      graft.functions.NativeHashes.poly_hash(col(textCol)), lit(100L))
    val cum = weights.scanLeft(0)(_ + _._2).tail
    val label = weights.zip(cum).init.foldRight(
      lit(weights.last._1): Column) { case (((name, _), hi), rest) =>
      when(bucket < hi, lit(name)).otherwise(rest)
    }
    df.withColumn(bucketCol, bucket).withColumn(splitCol, label)
  }

  /** Sequence packing: lay documents end-to-end and chop the token stream
    * into fixed `ctxLen` context windows (the standard "concat then chunk"
    * pretraining layout). Documents are packed per SHARD (`id % nShards`)
    * in id order, so the cumulative-sum window is partitioned — each shard
    * packs independently and in parallel; no global single-partition
    * window, which is the difference between this and the textbook
    * formulation at 100 TB. Shard count trades parallelism against
    * cross-shard padding waste (one partial window per shard).
    *
    * Emits per document: its shard, token offset within the shard stream,
    * the first/last window index it lands in, and a globally unique id of
    * the first window (`shard * 2^40 + window`).
    *
    * `pack_uid` packs the shard into the bits above 2^40, so it is unique
    * only while every shard holds fewer than 2^40 (~10^12) windows AND
    * `nShards * 2^40` fits a signed long — both enforced: `nShards` must
    * stay below 2^23, and at the 100 TB design point (~25B docs, ~10^13
    * tokens, ctxLen ≥ 256) a shard would need to carry the entire corpus
    * thousands of times over before its window count neared 2^40. */
  def sequencePack(df: DataFrame, idCol: String, tokCol: String,
      ctxLen: Int, nShards: Int): DataFrame = {
    require(ctxLen > 0 && nShards > 0, "ctxLen and nShards must be positive")
    // 2^23 shards * 2^40 windows = 2^63: one more shard would wrap
    // pack_uid's sign bit and silently collide ids — fail loudly instead
    require(nShards < (1 << 23),
      s"nShards must be < 2^23 (${1 << 23}) so shard * 2^40 fits a signed " +
        s"long in pack_uid, got $nShards")
    val shard = pmod(col(idCol), lit(nShards.toLong))
    val w = Window.partitionBy("shard").orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // integral `div`, not floor(double /): token offsets past 2^53 would
    // lose precision through a double division at real corpus scale
    df.withColumn("shard", shard)
      .withColumn("_cum", sum(col(tokCol)).over(w))
      .withColumn("tok_start", col("_cum") - col(tokCol))
      .withColumn("pack_first", expr(s"tok_start div $ctxLen"))
      // last token of the doc is at _cum-1; empty docs stay in pack_first
      .withColumn("pack_last",
        expr(s"greatest(_cum - 1, tok_start) div $ctxLen"))
      .withColumn("n_windows", col("pack_last") - col("pack_first") + 1)
      .withColumn("pack_uid",
        col("shard") * lit(1L << 40) + col("pack_first"))
      .drop("_cum")
  }

  /** Top-k vocabulary over whitespace tokens of the lowercased text, with
    * a deterministic total order (count desc, then word asc). Explode →
    * partial-aggregated count → `TakeOrdered` top-k: one shuffle on the
    * word key, bounded driver result. */
  /** Per-key quota cap: keep at most `maxPerKey` rows per key, chosen
    * deterministically by `orderCol` with `idCol` breaking ties (the
    * CommonCrawl-style per-domain cap — one hot domain must not dominate
    * a corpus). The tie-break matters: duplicate `orderCol` values are
    * routine (quality scores, char counts), and without a total order
    * `row_number` survivorship would be partition-order luck — two runs
    * of the same pipeline keeping different rows (the
    * [[selectByTokenBudget]] composite order, for the same reason). The
    * row_number window is hash-partitioned BY KEY (the [[sequencePack]]
    * per-shard shape): no global sort or single-partition window appears
    * at any corpus size, and skew concentrates only on keys that are
    * themselves over quota — exactly the rows being discarded. */
  def capPerKey(df: DataFrame, keyCol: String, maxPerKey: Int,
      orderCol: String, idCol: String): DataFrame = {
    require(maxPerKey >= 1, s"maxPerKey must be >= 1, got $maxPerKey")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(orderCol).asc, col(idCol).asc)
    df.withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") <= maxPerKey)
      .drop("__rn__")
  }

  /** Deterministic stratified sampling: EXACTLY `min(nPerKey, |stratum|)`
    * rows survive per stratum, chosen by content-addressed hash order —
    * the polynomial hash of the text is uniform over content, so ranking
    * by it and keeping the first `nPerKey` is a uniform without-replacement
    * sample that needs no RNG, no seed coordination across 1000 executors,
    * and reproduces bit-identically on re-runs and across engines
    * (contrast `df.sampleBy`, which is seed- and partitioning-dependent
    * and only approximates the requested fraction). Byte-identical
    * duplicate texts rank adjacently, surfacing sampling bias from
    * duplication instead of hiding it — run dedup first if that matters.
    *
    * Same execution shape as [[capPerKey]]: one hash exchange on the
    * stratum key, per-key `row_number` window with map-side
    * `WindowGroupLimit` pruning (each map task forwards at most `nPerKey`
    * candidate rows per stratum, so an over-represented stratum never
    * concentrates its full membership on one task). */
  def stratifiedSample(df: DataFrame, keyCol: String, nPerKey: Int,
      textCol: String, idCol: String): DataFrame = {
    require(nPerKey >= 1, s"nPerKey must be >= 1, got $nPerKey")
    val h = graft.functions.NativeHashes.poly_hash(
      coalesce(col(textCol).cast("string"), lit("")))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(h.asc, col(idCol).asc)
    df.withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") <= nPerKey)
      .drop("__rn__")
  }

  /** Percentile-threshold filtering: keep the rows whose `valueCol` is at
    * or above their key's `q`-th quantile — "drop the bottom 20% by
    * quality, per source", the relative variant of an absolute-score
    * cutoff (a single threshold over-prunes weak sources and
    * under-prunes strong ones). The exact interpolated percentile keeps
    * the op oracle-replayable; the threshold table is |keys| rows and
    * broadcast-joins back, so the data pays one scan for thresholds and
    * one for the filter, no data-sized shuffle. At extreme scale swap
    * the exact percentile (which buffers each key's values) for
    * `approx_percentile` — mergeable, same two-scan shape. */
  def filterByQuantile(df: DataFrame, keyCol: String, valueCol: String,
      q: Double): DataFrame = {
    require(q >= 0 && q <= 1, s"quantile must be in [0, 1], got $q")
    val th = df.groupBy(col(keyCol)).agg(
      expr(s"percentile(CAST($valueCol AS DOUBLE), $q)").as("__th__"))
    df.join(broadcast(th), Seq(keyCol))
      .filter(col(valueCol).cast("double") >= col("__th__"))
      .drop("__th__")
  }

  /** Approximate-threshold variant of [[filterByQuantile]] — the
    * extreme-key-cardinality swap. Exact `percentile` buffers every
    * value per key on the agg side; at billions of rows per key that
    * buffer IS the job. `approx_percentile` (Greenwald–Khanna) keeps a
    * bounded mergeable summary (error ≤ 1/accuracy in RANK terms), so
    * the threshold pass is a true constant-memory partial aggregate.
    * Same two-scan broadcast shape; the kept set can differ from the
    * exact filter only for rows within ±n/accuracy ranks of the cutoff
    * — the tolerance the q366 gate checks. */
  def filterByQuantileApprox(df: DataFrame, keyCol: String,
      valueCol: String, q: Double, accuracy: Int = 10000): DataFrame = {
    require(q >= 0 && q <= 1, s"quantile must be in [0, 1], got $q")
    require(accuracy >= 1, s"accuracy must be >= 1, got $accuracy")
    val th = df.groupBy(col(keyCol)).agg(
      expr(s"approx_percentile(CAST($valueCol AS DOUBLE), $q, $accuracy)")
        .as("__th__"))
    df.join(broadcast(th), Seq(keyCol))
      .filter(col(valueCol).cast("double") >= col("__th__"))
      .drop("__th__")
  }

  /** Per-key winsorization: clamp `valueCol` into its key's
    * `[loQ, hiQ]` exact interpolated percentile band — the outlier
    * treatment that preserves row count where [[filterByQuantile]]
    * drops (feature pipelines want every row, with tails flattened).
    * Same scale shape as the filter: per-key thresholds are |keys| rows
    * computed in one partial-aggregable pass and BROADCAST back; two
    * scans, no data-sized shuffle. Adds `<valueCol>_w` (clamped double)
    * plus the band columns; [[winsorizeApprox]] is the
    * `approx_percentile` swap at extreme key cardinality, same shape. */
  def winsorize(df: DataFrame, keyCol: String, valueCol: String,
      loQ: Double, hiQ: Double): DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ < hiQ,
      s"need 0 <= loQ < hiQ <= 1, got $loQ/$hiQ")
    val th = df.groupBy(col(keyCol)).agg(
      expr(s"percentile(CAST($valueCol AS DOUBLE), $loQ)").as("__lo__"),
      expr(s"percentile(CAST($valueCol AS DOUBLE), $hiQ)").as("__hi__"))
    df.join(broadcast(th), Seq(keyCol))
      .withColumn(s"${valueCol}_w",
        least(greatest(col(valueCol).cast("double"), col("__lo__")),
          col("__hi__")))
      .withColumnRenamed("__lo__", "band_lo")
      .withColumnRenamed("__hi__", "band_hi")
  }

  /** Approximate-band variant of [[winsorize]] — the documented
    * `approx_percentile` swap, now a first-class op instead of a
    * comment. Identical broadcast-clamp shape; only the |keys|-row
    * threshold pass changes from exact (per-key value buffer) to
    * Greenwald–Khanna bounded summaries, making the band computation a
    * constant-memory partial aggregate at any per-key cardinality.
    * Bands sit within ±n/accuracy RANKS of the exact bands; the q367
    * gate bounds the induced winsorized-sum drift. */
  def winsorizeApprox(df: DataFrame, keyCol: String, valueCol: String,
      loQ: Double, hiQ: Double, accuracy: Int = 10000): DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ < hiQ,
      s"need 0 <= loQ < hiQ <= 1, got $loQ/$hiQ")
    require(accuracy >= 1, s"accuracy must be >= 1, got $accuracy")
    val th = df.groupBy(col(keyCol)).agg(
      expr(s"approx_percentile(CAST($valueCol AS DOUBLE), $loQ, $accuracy)")
        .as("__lo__"),
      expr(s"approx_percentile(CAST($valueCol AS DOUBLE), $hiQ, $accuracy)")
        .as("__hi__"))
    df.join(broadcast(th), Seq(keyCol))
      .withColumn(s"${valueCol}_w",
        least(greatest(col(valueCol).cast("double"), col("__lo__")),
          col("__hi__")))
      .withColumnRenamed("__lo__", "band_lo")
      .withColumnRenamed("__hi__", "band_hi")
  }

  /** Deterministic mixture sampling: each source is sampled at weight
    * `w` — a doc is kept `floor(w)` whole times, plus once more iff its
    * content bucket falls below the fractional part (content-addressed:
    * the bucket is the [[withSplit]] polynomial hash of the text, so
    * byte-identical duplicates sample identically and there is no seed
    * to coordinate across 1000 executors). Weights > 1 upsample by
    * emitting epoch copies `0..n-1` in `epochCol` (the mixture-weighted
    * repeat counts of published pretraining recipes); weight 0 drops
    * the source. Arithmetic is exact in integer MICRO-units (weights
    * round to 1e-6), so the DuckDB oracle replays it bit-for-bit. Pure
    * per-row codegen + generate: no shuffle at any corpus size. */
  def sampleMixture(df: DataFrame, sourceCol: String, textCol: String,
      weights: Map[String, Double], defaultWeight: Double = 1.0,
      epochCol: String = "epoch"): DataFrame = {
    val D = 1000000L
    def micros(w: Double): Long = {
      require(w >= 0, s"mixture weight must be >= 0, got $w")
      math.round(w * D)
    }
    // chained whens over literal per-source values, one per derived piece
    def chain(f: Long => Long): Column =
      weights.toSeq.sortBy(_._1).foldLeft(lit(f(micros(defaultWeight)))) {
        case (rest, (k, v)) =>
          when(col(sourceCol) === k, lit(f(micros(v)))).otherwise(rest)
      }
    val base = chain(_ / D) // whole epochs
    val rem = chain(_ % D)  // fractional micro-remainder
    val bucket = pmod(graft.functions.NativeHashes.poly_hash(
      coalesce(col(textCol), lit(""))), lit(D))
    val n = base + when(bucket < rem, lit(1L)).otherwise(lit(0L))
    df.withColumn(epochCol,
      explode(when(n > 0, sequence(lit(0L), n - 1))
        .otherwise(array().cast("array<bigint>"))))
  }

  /** Inverted index build (word → sorted posting list of doc ids) with a
    * document-frequency cutoff: terms appearing in more than `maxDf`
    * documents (stopword frequency) are dropped — standard index
    * practice, and the thing that makes the build scale-safe. TWO-PASS
    * on purpose: document frequencies first (cheap partial-aggregable
    * counts), then the distinct (word, doc) pairs SEMI-JOIN the
    * surviving vocabulary before any posting list materializes — a hot
    * stopword's postings (10⁸ docs at corpus scale) are never built,
    * not built-then-filtered. The surviving-vocabulary table is
    * vocabulary-sized, so Catalyst broadcasts it. */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
      maxDf: Long): DataFrame = {
    val pairs = df.select(col(idCol), explode(array_distinct(
        filter(split(lower(col(textCol)), "\\s+"), w => w =!= "")))
        .as("word"))
    val dfc = pairs.groupBy(col("word"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    pairs.join(dfc, Seq("word"))
      .groupBy(col("word"))
      .agg(max(col("df")).as("df"),
        sort_array(collect_list(col(idCol))).as("postings"))
  }

  /** α-temperature source reweighting (the multilingual/domain mixing
    * rule: p_s ∝ n_s^α, α ∈ (0, 1] — α = 1 is the natural distribution,
    * α → 0 the uniform one; used to up-sample low-resource
    * sources/languages without flattening the mixture entirely).
    *
    * Returns one row per source: document and token counts, the natural
    * share n_s/Σn, the α-tempered share n_s^α/Σn^α, and the sampling
    * multiplier (α-share / natural share) to feed [[sampleMixture]] as
    * its per-source weight. Shares and multipliers are rounded to 6
    * decimals so the one `pow` call cannot leak a last-ulp libm
    * difference across engines.
    *
    * Shape: a partial-aggregable per-source aggregation collapses the
    * corpus to |sources| rows; the Σn^α normalizer is a single-row
    * aggregate of THAT table joined back by cross join — nothing after
    * the first aggregation touches corpus-sized data. */
  /** Raking / iterative proportional fitting over TWO margins — corpus
    * rebalancing when the target is a joint constraint
    * ([[mixtureWeights]] handles one margin; "40% code AND 30%
    * non-English" needs both at once). Cell masses start at the
    * observed shares and alternate row/column scaling until both
    * margins match the `*TargetsMicro` shares; per-unit sampling
    * weights are `p_cell·N / n_cell`.
    *
    * Scale shape: IPF runs DRIVER-SIDE over the collected cell table —
    * the (rows × cols) REGISTRY, never the data (the k-means-centroid
    * posture; a million-cell contingency would be a modeling bug). The
    * float recursion is deterministic: cells iterate in (row, col)
    * sorted order, margin sums fold left in that order, and the oracle
    * replays the identical unrolled half-steps. Every observed key
    * must appear in its target map (refused loudly otherwise);
    * target-only keys get no cells and are ignored. Returns
    * `(rowCol, colCol, n, p, weight)` — p the fitted joint share (6dp),
    * weight the per-unit multiplier (6dp). */
  def rakeWeights(df: DataFrame, rowCol: String, colCol: String,
      rowTargetsMicro: Map[String, Long],
      colTargetsMicro: Map[String, Long], iters: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50]; got $iters")
    val spark = df.sparkSession
    val cells = df.select(col(rowCol).cast("string").as("r"),
        col(colCol).cast("string").as("c"))
      .groupBy(col("r"), col("c")).agg(count(lit(1)).as("n"))
      .collect().map(x => ((x.getString(0), x.getString(1)),
        x.getLong(2)))
      .sortBy(_._1)
    require(cells.length <= 100000,
      s"rake contingency has ${cells.length} cells — this op fits " +
        "REGISTRY-sized margins (source × language), not data")
    val obsRows = cells.map(_._1._1).distinct.sorted
    val obsCols = cells.map(_._1._2).distinct.sorted
    obsRows.foreach(r => require(rowTargetsMicro.contains(r),
      s"row key '$r' observed but missing from rowTargetsMicro"))
    obsCols.foreach(c => require(colTargetsMicro.contains(c),
      s"col key '$c' observed but missing from colTargetsMicro"))
    val bigN = cells.map(_._2).sum
    var m: Map[(String, String), Double] =
      cells.map { case (k, n) => k -> n.toDouble / bigN.toDouble }.toMap
    def halfStep(byKey: ((String, String)) => String,
        targets: Map[String, Long], keys: Seq[String]): Unit = {
      val sums = keys.map { k =>
        // left fold in (row, col)-sorted cell order — the oracle's
        // list_sort order
        k -> cells.filter(c => byKey(c._1) == k)
          .foldLeft(0.0)((a, c) => a + m(c._1))
      }.toMap
      m = m.map { case (k, v) =>
        k -> v * (targets(byKey(k)).toDouble / 1e6) / sums(byKey(k))
      }
    }
    for (_ <- 1 to iters) {
      halfStep(_._1, rowTargetsMicro, obsRows)
      halfStep(_._2, colTargetsMicro, obsCols)
    }
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    import spark.implicits._
    cells.map { case ((r, c), n) =>
      (r, c, n, r6(m((r, c))),
        r6(m((r, c)) * bigN.toDouble / n.toDouble))
    }.toSeq.toDF(rowCol, colCol, "n", "p", "weight")
  }

  def mixtureWeights(df: DataFrame, sourceCol: String, tokCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val per = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokCol)).cast("long").as("n_tokens"))
      .withColumn("__pow__", pow(col("n_tokens").cast("double"), alpha))
    val tot = per.agg(sum(col("n_tokens")).cast("double").as("__tot__"),
      sum(col("__pow__")).as("__ptot__"))
    per.crossJoin(tot)
      .select(col(sourceCol), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") / col("__tot__"), 6).as("nat_share"),
        round(col("__pow__") / col("__ptot__"), 6).as("alpha_share"),
        round((col("__pow__") / col("__ptot__")) /
          (col("n_tokens") / col("__tot__")), 6).as("multiplier"))
  }

  /** Epoch plan for a token budget under a repeat cap — the
    * data-constrained-scaling worksheet ([[mixtureWeights]] decides
    * WHAT share each source deserves; this op says whether the source
    * CAN deliver it, and at how many epochs): per source,
    * `target = budget·share`, `epochs = target/available`, capped at
    * `maxEpochsMilli` (the "repeating data beyond ~4 epochs stops
    * helping" rule from the data-constrained scaling literature), with
    * the unfillable remainder reported as `shortfall_tokens` so the
    * mix designer can rebalance instead of silently over-repeating.
    *
    * Shares arrive quantized in MICRO units (policy is an input, not a
    * float recomputation), and every output is exact integer
    * arithmetic (`decimal(38,0)` products, integral `div`) — engines
    * agree to the bit. A share for a source with NO data plans
    * `available = 0`, null epochs, full shortfall; corpus sources
    * without a share get share 0 (available but unwanted).
    *
    * Shape: one partial-aggregable per-source collapse joined (full
    * outer) with the |shares|-row literal policy table — nothing after
    * the first aggregation touches corpus-sized data. Returns (source,
    * n_tokens, share_micro, target_tokens, epochs_milli, capped,
    * planned_tokens, shortfall_tokens). */
  def epochPlan(df: DataFrame, sourceCol: String, tokCol: String,
      shareMicro: Seq[(String, Long)], budgetTokens: Long,
      maxEpochsMilli: Long = 4000L): DataFrame = {
    require(budgetTokens >= 1, s"budget must be >= 1, got $budgetTokens")
    require(maxEpochsMilli >= 1, "maxEpochsMilli must be >= 1")
    require(shareMicro.nonEmpty && shareMicro.forall(_._2 >= 0),
      "shares must be non-negative micro units")
    require(shareMicro.map(_._1).distinct.size == shareMicro.size,
      "duplicate source in shares")
    val spark = df.sparkSession
    import spark.implicits._
    val avail = df.groupBy(col(sourceCol).cast("string").as("source"))
      .agg(sum(col(tokCol)).cast("long").as("n_tokens"))
    val policy = shareMicro.toDF("source", "share_micro")
    val joined = avail.join(policy, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("share_micro"), lit(0L)).as("share_micro"))
    val targetI = expr(s"(CAST($budgetTokens AS DECIMAL(38,0)) * " +
      "share_micro) div 1000000")
    val epochsMilli = when(col("n_tokens") > 0,
      expr("(CAST(target_tokens AS DECIMAL(38,0)) * 1000) div n_tokens"))
    joined
      .withColumn("target_tokens", targetI)
      .withColumn("epochs_milli", epochsMilli)
      .withColumn("capped", col("n_tokens") === 0 ||
        col("epochs_milli") > maxEpochsMilli)
      .withColumn("planned_tokens",
        when(col("capped"),
          expr(s"(CAST(n_tokens AS DECIMAL(38,0)) * $maxEpochsMilli) " +
            "div 1000"))
          .otherwise(col("target_tokens")))
      .withColumn("shortfall_tokens",
        greatest(col("target_tokens") - col("planned_tokens"), lit(0L)))
  }

  /** Deterministic epoch shuffle order — a seedless, reproducible
    * GLOBAL training position for every row: rank in
    * `polyhash(epoch ":" id)` order (id tie-break). Reproducibility is
    * the point — re-running the pipeline, resuming mid-epoch, or
    * re-deriving "which examples did step N see" all need the same
    * permutation from the same inputs, which an RNG-seeded
    * `orderBy(rand())` cannot give across engine versions and retries;
    * changing `epoch` yields an unrelated permutation (the
    * content-addressed [[withSplit]] discipline applied to ORDER).
    *
    * The rank is a DISTRIBUTED PREFIX SUM of row counts in key order
    * ([[vocabCoverage]]'s shape: range-repartition by (key, id),
    * per-partition row_number + |partitions|-row driver offsets) —
    * never a global single-partition ORDER BY window. Returns
    * (idCol, shuffle_key, shuffle_rank 1-based). */
  def shuffleOrder(df: DataFrame, idCol: String,
      epoch: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    // poly_hash alone is a BAD shuffle key: for same-length ids the
    // fold is h = Σ c_i·131^k mod p, so ids differing in the last digit
    // hash 1 apart (sequential ids came out in IDENTITY order). The
    // multiplicative step is a bijection on Z_p that maps consecutive
    // hashes ~6.4e8 apart — a real permutation, still exact integer
    // arithmetic both engines replay (product < 2^63, no overflow).
    val key = pmod(graft.functions.NativeHashes.poly_hash(
        concat(lit(s"$epoch:"), col(idCol).cast("string"))) *
        lit(636413622L) + lit(12345L),
      lit(1000000007L))
    val sorted = Caches.registerDf(df
      .select(col(idCol), key.as("shuffle_key"))
      .repartitionByRange(col("shuffle_key").asc, col(idCol).asc)
      .sortWithinPartitions(col("shuffle_key").asc, col(idCol).asc)
      .withColumn("__pid__", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val partCounts = sorted.groupBy(col("__pid__"))
      .agg(count(lit(1)).as("__c__"))
      .collect().map(r => (r.getAs[Int]("__pid__"), r.getAs[Long]("__c__")))
      .sortBy(_._1)
    var acc = 0L
    val offsets = partCounts.map { case (pid, c) =>
      val row = (pid, acc); acc += c; row
    }
    import spark.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("__pid__", "__off__"))
    val w = Window.partitionBy(col("__pid__"))
      .orderBy(col("shuffle_key").asc, col(idCol).asc)
    sorted.join(offDf, Seq("__pid__"))
      .select(col(idCol), col("shuffle_key"),
        (col("__off__") + row_number().over(w)).as("shuffle_rank"))
  }

  /** Token-budget corpus selection: within each key (source, language,
    * …) rank rows by `orderCol` DESCENDING (quality first; `idCol`
    * breaks ties deterministically) and keep the maximal prefix whose
    * cumulative `tokCol` stays within `budget` — the "take the best
    * documents until N tokens per source" mixing step. GREEDY-PREFIX
    * semantics: once a document overflows the budget, nothing after it
    * is considered (no knapsack backfill), so the output never exceeds
    * the budget and is a rank-contiguous prefix.
    *
    * Scale shape: one cumulative-sum window hash-partitioned BY KEY (the
    * [[sequencePack]] per-shard shape — no global sort, no
    * single-partition window); skew concentrates only on keys with many
    * candidates, whose tail rows are exactly the ones being discarded. */
  def selectByTokenBudget(df: DataFrame, keyCol: String, tokCol: String,
      orderCol: String, budget: Long, idCol: String): DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(orderCol).desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum__", sum(col(tokCol)).over(w))
      .filter(col("__cum__") <= budget)
      .drop("__cum__")
  }

  /** Greedy max-coverage subset selection — pick `k` documents that
    * together cover the most DISTINCT `shingleK`-shingles (the classic
    * (1−1/e)-approximate greedy for the NP-hard max-coverage objective):
    * diversity-first data selection, the content-based complement to
    * [[selectByTokenBudget]]'s score ranking (which happily picks k
    * near-copies of the same excellent document; this never pays for a
    * shingle twice). Each round selects the document with the largest
    * MARGINAL coverage — its count of still-uncovered shingles — ties
    * broken by smallest id, so the selection is deterministic and
    * engine-replayable (the DuckDB oracle unrolls the rounds).
    *
    * Scale shape: the distinct `(doc, shingle-hash)` pair table is built
    * once and persisted (8-byte hashes, never text); each round is one
    * hash anti-join against the covered-shingle set + a partial-
    * aggregable count + a SINGLE-ROW argmax collect — k driver round
    * trips of one row each, the [[trainBpe]] loop posture. The covered
    * set is never materialized separately: it is DERIVED from the
    * persisted pair table filtered to the ≤k selected ids (a digest
    * view — no per-round unionAll chain, no per-round checkpoint
    * rewrite of the growing set). At extreme corpus sizes bound the
    * explode upstream (cap shingles per doc) or use
    * [[maxCoverageSelectSampled]] — one bounded-pool scan per round
    * instead of a full rescan.
    *
    * Returns one row per selected document, in selection order:
    * `(rank, <idCol>, marginal_coverage)`. Stops early (fewer than k
    * rows) when every shingle is covered. */
  def maxCoverageSelect(df: DataFrame, idCol: String, textCol: String,
      k: Int, shingleK: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(shingleK >= 1, s"shingle size must be >= 1, got $shingleK")
    val spark = df.sparkSession
    import spark.implicits._
    // r14 note (guide §2.4, measured and REJECTED): persisting this
    // pre-partitioned on __id__ removes the per-round groupBy exchange
    // but PINS the cache at shuffle.partitions-way layout (cached plans
    // keep their output partitioning), defeating the AQE coalescing
    // that otherwise collapses each round's scan to ~2 tasks — measured
    // q369 1.37→3.64 s, q374 4.12→4.99 s (task count, not bytes). The
    // exchange is cheaper than the tasks; layout stays AQE's call.
    val pairs = Caches.registerDf(coveragePairs(df, idCol, textCol, shingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val picks = scala.collection.mutable.ListBuffer.empty[(Int, Long, Long)]
    // r14 (guide §2.3 — shuffle/scan the digest, not the corpus, and
    // don't scan twice): the covered-shingle digest is now HELD ON THE
    // DRIVER and shipped as a broadcast LocalRelation, instead of being
    // re-derived from a full pair-table scan every round. Each round
    // collects only the NEW pick's hash set (a one-id filter the cache's
    // batch stats prune). Driver footprint is UNCHANGED: the old
    // broadcast already collected the same ≤ picks·shingles-per-doc
    // digest to the driver to build the broadcast relation — this skips
    // the per-round rebuild scan, not a memory bound. (The digest-size
    // assumption is the same too: pathological shingle-per-doc counts ×
    // large k would stress any broadcast — r13 ADVICE — so the size is
    // logged when it grows past 10M entries.)
    val covered = scala.collection.mutable.LinkedHashSet.empty[Long]
    def coveredDf() = {
      if (covered.size > 10000000)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"maxCoverageSelect covered digest at ${covered.size} hashes — " +
            "broadcast/driver pressure; cap shingles per doc upstream")
      covered.toSeq.toDF("__h__")
    }
    var exhausted = false
    for (r <- 1 to k if !exhausted) {
      val base =
        if (covered.isEmpty) pairs
        // broadcast hint (r13): the digest is ≤ (picks so far)·(shingles
        // per doc) rows by construction — bounded and small at ANY
        // corpus size (k is a selection budget, docs bounded-length) —
        // so the anti join must never be allowed to fall to sort-merge.
        else pairs.join(broadcast(coveredDf()), Seq("__h__"), "left_anti")
      val best = base
        .groupBy(col("__id__")).agg(count(lit(1)).as("__c__"))
        .agg(max(struct(col("__c__").as("c"), (-col("__id__")).as("nid")))
          .as("__b__"))
        .select(col("__b__.c").as("c"), col("__b__.nid").as("nid"))
        .collect().head
      if (best.isNullAt(0)) exhausted = true
      else {
        val id = -best.getLong(1)
        picks += ((r, id, best.getLong(0)))
        if (r < k)
          covered ++= pairs.filter(col("__id__") === id)
            .select(col("__h__")).collect().map(_.getLong(0))
      }
    }
    picks.toSeq.toDF("rank", "__pick__", "marginal_coverage")
      .select(col("rank").cast("int").as("rank"),
        col("__pick__").as(idCol), col("marginal_coverage"))
  }

  /** Distinct (doc, shingle-hash) pair table — the 8-byte digest view
    * both coverage selectors run on; text never rides past this point. */
  private def coveragePairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int): DataFrame = df
    .select(col(idCol).cast("long").as("__id__"),
      explode(graft.functions.NativeHashes.shingle_hashes(
        coalesce(col(textCol), lit("")), shingleK)).as("__h__"))
    .distinct()

  /** Stochastic-greedy max-coverage (Mirzasoleiman et al. 2015, "Lazier
    * Than Lazy Greedy"): round r scores only a CONTENT-HASH-SAMPLED
    * candidate pool — each unselected doc joins round r's pool when
    * `xxhash64(id, r) mod 2²⁰ < p·2²⁰` with pool fraction
    * `p = min(1, ln(epsDen/epsNum)/k)`, i.e. expected pool size
    * (n/k)·ln(1/ε) — and picks the pool's argmax marginal coverage
    * (ties by smallest id). Expected coverage is ≥ (1−1/e−ε)·OPT, at
    * ONE bounded pool scan per round instead of [[maxCoverageSelect]]'s
    * k full rescans. Sampling is content-addressed and seedless
    * (xxhash64 of the id and the round), so the selection is
    * deterministic run-to-run; a round whose pool offers zero marginal
    * gain selects nothing and moves on (later rounds draw fresh pools),
    * so ranks stay contiguous but may total fewer than k.
    *
    * Same digest discipline as the exact twin: the persisted 8-byte
    * pair table is built once; the covered set is derived from it by
    * id filter. ε=1 (epsNum=epsDen) forces p=…ln(1)=0 → guarded to a
    * minimum 1-in-2²⁰ pool; ε→0 forces p=1 and the selection DEGRADES
    * to exact greedy (CorpusSpec asserts that identity).
    *
    * Returns `(rank, <idCol>, marginal_coverage)` in selection order. */
  def maxCoverageSelectSampled(df: DataFrame, idCol: String,
      textCol: String, k: Int, shingleK: Int = 3,
      epsNum: Long = 1, epsDen: Long = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(shingleK >= 1, s"shingle size must be >= 1, got $shingleK")
    require(epsNum >= 1 && epsDen >= epsNum,
      s"need 0 < eps = epsNum/epsDen <= 1, got $epsNum/$epsDen")
    val spark = df.sparkSession
    import spark.implicits._
    val frac = math.min(1.0, math.log(epsDen.toDouble / epsNum) / k)
    val thr = math.max(1L, math.round(frac * (1L << 20)))
    val pairs = Caches.registerDf(coveragePairs(df, idCol, textCol, shingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val picks = scala.collection.mutable.ListBuffer.empty[(Int, Long, Long)]
    // driver-held covered digest, same rationale and bound as the exact
    // twin ([[maxCoverageSelect]] r14 note): the per-round broadcast no
    // longer re-scans the pair table
    val covered = scala.collection.mutable.LinkedHashSet.empty[Long]
    for (r <- 1 to k) {
      val ids = picks.map(_._2).toSeq
      val inPool = pmod(xxhash64(col("__id__"), lit(r)), lit(1L << 20)) < thr
      val unselected = if (ids.isEmpty) lit(true)
        else !col("__id__").isInCollection(ids)
      val pool = pairs.filter(inPool && unselected)
      val base =
        if (covered.isEmpty) pool
        // broadcast for the same reason as [[maxCoverageSelect]]'s round
        else pool.join(broadcast(covered.toSeq.toDF("__h__")),
          Seq("__h__"), "left_anti")
      val best = base
        .groupBy(col("__id__")).agg(count(lit(1)).as("__c__"))
        .agg(max(struct(col("__c__").as("c"), (-col("__id__")).as("nid")))
          .as("__b__"))
        .select(col("__b__.c").as("c"), col("__b__.nid").as("nid"))
        .collect().head
      if (!best.isNullAt(0)) {
        val id = -best.getLong(1)
        picks += ((picks.size + 1, id, best.getLong(0)))
        if (r < k)
          covered ++= pairs.filter(col("__id__") === id)
            .select(col("__h__")).collect().map(_.getLong(0))
      }
    }
    picks.toSeq.toDF("rank", "__pick__", "marginal_coverage")
      .select(col("rank").cast("int").as("rank"),
        col("__pick__").as(idCol), col("marginal_coverage"))
  }

  /** Per-document top-k keywords by TF-IDF. The idf is the LINEARIZED
    * ratio n_docs/df rather than ln(n_docs/df): tf, df and n_docs are
    * exact integers well under 2^53, so `score = (tf·n_docs)/df` is a
    * single deterministic IEEE division that both engines reproduce
    * bit-for-bit — rank and score stay hash-comparable, where a
    * transcendental log would be at the mercy of libm ulp differences.
    * Ranking is monotone in tf and in 1/df, which is the property
    * keyword extraction actually needs.
    *
    * Scale shape: two partial-aggregable hash aggregations (term counts,
    * then doc frequencies over the already-distinct doc-word pairs); the
    * doc-frequency table is vocabulary-sized so it broadcasts back; the
    * per-document window is rank-filtered, so WindowGroupLimit prunes
    * map-side and nothing global is sorted. */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val words = df.select(col(idCol), explode(regexp_extract_all(
      lower(col(textCol)), lit("[^\\s]+"), lit(0))).as("word"))
    val tf = words.groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count_distinct(col(idCol)).as("n_docs"))
    val scored = tf.join(broadcast(dfreq), "word")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("word").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("word"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Per-document unigram statistics against the corpus' own frequency
    * table: token count, mean inverse token frequency (exact-arithmetic
    * rarity), and mean token log-probability — the CCNet-style quality
    * signal (docs whose tokens are all corpus-rare are noise; docs whose
    * tokens are all corpus-common are boilerplate) with the corpus itself
    * standing in for the language model.
    *
    * Determinism: per-term values are computed BEFORE any aggregation,
    * then summed by an ORDERED fold over the doc's terms sorted by word
    * (`aggregate` over `sort_array(collect_list(...))` here; `list(...
    * ORDER BY word)` + `list_reduce` in the oracle) — double addition is
    * not associative, so an unordered SUM would hash-diverge between
    * engines. The fold is bounded by per-document vocabulary, not corpus
    * size. The log column is rounded to 6dp (libm ulp tolerance); the
    * inverse-frequency column is exact IEEE arithmetic end to end.
    *
    * Scale shape: explode → two partial-aggregable aggregations; the
    * word-frequency table is vocabulary-sized and broadcasts; the
    * per-doc collect_list is bounded by document length. */
  def unigramStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = df.select(col(idCol), explode(regexp_extract_all(
      lower(col(textCol)), lit("[^\\s]+"), lit(0))).as("word"))
    val tf = words.groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("tf"))
    val cw = tf.groupBy("word").agg(sum("tf").as("cw"))
    val total = words.agg(count(lit(1)).as("total"))
    val terms = tf.join(broadcast(cw), "word").crossJoin(broadcast(total))
      .select(col(idCol),
        struct(col("word"),
          (col("tf").cast("double") *
            (col("total").cast("double") / col("cw").cast("double")))
            .as("inv"),
          (col("tf").cast("double") *
            log(col("cw").cast("double") / col("total").cast("double")))
            .as("lp")).as("t"),
        col("tf"))
    terms.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("t"))).as("ts"),
        sum(col("tf")).as("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        round(aggregate(col("ts"), lit(0.0),
          (a, t) => a + t.getField("inv")) / col("n_tokens"), 6)
          .as("mean_inv_freq"),
        round(aggregate(col("ts"), lit(0.0),
          (a, t) => a + t.getField("lp")) / col("n_tokens"), 6)
          .as("mean_logprob"))
  }

  /** Jensen-Shannon divergence between two corpora's unigram
    * distributions — the text-space drift score (0 = identical corpora,
    * ln 2 ≈ 0.693 = disjoint vocabularies), the lexical complement to
    * the numeric PSI: a crawl snapshot that shifted topic or language
    * mix shows up here before any downstream metric moves. Vocabulary is
    * the union support restricted to words with combined count ≥
    * `minCount`, and each side is renormalized within that vocabulary
    * (a proper JSD over the truncated distributions — and the knob that
    * keeps the support, and therefore the ordered total fold, bounded at
    * corpus scale). Per-word contribution
    * `½·p·ln(p/m) + ½·q·ln(q/m)`, `m = (p+q)/2`, zero-count side
    * contributes 0 (the 0·ln 0 limit).
    *
    * Returns the `topK` words by contribution (desc, word asc tiebreak):
    * (word, n_a, n_b, term) — the WHERE of the drift — plus the constant
    * `jsd` total. Determinism: per-word terms are pure IEEE arithmetic;
    * the total is an ORDERED fold over words (double addition is not
    * associative), `sort_array`+`aggregate` here, `list(... ORDER BY
    * word)`+`list_reduce` in the oracle — the [[unigramStats]] posture.
    *
    * Scale shape: one explode + partial-aggregable count per side, a
    * vocabulary-sized full-outer join, single-row totals broadcast; the
    * collect_list fold and output are vocabulary-bounded (`minCount`
    * caps the support). */
  def jsDivergence(a: DataFrame, b: DataFrame, textCol: String,
      topK: Int = 20, minCount: Long = 1L): DataFrame = {
    def counts(df: DataFrame, out: String) =
      df.select(explode(regexp_extract_all(
          lower(col(textCol)), lit("[^\\s]+"), lit(0))).as("word"))
        .groupBy("word").agg(count(lit(1)).as(out))
    val grid = counts(a, "n_a")
      .join(counts(b, "n_b"), Seq("word"), "full_outer")
      .select(col("word"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .filter(col("n_a") + col("n_b") >= minCount)
    val totals = grid.agg(sum(col("n_a")).as("__ta__"),
      sum(col("n_b")).as("__tb__"))
    val p = col("n_a").cast("double") / col("__ta__").cast("double")
    val q = col("n_b").cast("double") / col("__tb__").cast("double")
    val m = (p + q) / 2
    val contrib =
      when(col("n_a") > 0, p * log(p / m)).otherwise(lit(0.0)) / 2 +
      when(col("n_b") > 0, q * log(q / m)).otherwise(lit(0.0)) / 2
    val scored = grid.crossJoin(broadcast(totals))
      .withColumn("__c__", contrib)
    val total = scored
      .agg(sort_array(collect_list(struct(col("word"), col("__c__"))))
        .as("cs"))
      .select(round(aggregate(col("cs"), lit(0.0),
        (acc, t) => acc + t.getField("__c__")), 6).as("jsd"))
    scored.orderBy(col("__c__").desc, col("word")).limit(topK)
      .select(col("word"), col("n_a"), col("n_b"),
        round(col("__c__"), 6).as("term"))
      .crossJoin(broadcast(total))
  }

  /** Distinct-n n-gram diversity per group — the templated/synthetic
    * corpus detector (low distinct-2/distinct-3 ratios flag
    * machine-generated or boilerplate-heavy slices; the corpus-level
    * "distinct-n" metric from the text-generation literature, computed
    * per source so the offending feed is named). For each n in `ns`:
    * `distinct_ratio = |distinct n-grams| / |n-gram occurrences|`
    * within the group — 1.0 means every n-gram is unique, → 0 means the
    * slice repeats itself.
    *
    * Scale shape: per n, one codegen'd per-row gram expansion (no
    * window, no join) → explode → TWO partial-aggregable levels
    * ((group, gram) then group); only 8-byte-ish gram strings ride the
    * one shuffle and the second level is |groups|-sized. Output is
    * |groups| × |ns| rows. The regex TOKENIZATION runs once: the
    * (group, words) projection is persisted and every n's pass reads
    * the cached arrays (measured 2.9× at sf0.1 over per-n re-scan —
    * the regex over full text was the dominant per-row cost ×|ns|;
    * per-n STRUCT-TAGGED single-scan fusion stays rejected, measured
    * 25× slower at 10× sf0.1: the per-row struct-array
    * materialization dwarfed everything it saved). */
  def ngramDiversity(df: DataFrame, groupCol: String, textCol: String,
      ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "ns must be >= 1")
    val toks = Caches.registerDf(
      df.select(col(groupCol),
        regexp_extract_all(lower(col(textCol)), lit("[^\\s]+"), lit(0))
          .as("__ws__"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val ws = col("__ws__")
    val perN = ns.map { n =>
      val grams =
        if (n == 1) ws
        else when(size(ws) >= n,
          transform(sequence(lit(1), size(ws) - (n - 1)),
            i => concat_ws(" ", slice(ws, i, lit(n)))))
          .otherwise(array().cast("array<string>"))
      toks.select(col(groupCol), explode(grams).as("gram"))
        .groupBy(col(groupCol), col("gram"))
        .agg(count(lit(1)).as("occ"))
        .groupBy(col(groupCol))
        .agg(count(lit(1)).as("distinct_ngrams"),
          sum(col("occ")).as("total_ngrams"))
        .select(col(groupCol), lit(n).as("n"), col("total_ngrams"),
          col("distinct_ngrams"),
          round(col("distinct_ngrams").cast("double") /
            col("total_ngrams").cast("double"), 6).as("distinct_ratio"))
    }
    perN.reduce(_ unionAll _)
  }

  /** Vocabulary-richness estimators per group — "how much of this
    * source's vocabulary have we actually SEEN?" The frequency-of-
    * frequencies view every coverage decision hangs on: `f1`/`f2` =
    * words seen exactly once/twice, Chao1 `D + f1(f1−1)/(2(f2+1))`
    * (bias-corrected form — no zero-division when doubletons are
    * absent) lower-bounds the TRUE vocabulary size, and the Good–Turing
    * unseen mass `f1/N` is the probability the NEXT token is a new
    * word — high unseen mass says sampling more of this source still
    * buys novelty, near-zero says it's exhausted. Template-generated
    * and decontaminated-to-death sources show tiny unseen mass at huge
    * N; organic text doesn't. Both estimators are single divisions of
    * exact integers (the f1² product in decimal), so doubles are
    * bit-identical across engines.
    *
    * Shape: one (group, word) collapse, then a vocabulary-bounded
    * frequency-of-frequencies collapse — rows shuffle once, text never
    * rides past the first collapse. Returns (group, n_tokens, vocab,
    * f1, f2, chao1, unseen_mass). */
  def vocabRichness(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val words = df.select(col(groupCol), explode(regexp_extract_all(
      lower(col(textCol)), lit("[^\\s]+"), lit(0))).as("__w__"))
    val wc = words.groupBy(col(groupCol), col("__w__"))
      .agg(count(lit(1)).as("__c__"))
    wc.groupBy(col(groupCol))
      .agg(sum(col("__c__")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("__c__") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("__c__") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col(groupCol), col("n_tokens"), col("vocab"), col("f1"),
        col("f2"),
        round(col("vocab").cast("double") +
          (dec(col("f1")) * dec(col("f1") - 1)).cast("double") /
            (lit(2.0) * (col("f2") + 1).cast("double")), 6).as("chao1"),
        round(try_divide(col("f1").cast("double"),
          col("n_tokens").cast("double")), 6).as("unseen_mass"))
  }

  /** "Fightin' words" (Monroe–Colaresi–Quinn log-odds with an
    * informative Dirichlet prior) — WHICH words distinguish corpus A
    * from corpus B, with sampling noise priced in: raw frequency
    * ratios crown rare words (one occurrence vs zero is "infinitely"
    * distinctive), χ² keywords over-reward the huge-count head; the
    * informative prior (pooled-corpus shares at strength α₀) shrinks
    * both, and the z-score `δ_w/σ_w` with
    * `σ² ≈ 1/(y_aw+α_w) + 1/(y_bw+α_w)` ranks by EVIDENCE. The two
    * ln terms come from exact integer counts + literal prior doubles
    * through one fixed expression tree. Returns the `topK` most
    * A-distinctive and most B-distinctive words (ties broken by word).
    *
    * Shape: two word collapses, one vocabulary-sized full-outer join,
    * two TakeOrdered top-k passes — text never rides past the first
    * collapse. Returns (side, word, n_a, n_b, delta, z). */
  def logOddsWords(a: DataFrame, b: DataFrame, textCol: String,
      alpha0Micro: Long = 1000000L, minCount: Long = 5,
      topK: Int = 20): DataFrame = {
    require(alpha0Micro > 0 && topK >= 1 && minCount >= 1,
      "need positive prior strength, topK, minCount")
    val alpha0 = alpha0Micro.toDouble / 1e6
    def words(df: DataFrame, n: String) = df
      .select(explode(regexp_extract_all(lower(col(textCol)),
        lit("[^\\s]+"), lit(0))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as(n))
    val wa = words(a, "n_a")
    val wb = words(b, "n_b")
    val joined = wa.join(wb, Seq("word"), "full")
      .select(col("word"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .filter(col("n_a") + col("n_b") >= minCount)
    val totA = joined.agg(sum(col("n_a")).as("__ta__"),
      sum(col("n_b")).as("__tb__"))
    val base = joined.crossJoin(broadcast(totA))
    val aw = lit(alpha0) * (col("n_a") + col("n_b")).cast("double") /
      (col("__ta__") + col("__tb__")).cast("double")
    def lodds(y: Column, t: Column) =
      log((y.cast("double") + aw) /
        (t.cast("double") + lit(alpha0) - y.cast("double") - aw))
    val delta = lodds(col("n_a"), col("__ta__")) -
      lodds(col("n_b"), col("__tb__"))
    val z = delta / sqrt(lit(1.0) / (col("n_a").cast("double") + aw) +
      lit(1.0) / (col("n_b").cast("double") + aw))
    val scored = base.select(col("word"), col("n_a"), col("n_b"),
      round(delta, 6).as("delta"), round(z, 6).as("z"),
      z.as("__zr__"))
    val topA = scored.orderBy(col("__zr__").desc, col("word").asc)
      .limit(topK).select(lit("a").as("side"), col("word"),
        col("n_a"), col("n_b"), col("delta"), col("z"))
    val topB = scored.orderBy(col("__zr__").asc, col("word").asc)
      .limit(topK).select(lit("b").as("side"), col("word"),
        col("n_a"), col("n_b"), col("delta"), col("z"))
    topA.union(topB)
  }

  def vocabulary(df: DataFrame, textCol: String, k: Int): DataFrame =
    // nonempty \s+ tokens == \S+ matches, extracted in one codegen'd call
    // instead of an interpreted split+filter lambda pair
    df.select(explode(regexp_extract_all(
        lower(col(textCol)), lit("[^\\s]+"), lit(0))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("word").asc)
      .limit(k)

  /** Corpus tokenization to vocabulary ids — the "text → token ids" step
    * a pretraining pipeline runs after vocabulary selection: the top
    * `vocabSize` words (from [[vocabulary]]: count desc, word asc —
    * deterministic ids) map to ids `1..vocabSize` by rank, everything
    * else to the OOV id `0`. The vocabulary is collected driver-side
    * (bounded by `vocabSize`, the same contract a trained tokenizer
    * ships as its merges file) and baked into the plan as a literal map,
    * so the tokenization itself is a pure per-row `transform` — NO
    * shuffle, no join, streams unchanged; the only distributed cost is
    * the one vocabulary-count pass. */
  def tokenizeToIds(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int, outCol: String = "token_ids"): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val vocab = vocabulary(df, textCol, vocabSize).collect()
      .map(_.getString(0))
    val m =
      if (vocab.isEmpty) map().cast("map<string,bigint>")
      else map(vocab.zipWithIndex.flatMap { case (w, i) =>
        Seq(lit(w), lit(i + 1L)) }: _*)
    val toks = regexp_extract_all(lower(col(textCol)), lit("[^\\s]+"), lit(0))
    df.select(col(idCol),
      transform(toks, t => coalesce(element_at(m, t), lit(0L))).as(outCol))
  }

  /** Word n-gram language-model count table: the top `topK` n-grams by
    * corpus frequency (count desc, gram asc — deterministic), each with
    * its (n-1)-gram PREFIX count, so the conditional probability
    * `P(w|prefix) = n_gram / n_prefix` is carried as an EXACT integer
    * pair — no float division to diverge between engines, and the counts
    * re-aggregate associatively across corpus shards (the mergeable-LM
    * property that lets 1000 executors build one model).
    *
    * ALL occurrences count (an LM is occurrence-weighted), unlike the
    * decontamination path's distinct-gram sets. Two partial-aggregable
    * aggregations + a prefix join-back bounded by the prefix vocabulary;
    * `TakeOrdered` caps the result at `topK`. */
  def ngramLmCounts(df: DataFrame, textCol: String, n: Int,
      topK: Int): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2, got $n")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    // the token array is BOUND to a column before any lambda touches
    // it: a lambda that references the raw filter(split(...)) expression
    // re-tokenizes the whole document PER GRAM POSITION (O(len²) —
    // measured 15× the whole query's runtime at sf0.1); against a bound
    // attribute, element_at is an O(1) read
    val base = df.select(
      filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
        .as("__toks__"))
    val tc = col("__toks__")
    // sequence(1, 0) would run BACKWARDS ([1,0]) — short docs guard to
    // an explicitly-typed empty array instead
    val gramStructs = transform(
      sequence(lit(1), size(tc) - (n - 1)),
      i => {
        val parts = (0 until n).map(j => element_at(tc, (i + j).cast("int")))
        struct(
          concat_ws(" ", parts: _*).as("gram"),
          concat_ws(" ", parts.init: _*).as("prefix"))
      })
    val pairs = base.select(explode(when(size(tc) >= n, gramStructs)
        .otherwise(array().cast("array<struct<gram:string,prefix:string>>")))
      .as("g"))
      .select(col("g.gram"), col("g.prefix"))
    // ONE pass over the exploded occurrences: the prefix's occurrence
    // count is Σ n_gram over the grams sharing it (a gram occurrence IS
    // a prefix occurrence), so the second aggregation runs over the
    // |distinct grams| table, not the corpus — re-deriving it from the
    // raw pairs would tokenize and explode the whole corpus twice
    val grams = pairs.groupBy(col("gram"), col("prefix"))
      .agg(count(lit(1)).as("n_gram"))
    val prefixes = grams.groupBy(col("prefix"))
      .agg(sum(col("n_gram")).as("n_prefix"))
    grams.join(prefixes, Seq("prefix"))
      .select(col("gram"), col("prefix"), col("n_gram"), col("n_prefix"))
      .orderBy(col("n_gram").desc, col("gram").asc)
      .limit(topK)
  }

  /** Per-key rank normalization: `percent_rank` of `valueCol` within its
    * key — the distribution-free feature transform ("this doc is longer
    * than 83% of its source") that makes heterogeneous sources
    * comparable without fitting anything. Ties share a rank (equal
    * values MUST normalize equally — an id tie-break here would rank
    * identical docs differently). `(rank-1)/(n-1)` is the same IEEE
    * division in every engine. Hash-partitioned window by key, the
    * capPerKey shape. */
  def rankNormalize(df: DataFrame, keyCol: String, valueCol: String,
      outCol: String = "pct_rank"): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(valueCol))
    df.withColumn(outCol, percent_rank().over(w))
  }

  /** BM25 retrieval scoring for a literal query-term list, top-k docs.
    * LN-FREE variant: idf is the raw Robertson–Spärck-Jones odds ratio
    * `(N - df + 0.5) / (df + 0.5)` WITHOUT the log — per term it is a
    * monotone transform of classic idf, and with the log dropped every
    * operation in the score is IEEE +,-,*,/ (no transcendental), so both
    * engines produce bit-identical doubles and the result stays
    * hash-comparable. `k1`/`b` must be exactly-representable doubles
    * (1.5, 0.75) for the same reason; `k1 + 1` is folded at runtime so
    * the oracle writes `(1.5 + 1.0)`, not a re-rounded 2.5 literal.
    *
    * Scale shape: per-term tf comes from the row's OWN token array (no
    * per-term join, no explode); the only corpus-wide state is ONE
    * single-row aggregate (N, Σdl, per-term df) that cross-joins back as
    * a broadcast — the 100 TB cost is two narrow scans plus a bounded
    * top-k, never a postings shuffle. The per-term score sum is a fixed
    * left-to-right fold in query order, matching the oracle's
    * parenthesization. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], topK: Int,
      k1: Double = 1.5, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val toks = regexp_extract_all(lower(col(textCol)), lit("[^\\s]+"), lit(0))
    val base = df.select(col(idCol), toks.as("__toks__"))
      .withColumn("dl", size(col("__toks__")).cast("double"))
    val withTf = queryTerms.zipWithIndex.foldLeft(base) {
      case (d, (t, i)) => d.withColumn(s"__tf$i",
        size(filter(col("__toks__"), w => w === lit(t))).cast("double"))
    }
    val stats = withTf.agg(
      count(lit(1)).cast("double").as("__n__"),
      sum(col("dl")).as("__sumdl__") +:
        queryTerms.indices.map(i =>
          sum(when(col(s"__tf$i") > 0d, 1L).otherwise(0L))
            .cast("double").as(s"__df$i")): _*)
    val scored = withTf.crossJoin(broadcast(stats))
      .withColumn("__avgdl__", col("__sumdl__") / col("__n__"))
    val score = queryTerms.indices.foldLeft(lit(0.0)) { (acc, i) =>
      val idf = (col("__n__") - col(s"__df$i") + lit(0.5)) /
        (col(s"__df$i") + lit(0.5))
      val tf = col(s"__tf$i")
      acc + (idf * (tf * (lit(k1) + lit(1.0)))) /
        (tf + lit(k1) * ((lit(1.0) - lit(b)) +
          lit(b) * (col("dl") / col("__avgdl__"))))
    }
    val w = Window.orderBy(col("score").desc, col(idCol).asc)
    scored.withColumn("score", score)
      .select(col(idCol), col("dl").cast("long").as("dl"), col("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** Deterministic weighted priority sample: keep the `k` rows per key
    * with the smallest `priority = polyhash(id) / weight` — a seedless,
    * engine-reproducible analogue of weighted reservoir sampling
    * (Efraimidis–Spirakis keys use `u^(1/w)`; dividing a fixed uniform
    * hash by the weight preserves the monotone-in-weight selection
    * pressure without the transcendental `pow`, so both engines agree on
    * every boundary row). Heavier rows get smaller priorities and are
    * proportionally more likely to survive; re-running — or re-sharding —
    * the corpus reselects the SAME sample, which is what makes the
    * sample reproducible across pipeline versions.
    *
    * Scale shape: the priority is per-row arithmetic on a codegen'd
    * hash; one key-partitioned `row_number` window (the [[capPerKey]]
    * shape — map-side `WindowGroupLimit` prunes to k per partition
    * before the exchange). */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
      idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val priority =
      graft.functions.NativeHashes.poly_hash(col(idCol).cast("string"))
        .cast("double") / col(weightCol).cast("double")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__prio__").asc, col(idCol).asc)
    df.withColumn("__prio__", priority)
      .withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") <= k)
      .drop("__prio__", "__rn__")
  }

  /** Sliding-window document chunking (the RAG / long-context prep step):
    * split each document's token stream into windows of `window` tokens
    * advancing by `stride` (`stride < window` ⇒ overlapping chunks; the
    * final window is allowed to run short rather than re-anchor to the
    * end, so chunk boundaries are a pure function of position — stable
    * under document appends). A document shorter than one window yields
    * exactly one chunk. Emits (id, chunk_idx, start token 0-based,
    * n_tokens, chunk text).
    *
    * Scale shape: per-row `sequence` + `posexplode` over the row's own
    * token array — no shuffle, no state; output size is corpus tokens ×
    * window/stride, the same blow-up any chunker pays. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1,
      s"window and stride must be >= 1, got $window/$stride")
    val toks = regexp_extract_all(lower(col(textCol)), lit("[^\\s]+"), lit(0))
    val n = size(toks)
    // integer ceil-div via floor: operands are small exact ints, so the
    // IEEE quotient can never round across an integer boundary
    val nChunks = when(n <= window, lit(1))
      .otherwise(floor((n - window + (stride - 1)) / lit(stride))
        .cast("int") + 1)
    df.select(col(idCol), toks.as("__toks__"), n.as("__n__"),
        nChunks.as("__nc__"))
      .select(col(idCol), col("__toks__"),
        posexplode(sequence(lit(0), col("__nc__") - 1)))
      .select(col(idCol), col("pos").cast("int").as("chunk_idx"),
        (col("pos") * stride).cast("long").as("start"),
        slice(col("__toks__"), col("pos") * stride + 1, lit(window))
          .as("__chunk__"))
      .select(col(idCol), col("chunk_idx"), col("start"),
        size(col("__chunk__")).cast("long").as("n_tokens"),
        array_join(col("__chunk__"), " ").as("chunk_text"))
  }

  /** PII categories as (name, regex, replacement), applied IN ORDER — the
    * regexes are in the shared Java/RE2 subset (no backrefs, no lookaround)
    * so DuckDB replays the same sequence. URL first: it can contain '@'
    * and dotted hosts that the later patterns would half-match. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("url", "https?://[^\\s]+", "<URL>"),
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"))

  /** Redact PII in `textCol`: per category (in [[piiPatterns]] order) count
    * the matches REMAINING at that step, then replace them — sequential
    * counting means an email inside a URL is counted once, as a URL.
    * Returns (redactedColumn, Seq(countName -> countColumn)). Pure per-row
    * codegen'd expressions: no shuffle, no UDF. */
  def redactPii(textCol: Column): (Column, Seq[(String, Column)]) =
    piiPatterns.foldLeft((textCol, Seq.empty[(String, Column)])) {
      case ((t, counts), (name, pattern, replacement)) =>
        (regexp_replace(t, pattern, replacement),
          counts :+ (s"n_$name" -> regexp_count(t, lit(pattern))))
    }

  /** k-anonymity suppression: keep only rows whose quasi-identifier
    * combination is shared by at least `k` rows — groups smaller than
    * `k` are SUPPRESSED entirely (the release-safety primitive for
    * training corpora carrying user-derived attributes: a unique
    * (locale, source, length-bucket) tuple is a re-identification
    * handle). Generalize the quasi columns upstream (bucket, truncate)
    * until the suppression rate is acceptable.
    *
    * Shape: one partial-aggregable count per quasi-tuple + one equi
    * join-back on the quasi columns (AQE splits a skewed tuple; the
    * alternative count-over-window has NO map-side reduction — exactly
    * the [[graft.ops.Dedup.dupSpanProfile]] lesson). Returns surviving
    * rows plus their `group_n`. */
  def kAnonymize(df: DataFrame, quasiCols: Seq[String],
      k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_n"))
      .filter(col("group_n") >= k)
    // groupBy treats NULL as a regular grouping value, so the join-back
    // must too: null-safe equality (<=>) keeps a NULL-bearing quasi
    // tuple whose group reaches k — a plain equi-join would silently
    // suppress every such row regardless of group size. Still an
    // equi-join shape for the planner (SortMergeJoin/AQE-splittable).
    val cnt = quasiCols.foldLeft(counts) { (d, q) =>
      d.withColumnRenamed(q, s"__k_$q")
    }
    val cond = quasiCols.map(q => col(q) <=> col(s"__k_$q"))
      .reduce(_ && _)
    val rest = df.columns.filterNot(quasiCols.contains)
    // column order preserved from the pre-null-safe equi-join shape
    // (quasi columns first): callers and the q142 oracle select by name,
    // but the stable order costs nothing
    df.join(cnt, cond)
      .select((quasiCols ++ rest :+ "group_n").map(col): _*)
  }

  /** l-diversity enforcement — [[kAnonymize]]'s necessary complement
    * (k-anonymity alone fails the HOMOGENEITY attack: a group of 50
    * identical quasi-tuples is k-anonymous at k=50, yet if all 50 share
    * one sensitive value the attacker learns it exactly; l-diversity
    * additionally requires ≥ l DISTINCT sensitive values per group).
    * Keeps only rows whose quasi-identifier group has at least `l`
    * distinct sensitive values — run it after (or instead of)
    * [[kAnonymize]] when the table carries a sensitive column. NULL is
    * a distinct sensitive value like any other (it reveals "value
    * missing", which is information too), counted via the null-safe
    * distinct; NULL quasi tuples group and join null-safely exactly
    * like [[kAnonymize]].
    *
    * Shape: one partial-aggregable groupBy on the quasi key (count +
    * distinct-sensitive count) and an AQE-splittable null-safe equi
    * join-back — the [[kAnonymize]] plan with one more aggregate.
    * Returns the surviving rows + `(group_n, sensitive_n)`. */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(!quasiCols.contains(sensitiveCol),
      "sensitive column cannot be a quasi-identifier")
    require(l >= 1, s"l must be >= 1, got $l")
    // countDistinct skips NULL; count NULL as one more distinct value
    // when the group has any (the missing-ness is itself sensitive)
    val counts = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_n"),
        (countDistinct(col(sensitiveCol)) +
          max(when(col(sensitiveCol).isNull, 1L).otherwise(0L)))
          .as("sensitive_n"))
      .filter(col("sensitive_n") >= l)
    val cnt = quasiCols.foldLeft(counts) { (d, q) =>
      d.withColumnRenamed(q, s"__k_$q")
    }
    val cond = quasiCols.map(q => col(q) <=> col(s"__k_$q"))
      .reduce(_ && _)
    val rest = df.columns.filterNot(quasiCols.contains)
    df.join(cnt, cond)
      .select((quasiCols ++ rest ++ Seq("group_n", "sensitive_n"))
        .map(col): _*)
  }

  /** t-closeness audit — the third privacy rampart after [[kAnonymize]]
    * and [[lDiversity]] (l-diversity still leaks by SKEW: a group with
    * 10 distinct salaries that are all in the top percentile tells the
    * attacker plenty; t-closeness bounds how far each quasi-group's
    * SENSITIVE-VALUE DISTRIBUTION may sit from the global one). For a
    * numeric sensitive attribute the distance is the 1-Wasserstein
    * (ordered-distance EMD, the Li et al. metric —
    * [[graft.ops.Profiling.wasserstein1]] per group vs global),
    * normalized by the global value range so `emd ∈ [0, 1]` and `t` is
    * scale-free. The verdict is an exact integer cross-multiplication:
    * `emd_num · tDen > tNum · n_g·n_all·range` — numerator
    * `Σ_k |cumG_k·n_all − cumAll_k·n_g| · gap_k` in decimal(38,0), no
    * float near the boundary.
    *
    * Returns the per-group audit (quasi…, group_n, emd_num, emd,
    * breach) — an audit table, not filtered rows, because the remedy
    * for a breach is coarser generalization upstream, not row
    * suppression (suppressing the breaching group's rows would itself
    * reveal membership). NULL sensitive values are excluded from both
    * distributions (they carry no ordered position); NULL quasi tuples
    * group like any other.
    *
    * Shape: one global histogram (grid-sized, cumulated in one task —
    * quantization bounds it), one per-(group, value) histogram, then
    * the groups×grid densification joined group-cum via a per-group
    * window. The |groups|·|grid| intermediate is the honest cost of
    * evaluating every group's CDF at every global grid point — bounded
    * because quasi attributes are low-cardinality BY DESIGN (that is
    * what makes them quasi-identifiers) and the grid is
    * quantization-bounded. Requires an integral sensitive column. */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, tNum: Long, tDen: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(!quasiCols.contains(sensitiveCol),
      "sensitive column cannot be a quasi-identifier")
    require(tNum >= 0 && tDen > 0, "bad t threshold")
    Profiling.requireIntegral(df, sensitiveCol, "tCloseness")
    val dec38 = org.apache.spark.sql.types.DataTypes
      .createDecimalType(38, 0)
    def dd(c: Column) = c.cast(dec38)
    val base = df.filter(col(sensitiveCol).isNotNull)
      .select(quasiCols.map(col) :+
        col(sensitiveCol).cast("long").as("__v__"): _*)
    // global grid: cumulative counts + the gap to the next value
    val wCum = Window.orderBy(col("__v__").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val grid = base.groupBy(col("__v__"))
      .agg(count(lit(1)).as("__ca__"))
      .withColumn("__cumall__", sum(col("__ca__")).over(wCum))
      .withColumn("__gap__",
        coalesce(lead(col("__v__"), 1)
          .over(Window.orderBy(col("__v__").asc)) - col("__v__"),
          lit(0L)))
    val totals = base.agg(count(lit(1)).as("__nall__"),
      (max(col("__v__")) - min(col("__v__"))).as("__range__"))
    // per-(group, value) counts, densified onto the global grid; the
    // histogram side's columns are renamed so the null-safe join
    // condition is unambiguous (the kAnonymize discipline)
    val gh = base.groupBy(quasiCols.map(col) :+ col("__v__"): _*)
      .agg(count(lit(1)).as("__cg__"))
    val gh2 = quasiCols.foldLeft(
      gh.withColumnRenamed("__v__", "__gv__")) { (d, q) =>
        d.withColumnRenamed(q, s"__g_$q")
      }
    val groups = base.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_n"))
    val dense = groups.crossJoin(broadcast(grid.select(col("__v__"),
        col("__cumall__"), col("__gap__"))))
      .join(gh2, quasiCols.map(q => col(q) <=> col(s"__g_$q"))
          .reduce(_ && _) && col("__v__") === col("__gv__"), "left")
      .select(quasiCols.map(col) ++ Seq(col("__v__"),
        col("__cumall__"), col("__gap__"), col("group_n"),
        coalesce(col("__cg__"), lit(0L)).as("__cg__")): _*)
    val wG = Window.partitionBy(quasiCols.map(col): _*)
      .orderBy(col("__v__").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val scored = dense
      .withColumn("__cumg__", sum(col("__cg__")).over(wG))
      .crossJoin(broadcast(totals))
      .groupBy(quasiCols.map(col) :+ col("group_n"): _*)
      .agg(max(col("__nall__")).as("__nall__"),
        max(col("__range__")).as("__range__"),
        sum(abs(dd(col("__cumg__")) * dd(col("__nall__")) -
          dd(col("__cumall__")) * dd(col("group_n"))) *
          dd(col("__gap__"))).as("emd_num"))
    scored.select(quasiCols.map(col) :+ col("group_n") :+
        col("emd_num") :+
        when(col("__range__") > 0,
          round(try_divide(col("emd_num").cast("double"),
            (dd(col("group_n")) * dd(col("__nall__")) *
              dd(col("__range__"))).cast("double")), 6))
          .otherwise(lit(0.0)).as("emd") :+
        when(col("__range__") > 0,
          col("emd_num") * lit(tDen) >
            lit(tNum) * dd(col("group_n")) * dd(col("__nall__")) *
              dd(col("__range__")))
          .otherwise(lit(false)).as("breach"): _*)
  }

  /** Deterministic class rebalancing by EXACT integer oversampling:
    * every class is brought to exactly the majority class's count —
    * each row repeats `target div n` times, and the first
    * `target mod n` rows of the class IN CONTENT-HASH ORDER repeat
    * once more (seedless: re-running, re-sharding, or re-running on
    * another engine picks the same extra rows — the [[stratifiedSample]]
    * discipline, applied to UP-sampling). The imbalance cure for
    * per-language / per-source training mixes where down-sampling
    * would discard scarce data.
    *
    * Shape: |classes|-row count table + single-row target, both
    * broadcast; one per-class rank window (a class costs its own row
    * count); the `posexplode(sequence(...))` fan-out is bounded by the
    * OUTPUT corpus — the irreducible cost of oversampling. Returns one
    * row per emitted copy: the id, class, and 1-based `copy` ordinal
    * (copy = 1 is the original). */
  def balanceClasses(df: DataFrame, classCol: String,
      idCol: String): DataFrame = {
    val counts = df.groupBy(col(classCol))
      .agg(count(lit(1)).as("__n__"))
    val target = counts.agg(max(col("__n__")).as("__target__"))
    val w = Window.partitionBy(col(classCol))
      .orderBy(graft.functions.NativeHashes
        .poly_hash(col(idCol).cast("string")).asc, col(idCol).asc)
    df.select(col(idCol), col(classCol))
      .withColumn("__rn__", row_number().over(w))
      .join(broadcast(counts), Seq(classCol))
      .crossJoin(broadcast(target))
      .withColumn("__copies__",
        expr("__target__ div __n__") +
          when(col("__rn__") <= expr("__target__ % __n__"), 1L)
            .otherwise(0L))
      .select(col(idCol), col(classCol),
        posexplode(sequence(lit(1L), col("__copies__"))))
      .select(col(idCol), col(classCol),
        (col("pos") + 1).cast("long").as("copy"))
  }

  /** BPE merge-candidate statistics — the inner loop of tokenizer
    * training at corpus scale: adjacent CHARACTER-pair counts weighted
    * by word frequency (the pair picked for the next merge is the
    * argmax). Two mergeable aggregations: the word-frequency table
    * (partial-aggregable, vocabulary-sized — the corpus text collapses
    * map-side) and the pair roll-up over DISTINCT words, so a word
    * repeated 10⁸ times costs its length once, weighted — never 10⁸
    * explodes (the reason production BPE trainers work from the word
    * histogram, reproduced here as the plan shape). Deterministic
    * top-k by (count desc, pair asc). */
  def bpePairCounts(df: DataFrame, textCol: String,
      topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val words = df.select(explode(split(lower(
      coalesce(col(textCol), lit(""))), "\\s+")).as("__w__"))
      .filter(length(col("__w__")) >= 2)
    val wf = words.groupBy(col("__w__"))
      .agg(count(lit(1)).as("__wn__"))
    val pairs = wf.select(col("__wn__"),
      explode(transform(
        sequence(lit(1), length(col("__w__")) - 1),
        i => struct(col("__w__").substr(i, lit(1)).as("a"),
          col("__w__").substr(i + 1, lit(1)).as("b")))).as("__p__"))
    val counts = pairs.groupBy(col("__p__.a").as("a"),
        col("__p__.b").as("b"))
      .agg(sum(col("__wn__")).as("n"))
    val w = Window.orderBy(col("n").desc, col("a").asc, col("b").asc)
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** Skip-gram (center, context) training-pair generation with the
    * word2vec frequency-subsampling rule (Mikolov et al. 2013) — the
    * corpus-prep step for embedding training. An occurrence of word w
    * survives iff `polyHash(doc⊕pos) mod 10⁶ < ⌊√(t/f(w))·10⁶⌋`
    * (content-addressed: no RNG state, identical across engines and
    * reruns; `f(w)` = corpus frequency, so frequent words thin out at
    * the published rate). Survivors are RE-INDEXED per document (the
    * word2vec "shrunken sentence") and every ordered pair within
    * `window` re-indexed positions becomes a training pair; pairs
    * aggregate to (center, context, n) and the top `topK` by
    * (n desc, center, context) are returned.
    *
    * Scale shape: one token explode, one vocabulary-sized frequency
    * join (broadcast when it fits), one per-doc re-index window
    * (partitioned by doc), one doc-keyed self-join with fan-out ≤
    * 2·window per surviving token, one partial-aggregable pair count,
    * and a WindowGroupLimit-prunable top-k. */
  def skipgramPairs(df: DataFrame, idCol: String, textCol: String,
      window: Int = 2, tMil: Long = 1000L, topK: Int = 50): DataFrame = {
    require(window >= 1 && tMil >= 1 && topK >= 1, "bad skipgram params")
    val toks = df.select(col(idCol).as("__doc__"),
      posexplode(filter(split(lower(coalesce(col(textCol), lit(""))),
        "\\s+"), s => length(s) > 0)).as(Seq("__pos__", "word")))
    val cw = toks.groupBy(col("word")).agg(count(lit(1)).as("__cw__"))
    val total = toks.agg(count(lit(1)).as("__total__"))
    val keepMil = least(lit(1000000L),
      floor(sqrt(col("__total__").cast("double") *
        (tMil.toDouble / 1e6) / col("__cw__").cast("double")) * 1e6)
        .cast("long"))
    val survivors = toks.join(broadcast(cw), "word")
      .crossJoin(broadcast(total))
      .filter(pmod(graft.functions.NativeHashes.poly_hash(
        concat(col("__doc__").cast("string"), lit("_"),
          col("__pos__").cast("string"))), lit(1000000L)) < keepMil)
      .select(col("__doc__"), col("__pos__"), col("word"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__doc__")).orderBy(col("__pos__").asc)
    // both sides of the self-join read the survivor index: persist it
    // once (the minhashCandidates discipline) instead of re-running the
    // corpus scan + frequency join + re-index window twice
    val idx = Caches.registerDf(
      survivors.withColumn("__i__", row_number().over(w))
        .select(col("__doc__"), col("__i__"), col("word"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val pairs = idx.as("c").join(idx.as("x"),
        col("c.__doc__") === col("x.__doc__") &&
        col("c.__i__") =!= col("x.__i__") &&
        abs(col("c.__i__") - col("x.__i__")) <= window)
      .select(col("c.word").as("center"), col("x.word").as("context"))
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
    val rw = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("center").asc, col("context").asc)
    pairs.withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= topK)
  }

  /** Unigram^¾ negative-sampling table (word2vec's noise distribution)
    * over the top-`topK` vocabulary: each word's weight is
    * `⌊count^0.75 · 1000⌋`, computed as `sqrt(c·sqrt(c))` — two IEEE
    * sqrt (correctly rounded by the standard on BOTH engines, unlike
    * pow) and one multiply, so the exponent-¾ is engine-exact. Returns
    * (word, cw, w75_mil, rank, cum_w75): a sampler draws
    * u ∈ [0, Σw75) and takes the first rank with cum > u — the
    * cumulative column IS the alias table, and integer cumulative sums
    * are order-exact.
    *
    * Scale shape: one partial-aggregable count, a WindowGroupLimit-
    * pruned top-k, then rank/cum windows over K rows only (the
    * standard vocab cap — word2vec tables are truncated by
    * construction). */
  def negativeSamplingTable(df: DataFrame, textCol: String,
      topK: Int = 100): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val cw = df.select(explode(regexp_extract_all(
        lower(coalesce(col(textCol), lit(""))),
        lit("[^\\s]+"), lit(0))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cw"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cw").desc, col("word").asc)
    val top = cw.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .withColumn("w75_mil",
        floor(sqrt(col("cw").cast("double") *
          sqrt(col("cw").cast("double"))) * 1000.0).cast("long"))
    val cumW = org.apache.spark.sql.expressions.Window
      .orderBy(col("rank").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    top.withColumn("cum_w75", sum(col("w75_mil")).over(cumW))
      .select(col("word"), col("cw"), col("w75_mil"), col("rank"),
        col("cum_w75"))
  }

  /** Full BPE tokenizer training — the iterated [[bpePairCounts]] loop
    * (Sennrich et al., ACL'16): per round, count adjacent symbol pairs
    * weighted by word frequency, fuse the argmax pair (count desc, then
    * (left, right) lexicographic — fully deterministic) across the
    * whole vocabulary with the classic leftmost-non-overlapping scan
    * ([[graft.functions.NativeText.bpe_merge_once]]), repeat. Stops
    * early if the vocabulary runs out of adjacent pairs. Returns the
    * learned merge table (rank, left, right, pair_count) — the artifact
    * a tokenizer ships.
    *
    * Scale shape: the corpus collapses ONCE into the word-frequency
    * table (partial-aggregable, vocabulary-sized); every round after
    * that is vocab-sized work — one explode + one partial-aggregable
    * pair count + a 1-row argmax collect (the kmeans centroid
    * discipline) + one JIT merge map. The rounds run through
    * [[Fixpoint.iterate]]: the merged symbol table is wrapped lazily,
    * and the NEXT round's argmax collect fills it — one action per round,
    * the previous table released once the next is filled, constant plan
    * depth at production merge counts. The final round's table is never
    * computed (nothing reads it). */
  def trainBpe(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = df.sparkSession
    import spark.implicits._
    val vocab0 = df.select(explode(split(lower(
        coalesce(col(textCol), lit(""))), "\\s+")).as("__w__"))
      .filter(length(col("__w__")) >= 2)
      .groupBy(col("__w__")).agg(count(lit(1)).as("__wn__"))
      .select(filter(split(col("__w__"), ""),
        s => length(s) > 0).as("__syms__"), col("__wn__"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    Fixpoint.iterate("trainBpe", vocab0, numMerges) { (vocab, rank) =>
      val top = vocab.filter(size(col("__syms__")) >= 2)
        .select(col("__wn__"), explode(transform(
          sequence(lit(1), size(col("__syms__")) - 1),
          i => struct(element_at(col("__syms__"), i).as("a"),
            element_at(col("__syms__"), i + 1).as("b")))).as("__p__"))
        .groupBy(col("__p__.a").as("a"), col("__p__.b").as("b"))
        .agg(sum(col("__wn__")).as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      top.headOption.map { t =>
        val (a, b, n) = (t.getAs[String]("a"), t.getAs[String]("b"),
          t.getAs[Long]("n"))
        merges += ((rank, a, b, n))
        vocab.select(
          graft.functions.NativeText.bpe_merge_once(col("__syms__"), a, b)
            .as("__syms__"), col("__wn__"))
      }
    }
    merges.toSeq.toDF("rank", "left_sym", "right_sym", "pair_count")
  }

  /** Unigram-LM (SentencePiece-style, Kudo ACL'18) tokenizer training —
    * the subword alternative to [[trainBpe]]: seed the piece vocabulary
    * from the corpus' most frequent substrings, then run fixed EM
    * rounds where the E-step Viterbi-segments every word under the
    * current piece probabilities
    * ([[graft.functions.NativeText.unigram_viterbi]] — one JIT dp per
    * word, pieces baked in as literals) and the M-step collapses the
    * segment usage back into counts (partial-aggregable sum). Pruning
    * is the FIXED rule "keep every single character (coverage floor:
    * an unused char keeps count 1) plus the top `vocabSize` multi-char
    * pieces by (count desc, piece asc)" — deterministic,
    * engine-replayable, no loss-ranked candidate removal.
    *
    * Determinism: piece probabilities are single IEEE divisions `c/T`
    * and the dp transition a single multiply in fixed order — both
    * correctly rounded, so the DuckDB oracle (an unrolled dp COLUMN
    * chain per position, no transcendental logs anywhere) reproduces
    * every segmentation bit-for-bit; ties keep the smallest split
    * point. Only words of code-point length ≤ `maxWordLen` train (the
    * SentencePiece candidate-length discipline, and what bounds the
    * oracle's unroll).
    *
    * Scale shape ([[trainBpe]]'s driver-loop posture): the corpus
    * collapses ONCE into the word-frequency table; every round after
    * that is vocabulary-sized work — one Viterbi pass + one
    * partial-aggregable count + a vocab-sized driver collect (the
    * kmeans-centroid discipline; tokenizer vocabularies are
    * driver-scale by construction).
    *
    * Returns the trained piece table `(rank, piece, piece_count)`,
    * rank by (count desc, piece asc). */
  def trainUnigramLm(df: DataFrame, textCol: String, seedSize: Int = 30,
      vocabSize: Int = 20, emRounds: Int = 2, maxPieceLen: Int = 4,
      maxWordLen: Int = 12): DataFrame = {
    require(seedSize >= 1 && vocabSize >= 1 && emRounds >= 1 &&
      maxPieceLen >= 1 && maxWordLen >= maxPieceLen,
      "bad trainUnigramLm params")
    val spark = df.sparkSession
    import spark.implicits._
    val words = unigramWordTable(df, textCol, maxWordLen)
    val (pieces, _) = unigramEmTrain(words, seedSize, vocabSize,
      emRounds, maxPieceLen)
    pieces.zipWithIndex.map { case ((p, c), i) => (i + 1, p, c) }
      .toDF("rank", "piece", "piece_count")
  }

  /** The trainer's corpus collapse: one pinned (word, frequency) table —
    * everything after this is vocabulary-sized. Shared by
    * [[trainUnigramLm]] and [[trainUnigramLmLossPrune]]. */
  private def unigramWordTable(df: DataFrame, textCol: String,
      maxWordLen: Int): DataFrame =
    Caches.registerDf(df
      .select(explode(split(lower(coalesce(col(textCol), lit(""))),
        "\\s+")).as("__w__"))
      .filter(length(col("__w__")).between(1, maxWordLen))
      .groupBy(col("__w__")).agg(count(lit(1)).as("__wn__"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Substring seed + EM rounds of [[trainUnigramLm]], factored so the
    * loss-prune variant can keep a LARGER multi-char pool (`multiKeep`)
    * through EM. Returns the trained pieces sorted (count desc, piece
    * asc) and the char set (the coverage floor, never pruned). */
  private def unigramEmTrain(words: DataFrame, seedSize: Int,
      multiKeep: Int, emRounds: Int, maxPieceLen: Int)
      : (Seq[(String, Long)], Set[String]) = {
    // seed: every substring of length 1..maxPieceLen, with multiplicity,
    // weighted by word frequency
    val seedCounts = words.select(col("__wn__"), explode(flatten(transform(
        sequence(lit(1), length(col("__w__"))),
        i => transform(
          sequence(lit(1), least(lit(maxPieceLen),
            length(col("__w__")) - i + 1)),
          l => col("__w__").substr(i, l))))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("__wn__")).as("c"))
    // orderBy().limit(k), NOT a global rank window: the rank column is
    // droppable here, and TakeOrderedAndProject keeps a k-row heap per
    // partition by construction — no reliance on InferWindowGroupLimit
    // firing (the seed-substring table is distinct-words × ≤ maxPieceLen
    // substrings, the one table in this trainer that gets big)
    def topMulti(counts: DataFrame, k: Int) =
      counts.filter(length(col("piece")) > 1)
        .orderBy(col("c").desc, col("piece").asc).limit(k)
        .select(col("piece"), col("c"))
    def collectPieces(d: DataFrame): Seq[(String, Long)] =
      d.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        .sortBy { case (p, c) => (-c, p) }
    val charCounts = seedCounts.filter(length(col("piece")) === 1)
    var pieces = collectPieces(
      charCounts.unionByName(topMulti(seedCounts, seedSize)))
    val charSet = pieces.collect { case (p, c) if p.codePointCount(0,
      p.length) == 1 => p }.toSet
    for (_ <- 1 to emRounds) {
      val total = pieces.map(_._2).sum
      val m = words.select(col("__wn__"),
          explode(graft.functions.NativeText.unigram_viterbi(
            col("__w__"), pieces, total, maxPieceLen)).as("piece"))
        .groupBy(col("piece")).agg(sum(col("__wn__")).as("c"))
      val mMap = collectPieces(m).toMap
      // char coverage floor + fixed multi-char prune
      val chars = charSet.toSeq.map(ch => ch -> math.max(
        mMap.getOrElse(ch, 0L), 1L))
      val multis = mMap.toSeq
        .filter { case (p, _) => !charSet.contains(p) }
        .sortBy { case (p, c) => (-c, p) }.take(multiKeep)
      pieces = (chars ++ multis).sortBy { case (p, c) => (-c, p) }
    }
    (pieces, charSet)
  }

  /** Unigram-LM training with the ACTUAL SentencePiece prune criterion
    * (Kudo ACL'18 §3.2) in place of [[trainUnigramLm]]'s fixed count
    * rule: after the same seed + EM (keeping a `vocabSize + pruneRounds`
    * multi-char pool), each of `pruneRounds` rounds drops the piece
    * whose removal LEAST increases total corpus Viterbi loss — the
    * redundancy test count ranking cannot express (a frequent piece
    * whose words re-segment cheaply through an alternative piece prunes
    * BEFORE a rarer piece whose words would collapse to characters;
    * CorpusSpec's fixture exhibits exactly that disagreement). A final
    * E/M recount refreshes the survivors' counts (every survivor
    * floored at 1). Chars are never pruned (the coverage floor).
    *
    * Loss is the documented ENGINE-EXACT surrogate of
    * [[graft.functions.TextImpls.unigramILoss]]: the segmentation is
    * the probability-optimal Viterbi parse (bit-identical dp on both
    * engines) valued in WHOLE BITS — token cost
    * `bitlen(total) − bitlen(count)`, a ≤1-bit-per-token floor(log₂)
    * approximation of the true −log₂ p. Whole bits make the per-word
    * losses and their corpus sums exact integers (order-independent,
    * replayable), where SentencePiece's float log-loss would drift
    * cross-engine by transcendental rounding and summation order.
    * Piece counts stay FIXED while scoring a round (probabilities
    * re-normalize over the shrunken total only between rounds) —
    * SentencePiece likewise prunes on the current EM estimates.
    *
    * Scale shape: each prune round is ONE vocabulary-sized JIT pass
    * ([[graft.functions.NativeText.unigram_loss_deltas]] — every
    * candidate's delta per word in one call, zero for words not
    * containing the piece) + a |candidates|-row collect; the corpus
    * collapsed once into the word table, exactly [[trainUnigramLm]]'s
    * loop posture. Returns (rank, piece, piece_count) like the fixed-
    * rule trainer; if EM starves the pool below `vocabSize +
    * pruneRounds` multis, pruning still removes exactly `pruneRounds`
    * pieces (the final multi count then undershoots `vocabSize`). */
  def trainUnigramLmLossPrune(df: DataFrame, textCol: String,
      seedSize: Int = 30, vocabSize: Int = 20, emRounds: Int = 2,
      pruneRounds: Int = 2, maxPieceLen: Int = 4,
      maxWordLen: Int = 12): DataFrame = {
    require(seedSize >= 1 && vocabSize >= 1 && emRounds >= 1 &&
      pruneRounds >= 1 && maxPieceLen >= 1 && maxWordLen >= maxPieceLen,
      "bad trainUnigramLmLossPrune params")
    val spark = df.sparkSession
    import spark.implicits._
    val words = unigramWordTable(df, textCol, maxWordLen)
    var (pieces, charSet) = unigramEmTrain(words, seedSize,
      vocabSize + pruneRounds, emRounds, maxPieceLen)
    for (_ <- 1 to pruneRounds) {
      val cands = pieces.collect {
        case (p, _) if !charSet.contains(p) => p }.sorted
      if (cands.nonEmpty) {
        val deltas = words.select(col("__wn__"),
            posexplode(graft.functions.NativeText.unigram_loss_deltas(
              col("__w__"), pieces, cands, maxPieceLen))
              .as(Seq("pos", "d")))
          .groupBy(col("pos"))
          .agg(sum(col("__wn__") * col("d")).as("delta"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
        val pick = cands.zipWithIndex
          .map { case (c, i) => (deltas.getOrElse(i, 0L), c) }.min._2
        pieces = pieces.filterNot(_._1 == pick)
      }
    }
    // final recount: one E/M pass under the pruned set, every survivor
    // floored at 1 (a zero-usage survivor keeps a live probability)
    val total = pieces.map(_._2).sum
    val mMap = words.select(col("__wn__"),
        explode(graft.functions.NativeText.unigram_viterbi(
          col("__w__"), pieces, total, maxPieceLen)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("__wn__")).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    pieces.map { case (p, _) => (p, math.max(mMap.getOrElse(p, 0L), 1L)) }
      .sortBy { case (p, c) => (-c, p) }
      .zipWithIndex.map { case ((p, c), i) => (i + 1, p, c) }
      .toDF("rank", "piece", "piece_count")
  }

  /** Tokenize every document with a TRAINED unigram piece table
    * ([[trainUnigramLm]]'s artifact) and report per doc: word count,
    * token count, tokens-per-word — the fertility metric under the
    * unigram tokenizer ([[bpeEncodeStats]]'s sibling). One JIT Viterbi
    * per word ([[graft.functions.NativeText.unigram_encode_stats]]);
    * the piece table rides as a literal, no shuffle, no explode. Words
    * longer than `maxWordLen` code points fall back to their code-point
    * count (outside the training cap — the oracle replays the same
    * rule). `pieces` is (piece, count) as trained; probabilities are
    * c/Σc exactly as in training, so encode ≡ the E-step on the final
    * table. */
  def unigramEncodeStats(df: DataFrame, idCol: String, textCol: String,
      pieces: Seq[(String, Long)], maxPieceLen: Int = 4,
      maxWordLen: Int = 12): DataFrame = {
    require(pieces.nonEmpty, "unigramEncodeStats needs a trained table")
    val total = pieces.map(_._2).sum
    val e = graft.functions.NativeText.unigram_encode_stats(
      coalesce(col(textCol), lit("")), pieces, total, maxPieceLen,
      maxWordLen)
    df.select(col(idCol), e.as("__e__"))
      .select(col(idCol),
        col("__e__").getItem(0).as("n_words"),
        col("__e__").getItem(1).as("n_tokens"))
      .withColumn("tokens_per_word", when(col("n_words") > 0,
        round(col("n_tokens").cast("double") /
          col("n_words").cast("double"), 6)))
  }

  /** [[unigramEncodeStats]] with BYTE FALLBACK (SentencePiece
    * `byte_fallback`): an UNK-free encode — any char the trained table
    * cannot represent decomposes into its UTF-8 bytes, one token each,
    * so fertility is defined over ANY input (emoji, CJK, control
    * chars), where the plain encode's char fallback under-counts
    * unknown chars as 1. Per word: dp-reachable within the cap →
    * Viterbi token count (zero byte tokens); unreachable or over-cap →
    * per char, 1 if the char is a table piece else its 1–4 UTF-8 bytes.
    * Adds `n_byte_tokens` — the "how much of this batch fell to bytes"
    * drift telemetry an ingest monitors next to tokens_per_word. Same
    * shuffle-free one-JIT-pass shape as the plain encode; the DuckDB
    * oracle replays the byte-count rule exactly (strlen per char). */
  def unigramEncodeStatsByteFallback(df: DataFrame, idCol: String,
      textCol: String, pieces: Seq[(String, Long)], maxPieceLen: Int = 4,
      maxWordLen: Int = 12): DataFrame = {
    require(pieces.nonEmpty, "unigramEncodeStatsByteFallback needs a " +
      "trained table")
    val total = pieces.map(_._2).sum
    val e = graft.functions.NativeText.unigram_encode_stats_bf(
      coalesce(col(textCol), lit("")), pieces, total, maxPieceLen,
      maxWordLen)
    df.select(col(idCol), e.as("__e__"))
      .select(col(idCol),
        col("__e__").getItem(0).as("n_words"),
        col("__e__").getItem(1).as("n_tokens"),
        col("__e__").getItem(2).as("n_byte_tokens"))
      .withColumn("tokens_per_word", when(col("n_words") > 0,
        round(col("n_tokens").cast("double") /
          col("n_words").cast("double"), 6)))
  }

  /** Tokenize every document with a TRAINED merge list ([[trainBpe]]'s
    * artifact) and report per doc: word count, BPE token count, and
    * tokens-per-word (the fertility metric that prices a corpus in
    * training FLOPs and flags tokenizer/corpus mismatch — fertility
    * near 1 means the merges cover the text; near characters-per-word
    * means they don't). One JIT pass per document
    * ([[graft.functions.NativeText.bpe_encode_stats]] — rank-ordered
    * merge scans, the classic encode); no shuffle, no explode, the
    * merge table rides along as a broadcast-sized literal. */
  def bpeEncodeStats(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val e = graft.functions.NativeText.bpe_encode_stats(
      coalesce(col(textCol), lit("")), merges)
    df.select(col(idCol), e.as("__e__"))
      .select(col(idCol),
        col("__e__").getItem(0).as("n_words"),
        col("__e__").getItem(1).as("n_tokens"))
      .withColumn("tokens_per_word", when(col("n_words") > 0,
        round(col("n_tokens").cast("double") /
          col("n_words").cast("double"), 6)))
  }

  /** Bigram COLLOCATION (phrase) detection — the word2vec phrase rule:
    * a bigram `w1 w2` is a phrase when
    * `(count(w1 w2) − δ) · N / (count(w1) · count(w2)) > threshold`
    * (δ discounts rare accidents, N is the corpus token count). The
    * comparison is carried as EXACT integer cross-multiplication in
    * decimal(38,0) — `(c₁₂−δ)·N·den > num·c₁·c₂` — so no float
    * division can diverge between engines; the counts leave as plain
    * longs.
    *
    * Scale shape: bigrams are built IN-ROW (zip of the token array with
    * its own tail — no self-join, no positional explode+join), then one
    * partial-aggregable count per bigram and one per unigram; the two
    * unigram joins are vocabulary-sized (AQE broadcasts them when they
    * fit). `minCount` prunes the accidental-bigram tail BEFORE the
    * joins, which is what bounds the output at corpus scale.
    *
    * Returns (w1, w2, n_pair, n_w1, n_w2, phrase). */
  def collocations(df: DataFrame, textCol: String, minCount: Long,
      delta: Long, thresholdNum: Long, thresholdDen: Long): DataFrame = {
    require(minCount >= 1 && delta >= 0 && thresholdNum >= 0 &&
      thresholdDen > 0, "bad collocations params")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val toks = df.select(filter(
      split(lower(coalesce(col(textCol), lit(""))), "\\s+"),
      w => w =!= "").as("__t__"))
    val uni = toks.select(explode(col("__t__")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val k = greatest(size(col("__t__")) - 1, lit(0))
    val big = toks.select(explode(zip_with(
        slice(col("__t__"), lit(1), k), slice(col("__t__"), lit(2), k),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__b__"))
      .groupBy(col("__b__.w1").as("w1"), col("__b__.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val total = uni.agg(sum(col("n")).cast(dec).as("__N__"))
    big
      .join(uni.select(col("w").as("w1"), col("n").as("n_w1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("n").as("n_w2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"),
        col("n_w2"),
        ((col("n_pair") - delta).cast(dec) * col("__N__") * thresholdDen >
          lit(thresholdNum).cast(dec) * col("n_w1") * col("n_w2"))
          .as("phrase"))
  }

  /** Lexical diversity profile per key (source, language, shard): token
    * count, type count (distinct words), and hapax count (words
    * occurring exactly once within the key) — the classic
    * type-token-ratio ingredients, exported as exact integers so the
    * ratio is the caller's division. Low TTR flags templated/boilerplate
    * sources; a collapsing hapax share flags synthetic or deduplicated-
    * to-death corpora.
    *
    * Shape: one partial-aggregable (key, word) count — the corpus text
    * collapses map-side to the per-key vocabulary — then one per-key
    * roll-up of that vocabulary-sized table. Both shuffles carry counts,
    * never text bodies. */
  def lexicalDiversity(df: DataFrame, keyCol: String,
      textCol: String): DataFrame = {
    val words = df.select(col(keyCol), explode(filter(
      split(lower(coalesce(col(textCol), lit(""))), "\\s+"),
      w => w =!= "")).as("__w__"))
    words.groupBy(col(keyCol), col("__w__"))
      .agg(count(lit(1)).as("__n__"))
      .groupBy(col(keyCol))
      .agg(sum(col("__n__")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__n__") === 1, 1L).otherwise(0L)).as("n_hapax"))
  }

  /** Vocabulary coverage curve: for each requested percentage `p`, the
    * SMALLEST top-frequency vocabulary (count desc, word asc) whose
    * occurrences cover ≥ p% of the corpus token mass, with the tokens it
    * covers — the "how big must the tokenizer's vocab be" planning
    * number.
    *
    * The running total over the frequency-ranked vocabulary is computed
    * as a DISTRIBUTED PREFIX SUM — range-repartition by (count desc,
    * word asc), per-partition running sums via a window PARTITIONED BY
    * the physical partition id, plus per-partition offsets (one
    * |partitions|-row driver collect, the k-means-centroid precedent) —
    * deliberately NOT a global `sum over (order by ...)` window, which
    * plans as a single-partition sort of the whole vocabulary (the
    * round-7 scale-killer shape this codebase banned).
    *
    * Returns one row per threshold: (pct, vocab_size, covered_tokens,
    * total_tokens). */
  def vocabCoverage(df: DataFrame, textCol: String,
      thresholdsPct: Seq[Int]): DataFrame = {
    require(thresholdsPct.nonEmpty &&
      thresholdsPct.forall(p => p >= 1 && p <= 100),
      "thresholds must be percentages in [1, 100]")
    val spark = df.sparkSession
    val counts = df.select(explode(filter(
        split(lower(coalesce(col(textCol), lit(""))), "\\s+"),
        w => w =!= "")).as("__w__"))
      .groupBy(col("__w__")).agg(count(lit(1)).as("__n__"))
    val sorted = Caches.registerDf(counts
      .repartitionByRange(col("__n__").desc, col("__w__").asc)
      .sortWithinPartitions(col("__n__").desc, col("__w__").asc)
      .withColumn("__pid__", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // per-partition (token mass, vocab rows) → prefix offsets; bounded
    // by the partition count, not the vocabulary
    val partStats = sorted.groupBy(col("__pid__"))
      .agg(sum(col("__n__")).as("__s__"), count(lit(1)).as("__c__"))
      .collect().map(r => (r.getAs[Int]("__pid__"),
        r.getAs[Long]("__s__"), r.getAs[Long]("__c__")))
      .sortBy(_._1)
    val totalTokens = partStats.map(_._2).sum
    var accS = 0L; var accC = 0L
    val offsets = partStats.map { case (pid, s, c) =>
      val row = (pid, accS, accC); accS += s; accC += c; row
    }
    import spark.implicits._
    val offDf = broadcast(offsets.toSeq
      .toDF("__pid__", "__off_tok__", "__off_rank__"))
    val w = Window.partitionBy(col("__pid__"))
      .orderBy(col("__n__").desc, col("__w__").asc)
    val cum = sorted.join(offDf, Seq("__pid__"))
      .select(
        (col("__off_rank__") + row_number().over(w)).as("__rank__"),
        (col("__off_tok__") + sum(col("__n__")).over(w)).as("__cum__"))
    val thr = broadcast(thresholdsPct.toDF("pct"))
    // first rank whose cumulative mass crosses p% of the total —
    // integer cross-multiplication, no division
    cum.join(thr, col("__cum__") * 100 >= col("pct") * totalTokens)
      .groupBy(col("pct"))
      .agg(min(col("__rank__")).as("vocab_size"),
        min_by(col("__cum__"), col("__rank__")).as("covered_tokens"))
      .withColumn("total_tokens", lit(totalTokens))
  }

  private def tokensOf(textCol: String): Column =
    filter(split(lower(coalesce(col(textCol), lit(""))), "\\s+"),
      w => w =!= "")

  /** Deterministic systematic resampling to EXACTLY `n` draws — the
    * step that turns fractional mixture weights into integer copy
    * counts when a training mix materializes ([[mixtureWeights]] says
    * "source A at 2.37×"; the data loader needs whole copies). The
    * particle-filter systematic scheme with offset 0: row i (in id
    * order) receives `⌊cum_i·n/W⌋ − ⌊cum_{i−1}·n/W⌋` copies — every
    * row gets within ±1 of its exact expectation `w_i·n/W` (zero
    * sampling variance, unlike multinomial draws), the copy counts
    * telescope to exactly `n`, and there is no RNG anywhere — the
    * content-addressed-split determinism discipline.
    *
    * The cumulative weight is a DISTRIBUTED PREFIX SUM in id order
    * ([[vocabCoverage]]'s shape): range-repartition by id,
    * per-partition window, |partitions|-row driver offsets — never a
    * global single-partition ORDER BY window. Copy arithmetic is exact
    * (`decimal(38,0)` product, integral `div`). Non-positive weights
    * contribute nothing. Returns rows with copies ≥ 1:
    * (idCol, weight, copies). */
  def systematicResample(df: DataFrame, idCol: String,
      weightCol: String, n: Long): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    Profiling.requireIntegral(df, weightCol, "systematicResample")
    val spark = df.sparkSession
    val base = df.select(col(idCol), col(weightCol).cast("long")
        .as("__wt__"))
      .filter(col("__wt__") > 0)
    val sorted = Caches.registerDf(base
      .repartitionByRange(col(idCol).asc)
      .sortWithinPartitions(col(idCol).asc)
      .withColumn("__pid__", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val partStats = sorted.groupBy(col("__pid__"))
      .agg(sum(col("__wt__")).as("__s__"))
      .collect().map(r => (r.getAs[Int]("__pid__"), r.getAs[Long]("__s__")))
      .sortBy(_._1)
    val totalW = partStats.map(_._2).sum
    require(totalW > 0, "total weight must be positive")
    var acc = 0L
    val offsets = partStats.map { case (pid, s) =>
      val row = (pid, acc); acc += s; row
    }
    import spark.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("__pid__", "__off__"))
    val w = Window.partitionBy(col("__pid__")).orderBy(col(idCol).asc)
    sorted.join(offDf, Seq("__pid__"))
      .select(col(idCol), col("__wt__"),
        (col("__off__") + sum(col("__wt__")).over(w)).as("__hi__"))
      .withColumn("copies",
        expr(s"(CAST(__hi__ AS DECIMAL(38,0)) * $n) div $totalW") -
          expr(s"(CAST(__hi__ - __wt__ AS DECIMAL(38,0)) * $n) " +
            s"div $totalW"))
      .filter(col("copies") >= 1)
      .select(col(idCol), col("__wt__").as("weight"), col("copies"))
  }

  /** EXACT stratified split: within every stratum the split sizes are
    * exactly the largest-remainder apportionment of the weights (train
    * 80 / val 10 / test 10 of a 57-doc stratum = 46/6/5 — not "80% in
    * expectation" like the content-hash bucketing of [[withSplit]],
    * which drifts ±√n per stratum). Rows rank within their stratum by
    * `(polyHash(text), id)` — content-addressed, so re-running on a
    * reordered corpus reproduces the same assignment; byte-identical
    * duplicates rank adjacently and land in the same split unless a
    * boundary splits them (use [[withSplit]] or dedup first when
    * leakage, not exactness, is the priority).
    *
    * Shape: one rank window HASH-PARTITIONED BY STRATUM (the capPerKey
    * discipline), a boundary table of `|strata|·|splits|` rows built
    * with stratum-partitioned windows and BROADCAST back, one range
    * join on (stratum, rank). Returns the input plus a `split` column.
    *
    * @param weights (label, percent), percents sum to 100. */
  def exactStratifiedSplit(df: DataFrame, strataCol: String,
      textCol: String, idCol: String,
      weights: Seq[(String, Int)]): DataFrame = {
    require(weights.nonEmpty && weights.map(_._2).sum == 100 &&
      weights.forall(_._2 >= 0), s"weights must sum to 100: $weights")
    val spark = df.sparkSession
    import spark.implicits._
    val ranked = df.withColumn("__h__",
        graft.functions.NativeHashes.poly_hash(col(textCol)))
      .withColumn("__r__", row_number().over(
        Window.partitionBy(col(strataCol))
          .orderBy(col("__h__").asc, col(idCol).asc)))
      .drop("__h__")
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("__n__"))
    val splits = broadcast(weights.zipWithIndex
      .map { case ((l, p), i) => (l, p.toLong, i) }
      .toDF("split", "__pct__", "__idx__"))
    val wStratum = Window.partitionBy(col(strataCol))
    val alloc = counts.crossJoin(splits)
      .withColumn("__base__", expr("(__n__ * __pct__) div 100"))
      .withColumn("__rem__", expr("(__n__ * __pct__) % 100"))
      .withColumn("__left__", col("__n__") - sum(col("__base__")).over(wStratum))
      .withColumn("__er__", row_number().over(
        wStratum.orderBy(col("__rem__").desc, col("__idx__").asc)))
      .withColumn("__size__", col("__base__") +
        when(col("__er__") <= col("__left__"), 1L).otherwise(0L))
      .withColumn("__hi__", sum(col("__size__")).over(
        wStratum.orderBy(col("__idx__").asc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__lo__", col("__hi__") - col("__size__"))
      .select(col(strataCol), col("split"), col("__lo__"), col("__hi__"))
    ranked.join(broadcast(alloc), Seq(strataCol))
      .filter(col("__r__") > col("__lo__") && col("__r__") <= col("__hi__"))
      .drop("__r__", "__lo__", "__hi__")
  }

  /** Trained unigram-LM state for [[lmScoreWith]]: the persisted
    * (word, count) vocabulary plus the two scalar normalizers. Train
    * once, score many batches (the streaming twin reuses one model
    * across micro-batches instead of re-aggregating the train corpus
    * per batch). */
  final case class LmModel(counts: DataFrame, nTrain: Long, vTrain: Long) {
    def lnDen: Double = math.log((nTrain + vTrain + 1).toDouble)
  }

  /** Aggregate `train` into an add-one unigram [[LmModel]]; the counts
    * table stays persisted (thread-registered) until the consumer
    * releases via [[Caches]]. */
  def lmTrain(train: DataFrame, trainTextCol: String): LmModel = {
    val counts = Caches.registerDf(
      train.select(explode(tokensOf(trainTextCol)).as("__w__"))
        .groupBy(col("__w__")).agg(count(lit(1)).as("__c__")).persist())
    val Array(nTrain, vTrain) = counts
      .agg(coalesce(sum(col("__c__")), lit(0L)), count(lit(1)))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    LmModel(counts, nTrain, vTrain)
  }

  /** CCNet-style language-model quality scoring: per-document average
    * negative log-probability (ln of perplexity) under an add-one
    * unigram LM trained on `train` — the published head/middle/tail
    * quality-bucketing signal (docs unlike the reference corpus score
    * high). `score = (n·ln(N+V+1) − Σ_tokens ln(c_w+1)) / n` with
    * `c_w` the train count (0 for OOV), `N` train tokens, `V` train
    * vocabulary; OOV tokens also counted exactly.
    *
    * Shape: the train corpus collapses map-side to its (word, count)
    * vocabulary; the score corpus explodes once and joins that table on
    * the word (Spark picks broadcast vs shuffle by vocabulary size),
    * per-doc sums partial-aggregate, and only `(N, V)` — two scalars —
    * ever reach the driver. Output floats round to 6 digits (the
    * cosine-export posture). Returns (id, n_tokens, n_oov,
    * avg_neg_logprob). */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
      train: DataFrame, trainTextCol: String): DataFrame =
    lmScoreWith(lmTrain(train, trainTextCol), df, idCol, textCol)

  /** Score against an already-trained [[LmModel]] (see [[lmScore]]). */
  def lmScoreWith(model: LmModel, df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val counts = model.counts
    val lnDen = model.lnDen
    df.select(col(idCol).as("__id__"), explode(tokensOf(textCol)).as("__w__"))
      .join(counts, Seq("__w__"), "left")
      .groupBy(col("__id__"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__c__").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(log(coalesce(col("__c__"), lit(0L)) + 1)).as("__sum_ln__"))
      .select(col("__id__").as(idCol), col("n_tokens"), col("n_oov"),
        round((col("n_tokens") * lnDen - col("__sum_ln__"))
          / col("n_tokens"), 6).as("avg_neg_logprob"))
  }

  /** Per-document bigram stream with a BOS context: for tokens
    * `t1..tn` the pairs are `("", t1), (t1, t2), …, (t(n−1), tn)` —
    * exactly one pair per token, so pair counts ARE token counts. The
    * BOS marker is the empty string, which [[tokensOf]] can never emit
    * (empties are filtered), so it cannot collide with a real token. */
  private def bigramsOf(textCol: String): Column = {
    val toks = tokensOf(textCol)
    val prev = concat(array(lit("")),
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))))
    filter(
      zip_with(prev, toks, (a, b) =>
        struct(a.as("w1"), b.as("w2"))),
      p => p.getField("w2").isNotNull)
  }

  /** Trained interpolated Kneser–Ney bigram model (see [[knScore]]):
    * the persisted bigram count table plus the two scalars of the
    * continuation smoothing denominator — `b` distinct bigram types,
    * `v` distinct continuation tokens. */
  case class KnModel(big: DataFrame, b: Long, v: Long)

  /** Aggregate `train` into a [[KnModel]]; the bigram table stays
    * persisted (thread-registered) until released via [[Caches]]. */
  def knTrain(train: DataFrame, trainTextCol: String): KnModel = {
    val big = Caches.registerDf(
      train.select(explode(bigramsOf(trainTextCol)).as("__p__"))
        .select(col("__p__.w1").as("__w1__"), col("__p__.w2").as("__w2__"))
        .groupBy(col("__w1__"), col("__w2__"))
        .agg(count(lit(1)).as("__c12__")).persist())
    val row = big.agg(count(lit(1)), countDistinct(col("__w2__")))
      .collect().head
    KnModel(big, row.getLong(0), row.getLong(1))
  }

  /** Interpolated Kneser–Ney BIGRAM LM quality scoring — the actual
    * KenLM/CCNet model class ([[lmScore]] is its add-one unigram
    * simplification; Kneser & Ney ICASSP'95, Chen & Goodman TR-10-98):
    * per-document average negative log-probability under
    * `p(w|h) = max(c(h,w) − D, 0)/c(h) + D·N1+(h,·)/c(h) · p_cont(w)`
    * with absolute discount `D = 0.75` (exactly representable — dyadic
    * 3/4, so the discounted counts are exact doubles on both engines)
    * and the continuation distribution add-one smoothed over bigram
    * types: `p_cont(w) = (N1+(·,w) + 1) / (B + V + 1)` (`B` distinct
    * bigram types, `V` distinct continuation tokens) — UNK-free, so
    * any input scores. An unseen context `h` (including OOV) backs off
    * fully to `p_cont(w)`. Each document's first token is scored
    * against a BOS context (the empty string — unreachable as a real
    * token), so every token is scored exactly once. `n_oov` counts
    * tokens outside the train continuation vocabulary.
    *
    * Scale shape: the train corpus collapses map-side to its
    * (w1, w2, count) bigram table; context totals `c(h), N1+(h,·)` and
    * continuation counts `N1+(·,w)` are two further partial-aggregable
    * collapses of that table. The scored corpus explodes once to its
    * own bigram stream and equi-joins the three vocabulary-sized
    * tables (Spark picks broadcast vs shuffle per side; AQE can
    * skew-split a hot function word), per-doc sums partial-aggregate,
    * and only `(B, V)` — two scalars — reach the driver. Output floats
    * round to 6 digits (the [[lmScore]] posture). Returns
    * (id, n_tokens, n_oov, avg_neg_logprob); empty documents have no
    * token pairs and do not appear (the [[lmScore]] contract). */
  def knScore(df: DataFrame, idCol: String, textCol: String,
      train: DataFrame, trainTextCol: String): DataFrame =
    knScoreWith(knTrain(train, trainTextCol), df, idCol, textCol)

  /** Score against an already-trained [[KnModel]] (see [[knScore]]). */
  def knScoreWith(model: KnModel, df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val big = model.big
    val ctx = big.groupBy(col("__w1__"))
      .agg(sum(col("__c12__")).as("__c1__"), count(lit(1)).as("__n1f__"))
    val cont = big.groupBy(col("__w2__"))
      .agg(count(lit(1)).as("__n1b__"))
    val pairs = df.select(col(idCol).as("__id__"),
        explode(bigramsOf(textCol)).as("__p__"))
      .select(col("__id__"), col("__p__.w1").as("__w1__"),
        col("__p__.w2").as("__w2__"))
    val joined = pairs
      .join(big, Seq("__w1__", "__w2__"), "left")
      .join(ctx, Seq("__w1__"), "left")
      .join(cont, Seq("__w2__"), "left")
    val den = lit((model.b + model.v + 1).toDouble)
    val pCont = (coalesce(col("__n1b__"), lit(0L)) + 1).cast("double") / den
    val d = lit(0.75)
    val p = when(col("__c1__").isNotNull,
      greatest(coalesce(col("__c12__"), lit(0L)).cast("double") - d,
        lit(0.0)) / col("__c1__").cast("double")
        + d * col("__n1f__").cast("double") / col("__c1__").cast("double")
          * pCont)
      .otherwise(pCont)
    joined
      .groupBy(col("__id__"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__n1b__").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(-log(p)).as("__nll__"))
      .select(col("__id__").as(idCol), col("n_tokens"), col("n_oov"),
        round(col("__nll__") / col("n_tokens"), 6).as("avg_neg_logprob"))
  }

  /** CCNet perplexity bucketing — the published head/middle/tail
    * quality split (Wenzek et al. LREC'20): every document scores under
    * the trained [[knScore]] bigram model, the corpus is EXACT-rank
    * split into `nBuckets` equal tiles by ascending score (lowest
    * perplexity = head, the "looks most like the reference corpus"
    * tier; rounded score ties broken by id so the order is total on
    * both engines), and each bucket reports its exact membership and
    * the score band it spans. The output is the bucket table a
    * filtering pipeline thresholds on ("keep head+middle, drop tail").
    *
    * Scale shape: the score table is DOC-scale, so a global `ntile`
    * window (whole-corpus sort in ONE task) is banned here — the exact
    * global rank is computed distributed (range-repartition by
    * (score asc, id asc), per-partition `row_number`, |partitions|-row
    * offset prefix sum on the driver — the
    * [[graft.ops.EventAnalytics.concentrationProfile]] r13 shape), and
    * ANSI `NTILE(k)` is pure arithmetic on that rank (first `n mod k`
    * buckets take ⌈n/k⌉ rows) — bit-identical to the window form while
    * every partition sorts only its own range slice. Returns
    * (bucket, n_docs, n_tokens, min_score, max_score) with scores the
    * round-6 [[knScore]] exports. */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
      train: DataFrame, trainTextCol: String,
      nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val spark = df.sparkSession
    val scored = knScore(df, idCol, textCol, train, trainTextCol)
    val sorted = Caches.registerDf(scored
      .repartitionByRange(col("avg_neg_logprob").asc, col(idCol).asc)
      .sortWithinPartitions(col("avg_neg_logprob").asc, col(idCol).asc)
      .withColumn("__pid__", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val partCounts = sorted.groupBy(col("__pid__"))
      .agg(count(lit(1)).as("__c__"))
      .collect().map(r => (r.getAs[Int]("__pid__"), r.getAs[Long]("__c__")))
      .sortBy(_._1)
    val total = partCounts.map(_._2).sum
    var acc = 0L
    val offsets = partCounts.map { case (pid, c) =>
      val row = (pid, acc); acc += c; row
    }
    import spark.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("__pid__", "__off__"))
    val w = Window.partitionBy(col("__pid__"))
      .orderBy(col("avg_neg_logprob").asc, col(idCol).asc)
    val ranked = sorted.join(offDf, Seq("__pid__"))
      .select(col("avg_neg_logprob"), col("n_tokens"),
        (col("__off__") + row_number().over(w)).as("__rank__"))
    // ANSI ntile arithmetic on the exact rank (`div`, not `/` — Divide
    // is DOUBLE and can round across an integer boundary at large n)
    val base = total / nBuckets
    val rem = total % nBuckets
    val cut = rem * (base + 1)
    val bucket =
      if (base == 0L) col("__rank__")
      else when(col("__rank__") <= cut,
          expr(s"(__rank__ - 1) div ${base + 1L}") + 1L)
        .otherwise(lit(rem) +
          expr(s"(__rank__ - ${cut + 1L}) div $base") + 1L)
    ranked.select(bucket.cast("int").as("bucket"),
        col("n_tokens"), col("avg_neg_logprob"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("avg_neg_logprob")).as("min_score"),
        max(col("avg_neg_logprob")).as("max_score"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per-document
    * log-importance `Σ_tokens ln(p_target(b_w)/p_raw(b_w))` over HASHED
    * unigram buckets (`polyHash(w) mod numBuckets`), both distributions
    * add-one smoothed — the cheap learned-distribution-matching filter
    * ("keep web text that looks like Wikipedia"). Positive means the
    * doc looks more like the target than like the raw pool; resample
    * downstream proportionally to `exp(log_w)`.
    *
    * Shape: both corpora collapse map-side to `numBuckets`-row count
    * tables whose PER-BUCKET log-ratio is precomputed and BROADCAST
    * (the model is `numBuckets` doubles — nothing vocabulary-sized
    * ships); the scored corpus explodes once, joins the broadcast
    * bucket table, and per-doc sums partial-aggregate. Bucket counts
    * are computed with one exchange of (bucket, count) partials.
    * Returns (id, n_tokens, log_w rounded 6). */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String, numBuckets: Int): DataFrame = {
    require(numBuckets >= 2 && numBuckets <= (1 << 20),
      s"numBuckets in [2, 2^20], got $numBuckets")
    def bucket(t: Column): Column =
      graft.functions.NativeHashes.poly_hash(t) % numBuckets
    def bucketCounts(d: DataFrame, tc: String) =
      d.select(explode(tokensOf(tc)).as("__w__"))
        .groupBy(bucket(col("__w__")).as("__b__"))
        .agg(count(lit(1)).as("__c__"))
    val tCounts = bucketCounts(target, targetTextCol)
      .withColumnRenamed("__c__", "__ct__")
    val rCounts = bucketCounts(df, textCol)
      .withColumnRenamed("__c__", "__cr__")
    // numBuckets-row model: ln((ct+1)) - ln((cr+1)) per bucket; the
    // N-dependent constant folds into one scalar applied per token
    val model = tCounts.join(rCounts, Seq("__b__"), "full")
      .select(col("__b__"),
        (log(coalesce(col("__ct__"), lit(0L)) + 1)
          - log(coalesce(col("__cr__"), lit(0L)) + 1)).as("__lr__"))
    val Array(nT, nR) = Seq(
      target.select(explode(tokensOf(targetTextCol)).as("w")),
      df.select(explode(tokensOf(textCol)).as("w")))
      .map(_.agg(count(lit(1))).collect().head.getLong(0)).toArray
    val c = math.log((nR + numBuckets).toDouble) -
      math.log((nT + numBuckets).toDouble)
    df.select(col(idCol).as("__id__"), explode(tokensOf(textCol)).as("__w__"))
      .join(broadcast(model), bucket(col("__w__")) === col("__b__"), "left")
      .groupBy(col("__id__"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__lr__"), lit(0.0))).as("__s__"))
      .select(col("__id__").as(idCol), col("n_tokens"),
        round(col("__s__") + col("n_tokens") * c, 6).as("log_w"))
  }

  /** Dictionary (gazetteer) phrase matching: occurrence counts of each
    * phrase — a consecutive, lowercased token sequence — per document.
    * The entity-tagging / blocklist-hit primitive.
    *
    * Scale shape: the corpus side explodes once per DISTINCT phrase
    * token-length (a doc of n tokens emits ~n L-gram strings per length
    * L present in the dictionary — lengths, not phrases, drive the
    * fan-out), and the dictionary broadcasts into an equi-join that
    * prunes non-hits at the first shuffle boundary, so corpus volume
    * rides exactly one explode per length and non-matching grams never
    * leave the map side. A single-pass Aho-Corasick `mapPartitions`
    * would scan text once instead of once per length; the explode form
    * keeps the whole pipeline in codegen'd builtins and its output is
    * the same — swap only if profile says the lengths dominate.
    * Returns (id, phrase, n) for phrases with ≥ 1 hit. */
  def gazetteerMatch(df: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "empty gazetteer")
    val norm = phrases.map(p => p.toLowerCase.split("\\s+").toSeq)
    require(norm.forall(_.nonEmpty), "blank phrase in gazetteer")
    val spark = df.sparkSession
    import spark.implicits._
    val dict = broadcast(
      norm.map(ws => (ws.mkString(" "), ws.length)).distinct
        .toDF("phrase", "__len__"))
    val toks = df.select(col(idCol).as("__id__"),
      split(lower(col(textCol)), "\\s+").as("__toks__"))
    // sequence(1, n) steps DOWNWARD when n < 1 — docs shorter than the
    // phrase can't match, filter them before the gram transform
    val byLen = norm.map(_.length).distinct.sorted.map { l =>
      toks.filter(size(col("__toks__")) >= l)
        .select(col("__id__"), explode(transform(
          sequence(lit(1), size(col("__toks__")) - (l - 1)),
          i => array_join(slice(col("__toks__"), i, lit(l)), " ")))
        .as("__gram__"))
        .withColumn("__len__", lit(l))
    }.reduce(_.unionAll(_))
    byLen.join(dict, byLen("__gram__") === dict("phrase") &&
        byLen("__len__") === dict("__len__"))
      .groupBy(col("__id__").as(idCol), col("phrase"))
      .agg(count(lit(1)).as("n"))
      .select(col(idCol), col("phrase"), col("n"))
  }

  /** Single-pass Aho-Corasick twin of [[gazetteerMatch]]: the automaton
    * (token-level goto/fail/output links) is built ONCE on the driver
    * from the dictionary and ships with the closure, and every document
    * is scanned in one O(tokens + hits) pass regardless of how many
    * distinct phrase lengths the dictionary holds — the swap the
    * explode form's Scaladoc promises when per-length explodes dominate
    * the profile. `mapPartitions` is justified here exactly as in
    * `Multimodal`: the automaton walk is imperative state no Catalyst
    * expression composition expresses. Value-identical to
    * [[gazetteerMatch]] (overlapping occurrences, suffix phrases, case
    * fold — the spec cross-validates); requires a long-castable id.
    * Returns (id, phrase, n). */
  def gazetteerMatchAC(df: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "empty gazetteer")
    val norm = phrases.map(p => p.toLowerCase.split("\\s+").toSeq)
    require(norm.forall(_.nonEmpty), "blank phrase in gazetteer")
    val pats = norm.map(ws => ws.mkString(" ") -> ws)
      .foldLeft(Vector.empty[(String, Seq[String])]) { (acc, p) =>
        if (acc.exists(_._1 == p._1)) acc else acc :+ p
      }
    // trie with goto links
    import scala.collection.mutable
    val trans = mutable.ArrayBuffer(mutable.HashMap.empty[String, Int])
    val outB = mutable.ArrayBuffer(List.empty[Int])
    pats.zipWithIndex.foreach { case ((_, ws), pi) =>
      var s = 0
      ws.foreach { w =>
        s = trans(s).getOrElseUpdate(w, {
          trans += mutable.HashMap.empty[String, Int]
          outB += Nil
          trans.length - 1
        })
      }
      outB(s) = pi :: outB(s)
    }
    // BFS fail links; outputs accumulate down the fail chain (fail
    // targets are shallower, so they are finalized before their users)
    val fail = new Array[Int](trans.length)
    val queue = mutable.Queue[Int]()
    trans(0).valuesIterator.foreach(queue.enqueue(_))
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      trans(u).foreach { case (w, v) =>
        queue.enqueue(v)
        var f = fail(u)
        while (f != 0 && !trans(f).contains(w)) f = fail(f)
        val fv = trans(f).get(w).filter(_ != v).getOrElse(0)
        fail(v) = fv
        outB(v) = outB(v) ::: outB(fv)
      }
    }
    val transA: Array[Map[String, Int]] = trans.map(_.toMap).toArray
    val failA: Array[Int] = fail
    val outA: Array[Array[Int]] = outB.map(_.toArray).toArray
    val labels: Array[String] = pats.map(_._1).toArray
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"),
        lower(coalesce(col(textCol), lit(""))))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, t) =>
          val toks = t.split("\\s+")
          val cnt = new Array[Long](labels.length)
          var s = 0
          var i = 0
          while (i < toks.length) {
            val w = toks(i)
            while (s != 0 && !transA(s).contains(w)) s = failA(s)
            s = transA(s).getOrElse(w, 0)
            val os = outA(s)
            var j = 0
            while (j < os.length) { cnt(os(j)) += 1; j += 1 }
            i += 1
          }
          labels.indices.iterator.filter(cnt(_) > 0)
            .map(pi => (id, labels(pi), cnt(pi)))
        }
      }.toDF(idCol, "phrase", "n")
  }

  /** χ²-scored distinctive keywords per class — the "which words
    * characterize THIS source/language against the rest" signal
    * (complementing [[tfidfKeywords]], which scores within a document,
    * not across classes). For each (word, class), the 2×2 document-
    * frequency contingency (in-class-with-word n11, elsewhere-with-word
    * n10, in-class-without n01, elsewhere-without n00) scores
    * `χ² = N·(n11·n00 − n10·n01)² / ((n11+n10)(n01+n00)(n11+n01)(n10+n00))`,
    * and the top `topK` words per class survive (χ² desc, word asc).
    *
    * Shape: distinct per-doc word presence explodes once, then three
    * partial-aggregable counts (word-class cells, word df, class
    * sizes); the χ² arithmetic is per-row from exact integers (cast to
    * double in ONE fixed expression order — engine-identical), and the
    * per-class top-k is a rank window over |classes| partitions that
    * `WindowGroupLimit` prunes map-side. `minDf` drops hapax words
    * before the cells table forms. Returns (class, word, n11, df,
    * class_n, n_docs, chi2, rank). */
  def chi2Keywords(df: DataFrame, idCol: String, classCol: String,
      textCol: String, topK: Int = 5, minDf: Long = 2): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val base = df.select(col(idCol).as("__id__"),
      col(classCol).cast("string").as("__cls__"),
      array_distinct(tokensOf(textCol)).as("__ws__"))
    val nDocs = base.agg(count(lit(1)).as("n_docs"))
    val classN = base.groupBy(col("__cls__"))
      .agg(count(lit(1)).as("class_n"))
    val pres = base.select(col("__cls__"), col("__id__"),
      explode(col("__ws__")).as("__w__"))
    val cells = pres.groupBy(col("__w__"), col("__cls__"))
      .agg(count(lit(1)).as("n11"))
    val wordDf = cells.groupBy(col("__w__"))
      .agg(sum(col("n11")).as("df"))
      .filter(col("df") >= minDf)
    val scored = cells
      .join(wordDf, Seq("__w__"))
      .join(broadcast(classN), Seq("__cls__"))
      .crossJoin(broadcast(nDocs))
      .withColumn("__n10__", col("df") - col("n11"))
      .withColumn("__n01__", col("class_n") - col("n11"))
      .withColumn("__n00__",
        col("n_docs") - col("df") - col("class_n") + col("n11"))
      .withColumn("chi2", round(
        col("n_docs").cast("double") *
          ((col("n11") * col("__n00__") - col("__n10__") * col("__n01__"))
            .cast("double") *
           (col("n11") * col("__n00__") - col("__n10__") * col("__n01__"))
            .cast("double")) /
          (col("df").cast("double") *
           (col("n_docs") - col("df")).cast("double") *
           col("class_n").cast("double") *
           (col("n_docs") - col("class_n")).cast("double")), 6))
      // degenerate margins (word in every doc / single-class corpus)
      // have zero variance — χ² undefined, dropped
      .filter(col("df") < col("n_docs") && col("class_n") < col("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__cls__"))
      .orderBy(col("chi2").desc, col("__w__").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("__cls__").as(classCol), col("__w__").as("word"),
        col("n11"), col("df"), col("class_n"), col("n_docs"),
        col("chi2"), col("rank"))
  }

  /** Leave-one-out target encoding — the leakage-safe categorical
    * feature: each row's category is replaced by the mean target of the
    * OTHER rows in its category, `(Σ_group − y) / (n_group − 1)`, so a
    * row never sees its own label (plain group-mean encoding leaks the
    * target into the feature and inflates every downstream validation
    * score — the tabular-ML sibling of the [[graft.ops.Dedup]]
    * decontamination rule). `targetCol` must be integral (micro-scale
    * upstream, the house rule): the encode leaves the plan as the exact
    * integer pair `(loo_num, loo_den)` plus a presentation-only double,
    * so two engines agree to the bit and the caller can re-derive any
    * precision. Singleton categories (n = 1) have no peers — encode is
    * null, the caller's global-prior fallback decision, not ours.
    *
    * Shape: one partial-aggregable per-category collapse (sum + count)
    * joined back on the category key — the [[kAnonymize]] join-back
    * discipline, null-safe on the key so NULL categories encode like
    * any other value; AQE splits a hot category. Nothing windows,
    * nothing leaves per-row except the row's own arithmetic. */
  def targetEncodeLoo(df: DataFrame, idCol: String, catCol: String,
      targetCol: String): DataFrame = {
    val tt = df.schema(targetCol).dataType
    val integral = {
      import org.apache.spark.sql.types._
      tt == ByteType || tt == ShortType || tt == IntegerType ||
        tt == LongType
    }
    require(integral,
      s"targetEncodeLoo needs an integral target (scale to micros " +
        s"upstream); '$targetCol' is $tt")
    val grp = df.groupBy(col(catCol).as("__cat__"))
      .agg(sum(col(targetCol)).cast("long").as("__sum__"),
        count(lit(1)).as("__n__"))
    df.select(col(idCol), col(catCol), col(targetCol))
      .join(grp, col(catCol) <=> col("__cat__"))
      .select(col(idCol), col(catCol), col(targetCol),
        when(col("__n__") > 1, col("__sum__") - col(targetCol))
          .as("loo_num"),
        when(col("__n__") > 1, col("__n__") - 1).as("loo_den"),
        when(col("__n__") > 1,
          round((col("__sum__") - col(targetCol)).cast("double") /
            (col("__n__") - 1), 6)).as("loo_mean"))
  }
}
