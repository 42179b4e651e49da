package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table profiling — the ANALYZE-style summary a pipeline records per
  * snapshot: row/null/distinct counts and min/max per column, computed
  * in ONE scan (a single aggregation with every statistic as a column,
  * reshaped to per-column rows afterwards — not one job per column).
  */
object Profiling {

  /** One profile row per requested column:
    * (col_name, n_rows, n_null, n_distinct, min_value, max_value), with
    * the extrema cast to strings so heterogeneous column types share one
    * schema. Exact `count_distinct` — Catalyst plans the multi-distinct
    * aggregation with one Expand pass (rows × |cols|); swap
    * `approx_count_distinct` in at extreme widths where ±2% is fine. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs: Seq[Column] = count(lit(1)).as("__n__") +: cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
        countDistinct(col(c)).as(s"__dist_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val perCol = cols.map(c => struct(
      lit(c).as("col_name"), col("__n__").as("n_rows"),
      col(s"__null_$c").as("n_null"), col(s"__dist_$c").as("n_distinct"),
      col(s"__min_$c").as("min_value"), col(s"__max_$c").as("max_value")))
    one.select(explode(array(perCol: _*)).as("p"))
      .select(col("p.col_name"), col("p.n_rows"), col("p.n_null"),
        col("p.n_distinct"), col("p.min_value"), col("p.max_value"))
  }

  /** Pairwise co-missingness — [[profile]] tells you THAT 30% of
    * `email` is null; this tells you those nulls are the SAME rows
    * where `phone` is null (one broken upstream join), or disjoint
    * rows (two independent causes): for every ordered column pair,
    * exact counts of rows null in A, null in B, null in BOTH, and in
    * NEITHER. ONE scan — all |cols|² counters ride a single aggregate
    * row ([[corrMatrix]]'s posture), reshaped to pair rows afterwards;
    * nothing shuffles but one row. */
  def missingness(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "missingness needs at least two columns")
    val pairs = for (a <- cols; b <- cols if a < b) yield (a, b)
    val aggs: Seq[Column] = count(lit(1)).as("__n__") +:
      (cols.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__na_$c")) ++
        pairs.map { case (a, b) =>
          sum(when(col(a).isNull && col(b).isNull, 1L).otherwise(0L))
            .as(s"__nb_${a}_$b")
        })
    val one = df.agg(aggs.head, aggs.tail: _*)
    val perPair = pairs.map { case (a, b) => struct(
      lit(a).as("col_a"), lit(b).as("col_b"), col("__n__").as("n_rows"),
      col(s"__na_$a").as("null_a"), col(s"__na_$b").as("null_b"),
      col(s"__nb_${a}_$b").as("null_both"),
      (col("__n__") - col(s"__na_$a") - col(s"__na_$b") +
        col(s"__nb_${a}_$b")).as("null_neither"))
    }
    one.select(explode(array(perPair: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("p.n_rows"),
        col("p.null_a"), col("p.null_b"), col("p.null_both"),
        col("p.null_neither"))
  }

  /** Exact equi-width histogram of an integral column over the closed
    * domain `[lo, hi]`: value `v` lands in bucket
    * `((v - lo) · nBuckets) div (hi - lo + 1)` — all-integer, so every
    * boundary value bins identically across engines (float bucket width
    * would mis-bin values sitting on a boundary by one ulp). Rows
    * outside the domain are counted in `n_below` / `n_above` guard rows
    * (bucket -1 and nBuckets) rather than silently dropped or clamped
    * into the edge buckets. Empty buckets are emitted with n = 0 via a
    * join against the generated bucket range.
    *
    * One partial-aggregable pass over the data; the bucket grid is
    * nBuckets rows. Returns (bucket, n, min_value, max_value) with
    * observed extrema per bucket (null when empty). */
  def histogram(df: DataFrame, valueCol: String, lo: Long, hi: Long,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 1 && hi >= lo,
      s"need nBuckets >= 1 and hi >= lo, got [$lo, $hi] x $nBuckets")
    val span = hi - lo + 1
    val v = col(valueCol).cast("long")
    val b = when(v < lo, lit(-1L)).when(v > hi, lit(nBuckets.toLong))
      .otherwise(expr(s"(CAST($valueCol AS BIGINT) - $lo) * $nBuckets div $span"))
    val observed = df.groupBy(b.as("bucket"))
      .agg(count(lit(1)).as("n"), min(v).as("min_value"),
        max(v).as("max_value"))
    val grid = df.sparkSession.range(-1L, nBuckets + 1L)
      .select(col("id").as("bucket"))
    grid.join(observed, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("n"), lit(0L)).as("n"),
        col("min_value"), col("max_value"))
  }

  /** Per-key equi-DEPTH binning (`ntile`): each key's rows split into
    * `nBins` rank-contiguous bins of near-equal COUNT in
    * `(valueCol, idCol)` order — the feature-discretization twin of the
    * equi-width [[histogram]] (quantile bins adapt to the distribution;
    * width bins adapt to the domain). The id tie-break makes equal
    * values bin deterministically; `ntile`'s ANSI fill order (first
    * `n mod nBins` bins take the extra row) is identical in both
    * engines.
    *
    * Shape: one key-partitioned window — a key costs its own row count.
    * Returns the input plus a `bin` column (1-based). */
  def equiDepthBins(df: DataFrame, keyCol: String, valueCol: String,
      idCol: String, nBins: Int): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(col(valueCol).asc, col(idCol).asc)
    df.withColumn("bin", ntile(nBins).over(w))
  }

  /** Categorical distribution drift between two corpus snapshots/shards
    * (language mix shift, source mix shift, event-type mix shift — the
    * monitor that catches a silently broken upstream feed): per category,
    * the two-proportion test `|a/N₁ − b/N₂| > t` evaluated ENTIRELY in
    * integer arithmetic via cross-multiplication —
    * `|a·N₂ − b·N₁| · tDen > tNum · N₁ · N₂` for the rational threshold
    * `t = tNum/tDen` — so no engine ever divides and every boundary
    * category flags identically. Products run in decimal(38,0):
    * 100 TB-scale counts (10¹²) square to 10²⁴, far past Long.
    *
    * Shape: one partial-aggregable count per side (|categories| rows
    * each), totals as single-row broadcasts, full-outer on category so a
    * category PRESENT in one side and absent in the other still flags
    * (missing → 0 — the most drifted case a left join would drop).
    * Returns (category, n_old, n_new, diff_cross, drift). */
  def categoryDrift(oldDf: DataFrame, newDf: DataFrame, catCol: String,
      tNum: Int, tDen: Int): DataFrame = {
    require(tNum >= 0 && tDen > 0, s"threshold must be >= 0, got $tNum/$tDen")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    def counts(df: DataFrame, n: String) =
      df.groupBy(col(catCol).as("category")).agg(count(lit(1)).as(n))
    def total(df: DataFrame, n: String) =
      df.agg(count(lit(1)).cast(dec).as(n))
    val a = counts(oldDf, "n_old")
    val b = counts(newDf, "n_new")
    a.join(b, Seq("category"), "full_outer")
      .na.fill(0L, Seq("n_old", "n_new"))
      .crossJoin(broadcast(total(oldDf, "__N1__")))
      .crossJoin(broadcast(total(newDf, "__N2__")))
      .withColumn("diff_cross",
        (col("n_old").cast(dec) * col("__N2__") -
          col("n_new").cast(dec) * col("__N1__")).cast(dec))
      .withColumn("drift",
        abs(col("diff_cross")) * tDen > col("__N1__") * col("__N2__") * tNum)
      .select(col("category"), col("n_old"), col("n_new"),
        col("diff_cross"), col("drift"))
  }

  /** Per-key robust outlier flags via MAD (median absolute deviation):
    * flag rows with `|v − median| > k · MAD` — the robust z-score, which
    * unlike the mean/stddev z² test ([[graft.ops.EventAnalytics
    * .anomalousBuckets]]) is immune to the outliers poisoning their own
    * baseline. All comparisons are EXACT: medians of integers are
    * integral or half-integral, so deviations are carried DOUBLED
    * (`dev2 = |2v − 2·med|`, a long) and the MAD quadrupled
    * (`mad4 = 2 · median(dev2)`), making the flag the all-integer
    * comparison `2·dev2 > k·mad4` — no float ever enters, both engines
    * agree on every boundary row.
    *
    * Shape: two partial-aggregable median passes (per-key exact
    * `median`; at extreme key cardinality swap `approx_percentile`,
    * same shape) + two broadcast join-backs of |keys|-row tables — the
    * data never shuffles. Returns the input plus (dev2, outlier). */
  def madOutliers(df: DataFrame, keyCol: String, valueCol: String,
      k: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val med2 = df.groupBy(col(keyCol))
      .agg((median(col(valueCol)) * 2).cast("long").as("__med2__"))
    val dev = df.join(broadcast(med2), Seq(keyCol))
      .withColumn("dev2",
        abs(col(valueCol).cast("long") * 2 - col("__med2__")))
    val mad4 = dev.groupBy(col(keyCol))
      .agg((median(col("dev2")) * 2).cast("long").as("__mad4__"))
    dev.join(broadcast(mad4), Seq(keyCol))
      .withColumn("outlier", col("dev2") * 2 > col("__mad4__") * k)
      .drop("__med2__", "__mad4__")
  }

  /** Per-source duplication health — the crawl-feed monitor that says
    * WHICH upstream is re-sending content before corpus-wide dedup
    * silently absorbs it: per key, total docs vs sha-256-distinct
    * texts, with a `dup_heavy` flag when the duplicate fraction
    * crosses `pctNum/pctDen` (integer cross-multiplication in
    * decimal(38,0), strict >). Collision-safe exact keying like
    * [[graft.ops.Dedup.exactKeepers]].
    *
    * Shape: one partial-aggregable pass (count + distinct-count per
    * key); output is |keys|-sized. */
  def duplicationProfile(df: DataFrame, keyCol: String, textCol: String,
      pctNum: Int, pctDen: Int): DataFrame = {
    require(pctNum >= 0 && pctDen > 0, s"bad threshold $pctNum/$pctDen")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(sha2(col(textCol), 256)).as("n_distinct"))
      .withColumn("n_dups", col("n_docs") - col("n_distinct"))
      .withColumn("dup_heavy",
        col("n_dups").cast(dec) * pctDen > col("n_docs").cast(dec) * pctNum)
  }

  /** Join-key skew profile — the pre-join diagnostic that decides
    * between a plain shuffle join, [[graft.ops.Skew.saltedJoin]], and a
    * broadcast: the `topN` heaviest keys with exact counts and a `hot`
    * flag for keys holding more than `pctNum/pctDen` of the table,
    * evaluated by integer cross-multiplication
    * (`n·pctDen > pctNum·total` in decimal(38,0) — boundary keys flag
    * identically in both engines).
    *
    * Shape: one partial-aggregable count (the table collapses
    * map-side), a single-row total broadcast, and a `rank <= topN`
    * window over the |keys|-row count table. Null keys count as a key —
    * they are the most common skew culprit a profiler must not hide. */
  /** EXACT join-cardinality profile WITHOUT materializing the join —
    * the other pre-join diagnostic next to [[keySkew]]: for an
    * equi-join on `keyCol`, `|A ⋈ B| = Σ_k a_k·b_k`, computed from the
    * two |keys|-sized count tables. Answers "will this join explode,
    * and which keys explode it" for the cost of two partial-aggregable
    * counts + a |keys|-row join — against a join that might be 10¹⁵
    * rows, this is the difference between planning and discovering.
    * Returns the topN contributing keys (n_left, n_right, n_out, rank)
    * plus a `(total)` row with the full join cardinality; products in
    * decimal(38,0). */
  def joinSizeProfile(a: DataFrame, b: DataFrame, keyCol: String,
      topN: Int): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val ca = a.groupBy(col(keyCol)).agg(count(lit(1)).as("n_left"))
    val cb = b.groupBy(col(keyCol)).agg(count(lit(1)).as("n_right"))
    val contrib = ca.join(cb, Seq(keyCol))
      .withColumn("n_out",
        (col("n_left").cast(dec) * col("n_right")).cast(dec))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_out").desc, col(keyCol).asc)
    val top = contrib.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col(keyCol).cast("string").as("key"), col("n_left"),
        col("n_right"), col("n_out"), col("rank"))
    val total = contrib.agg(
      sum(col("n_left")).as("n_left"), sum(col("n_right")).as("n_right"),
      sum(col("n_out")).cast(dec).as("n_out"))
      .select(lit("(total)").as("key"), col("n_left"), col("n_right"),
        col("n_out"), lit(0).as("rank"))
    top.unionByName(total)
  }

  /** Exact PRECISION/RECALL CURVE for an integer-valued classifier
    * score against a boolean label — the table a corpus-filter
    * threshold is tuned from ("what do I keep and what do I lose at
    * cutoff s"). One row per DISTINCT observed score s, with the exact
    * confusion counts of the rule `keep iff score >= s`:
    * (tp, fp, fn, tn) — precision/recall/F1 are the caller's divisions,
    * so nothing float ever leaves the plan.
    *
    * Scores must be integral (milli-quantize upstream): quantization is
    * what BOUNDS the curve table. Shape: one partial-aggregable
    * (score → pos, neg) pass collapses the corpus; the descending
    * cumulative runs over that BOUNDED table only (the
    * [[graft.ops.EventAnalytics.concentrationProfile]] precedent — a
    * global window is fine when its input is quantization-bounded, and
    * wrong when it isn't). */
  def prCurve(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    requireIntegral(df, scoreCol, "prCurve")
    val perScore = df.groupBy(col(scoreCol).cast("long").as("score"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("__pos__"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("__neg__"))
    val wDesc = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val totals = perScore.agg(sum(col("__pos__")).as("__P__"),
      sum(col("__neg__")).as("__N__"))
    perScore
      .withColumn("tp", sum(col("__pos__")).over(wDesc))
      .withColumn("fp", sum(col("__neg__")).over(wDesc))
      .crossJoin(broadcast(totals))
      .select(col("score"), col("tp"), col("fp"),
        (col("__P__") - col("tp")).as("fn"),
        (col("__N__") - col("fp")).as("tn"))
  }

  /** Cumulative Poisson(1) thresholds for the bootstrap's inverse-CDF
    * draw, truncated at weight 5 (covers 1 − 6·10⁻⁵ of the mass; the
    * truncation rule is part of the cross-engine contract). */
  private val poissonCum = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563)

  /** Poisson-bootstrap confidence interval for a per-group mean in ONE
    * pass over the data — the at-scale bootstrap (resampling n rows B
    * times is a non-starter at 100 TB; giving every row B independent
    * Poisson(1) weights is one bounded fan-out and keeps every
    * aggregation partial). Weights are CONTENT-ADDRESSED: replicate b's
    * weight for a row is the inverse Poisson CDF at
    * `u = polyHash(id ⊕ b) / 10⁶` — no RNG state, identical across
    * engines, reruns, and partitionings. Replicate means are exact
    * integer-sum ratios (`Σw·x / Σw`, one double division — no float
    * accumulation anywhere), so the whole statistic is engine-exact.
    * Empty replicates (Σw = 0) are excluded by contract; percentile
    * ranks are nearest-rank over the surviving means.
    *
    * Returns per group: n, mean (exact Σx/n), ci_lo, ci_hi at
    * `alpha` (two-sided), n_reps surviving.
    *
    * Scale shape: one B-way per-row fan-out (B ≈ 40, bounded) → ONE
    * partial-aggregable groupBy on (group, b) → a |groups|-sized
    * collect of B means each. `valueCol` must be integral so the
    * replicate sums stay exact. */
  def bootstrapCI(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, b: Int = 40, alpha: Double = 0.05): DataFrame = {
    require(b >= 4, s"need at least 4 replicates, got $b")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val it = df.schema(valueCol).dataType
    val decimalScaleOk = it match {
      case d: org.apache.spark.sql.types.DecimalType => d.scale == 0
      case _ => false
    }
    require(Seq("long", "int", "smallint", "tinyint").contains(it.typeName)
      || decimalScaleOk,
      s"bootstrapCI needs an integral value column (a fractional decimal " +
        s"would silently truncate); '$valueCol' is $it")
    val u = pmod(graft.functions.NativeHashes.poly_hash(
        concat(col(idCol).cast("string"), lit("_"),
          col("__b__").cast("string"))), lit(1000000L))
      .cast("double") / 1000000.0
    val w = poissonCum.zipWithIndex.foldRight(lit(5L): Column) {
      case ((t, i), rest) => when(u < t, i.toLong).otherwise(rest)
    }
    val reps = df.select(col(groupCol), col(idCol),
        col(valueCol).cast("long").as("__x__"),
        explode(sequence(lit(0), lit(b - 1))).as("__b__"))
      .select(col(groupCol), col("__b__"), col("__x__"), w.as("__w__"))
      .groupBy(col(groupCol), col("__b__"))
      .agg(sum(col("__w__") * col("__x__")).as("__wx__"),
        sum(col("__w__")).as("__ws__"))
      .filter(col("__ws__") > 0)
      .select(col(groupCol),
        (col("__wx__").cast("double") / col("__ws__").cast("double"))
          .as("__m__"))
    val perGroup = reps.groupBy(col(groupCol))
      .agg(sort_array(collect_list(col("__m__"))).as("__ms__"))
    val base = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol).cast("long")).as("__sx__"))
    val nReps = size(col("__ms__"))
    // nearest-rank (1-based): lo = floor(α/2·R)+1, hi = ceil((1−α/2)·R)
    val loIdx = floor(lit(alpha / 2) * nReps.cast("double"))
      .cast("int") + 1
    val hiIdx = ceil(lit(1 - alpha / 2) * nReps.cast("double")).cast("int")
    base.join(perGroup, Seq(groupCol))
      .select(col(groupCol), col("n"),
        (col("__sx__").cast("double") / col("n").cast("double")).as("mean"),
        element_at(col("__ms__"), loIdx).as("ci_lo"),
        element_at(col("__ms__"), hiIdx).as("ci_hi"),
        nReps.cast("long").as("n_reps"))
  }

  /** Calibration profile + expected calibration error for a scored
    * binary classifier — the reliability diagram behind every model
    * card (a filter whose 0.9-confidence bucket is right 60% of the
    * time is lying about 0.9). Scores are integral milli-units
    * ([0, 1000]); bin b = min(⌊score/100⌋, 9). Per bin: n, confidence
    * (exact mean score ratio) and accuracy (exact positive ratio) as
    * single divisions; `ece = Σ |acc−conf|·n/N` folded in BIN ORDER
    * over the ≤10 bins (the [[psi]] determinism posture), rounded 6dp.
    *
    * Scale shape: ONE partial-aggregable pass on the 10-bin key space;
    * everything after is bin-sized. */
  def calibration(df: DataFrame, scoreMilCol: String,
      labelCol: String): DataFrame = {
    val bin = least(floor(col(scoreMilCol).cast("long") / 100), lit(9L))
      .cast("int")
    val grid = df.select(bin.as("bin"),
        col(scoreMilCol).cast("long").as("__s__"),
        when(col(labelCol), 1L).otherwise(0L).as("__y__"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__s__")).as("__ss__"),
        sum(col("__y__")).as("__sy__"))
      .withColumn("conf_mil", col("__ss__").cast("double") /
        col("n").cast("double"))
      .withColumn("acc_mil", col("__sy__").cast("double") * 1000.0 /
        col("n").cast("double"))
    val total = grid.agg(sum(col("n")).as("__nt__"))
    val scored = grid.crossJoin(broadcast(total))
      .withColumn("__term__",
        abs(col("acc_mil") - col("conf_mil")) *
          (col("n").cast("double") / col("__nt__").cast("double")))
    val ece = scored
      .agg(sort_array(collect_list(struct(col("bin"), col("__term__"))))
        .as("ts"))
      .select(round(aggregate(col("ts"), lit(0.0),
        (a, t) => a + t.getField("__term__")), 6).as("ece_mil"))
    scored.crossJoin(broadcast(ece))
      .select(col("bin"), col("n"),
        round(col("conf_mil"), 6).as("conf_mil"),
        round(col("acc_mil"), 6).as("acc_mil"), col("ece_mil"))
  }

  /** Benford first-significant-digit conformance per group — the
    * classic numeric-data forensics test (organic multiplicative
    * quantities follow P(d) = log10(1 + 1/d); fabricated, truncated, or
    * synthetic columns don't, and the χ² against the Benford curve says
    * so per SOURCE, naming the feed to audit). The value column must be
    * a positive integral (quantize upstream); the first digit comes
    * from the decimal rendering, exact in both engines. Per (group,
    * digit 1..9): observed count and the χ² term
    * `(o − n·p)² / (n·p)` (p computed as `ln(1+1/d)/ln 10` — same
    * libm calls both sides); `chi2` is the digit-ordered fold and
    * `benford_ok` compares it to the χ²(8 df, α=0.05) critical value
    * 15.51. One partial-aggregable pass on the (group, digit) key
    * space; output is 9·|groups| rows. */
  def benford(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val firstDigit = substring(col(valueCol).cast("long").cast("string"),
      1, 1).cast("int")
    val counts = df.filter(col(valueCol).cast("long") > 0)
      .select(col(groupCol), firstDigit.as("digit"))
      .groupBy(col(groupCol), col("digit"))
      .agg(count(lit(1)).as("observed"))
    val digits = broadcast((1 to 9).toDF("digit"))
    val grid = counts.select(col(groupCol)).distinct()
      .crossJoin(digits)
      .join(counts, Seq(groupCol, "digit"), "left")
      .select(col(groupCol), col("digit"),
        coalesce(col("observed"), lit(0L)).as("observed"))
    val totals = grid.groupBy(col(groupCol))
      .agg(sum(col("observed")).as("__n__"))
    val p = log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
      log(lit(10.0))
    val e = col("__n__").cast("double") * p
    val scored = grid.join(totals, Seq(groupCol))
      .withColumn("__term__",
        (col("observed").cast("double") - e) *
          (col("observed").cast("double") - e) / e)
    val chi = scored.groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(col("digit"), col("__term__"))))
        .as("__ts__"))
      .select(col(groupCol),
        round(aggregate(col("__ts__"), lit(0.0),
          (a, t) => a + t.getField("__term__")), 6).as("chi2"))
    scored.join(chi, Seq(groupCol))
      .select(col(groupCol), col("digit"), col("observed"),
        round(col("__term__"), 6).as("term"), col("chi2"),
        (col("chi2") < 15.51).as("benford_ok"))
  }

  /** NDCG@k ranking evaluation — the retrieval/recommender quality gate
    * (RRF fusion and the ANN stack produce rankings; this scores them
    * against ground-truth relevance before they ship). Inputs: a
    * `ranking` (query, item, rank 1..k) and a `truth` (query, item,
    * rel ≥ 0) table. Per query:
    * `dcg = Σ rel(item@r) / log2(r+1)` over the ranking,
    * `idcg` the same sum over the query's relevances sorted descending
    * (top k), `ndcg = dcg/idcg` (0 when the query has no relevant
    * items). Both sums are RANK-ORDERED folds over ≤ k doubles (the
    * [[psi]] determinism posture — rel and rank are integers, each term
    * one division by the same libm log2), so the score is
    * engine-reproducible.
    *
    * Scale shape: one ranking↔truth left join on (query, item), two
    * k-bounded per-query folds, |queries| output rows. */
  def ndcg(ranking: DataFrame, truth: DataFrame, queryCol: String,
      itemCol: String, rankCol: String, relCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val r = ranking.filter(col(rankCol) <= k)
      .select(col(queryCol), col(itemCol), col(rankCol).cast("int").as("__r__"))
    val t = truth.select(col(queryCol), col(itemCol),
      col(relCol).cast("long").as("__rel__"))
    val joined = r.join(t, Seq(queryCol, itemCol), "left")
      .select(col(queryCol), col("__r__"),
        coalesce(col("__rel__"), lit(0L)).as("__rel__"))
    val dcg = joined.groupBy(col(queryCol))
      .agg(sort_array(collect_list(struct(col("__r__"), col("__rel__"))))
        .as("__rs__"))
      .select(col(queryCol),
        aggregate(col("__rs__"), lit(0.0), (a, s) =>
          a + s.getField("__rel__").cast("double") /
            (log(s.getField("__r__").cast("double") + 1.0) / log(lit(2.0))))
          .as("__dcg__"))
    // ideal ordering: relevance desc (item asc tie-break), top k
    val iw = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryCol))
      .orderBy(col("__rel__").desc, col(itemCol).asc)
    val idcg = t.filter(col("__rel__") > 0)
      .withColumn("__ir__", row_number().over(iw))
      .filter(col("__ir__") <= k)
      .groupBy(col(queryCol))
      .agg(sort_array(collect_list(struct(col("__ir__"), col("__rel__"))))
        .as("__is__"))
      .select(col(queryCol),
        aggregate(col("__is__"), lit(0.0), (a, s) =>
          a + s.getField("__rel__").cast("double") /
            (log(s.getField("__ir__").cast("double") + 1.0) / log(lit(2.0))))
          .as("__idcg__"))
    dcg.join(idcg, Seq(queryCol), "left")
      .select(col(queryCol),
        round(col("__dcg__"), 6).as("dcg"),
        round(coalesce(col("__idcg__"), lit(0.0)), 6).as("idcg"),
        when(coalesce(col("__idcg__"), lit(0.0)) > 0,
          round(col("__dcg__") / col("__idcg__"), 6))
          .otherwise(lit(0.0)).as("ndcg"))
  }

  def keySkew(df: DataFrame, keyCol: String, topN: Int,
      pctNum: Int, pctDen: Int): DataFrame = {
    require(topN >= 1 && pctNum >= 0 && pctDen > 0, "bad keySkew params")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val total = df.agg(count(lit(1)).cast(dec).as("__total__"))
    // asc_nulls_last matches SQL's default ASC NULLS LAST (the q146
    // DuckDB oracle's ORDER BY n DESC, key ASC): a null key tied on
    // count with a non-null key must rank identically across engines
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col(keyCol).asc_nulls_last)
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .crossJoin(broadcast(total))
      .withColumn("hot",
        col("n").cast(dec) * pctDen > col("__total__") * pctNum)
      .select(col(keyCol), col("n"), col("rank"), col("hot"))
  }

  /** Herfindahl–Hirschman concentration of `keyCol` within each group —
    * the single-number "is this slice dominated by one source?" audit
    * next to [[keySkew]]'s per-key view: HHI = Σ share² ∈ (0, 1], 1 =
    * monopoly, 1/k = k equal sources. A language whose corpus is 95%
    * one crawl domain is a diversity risk no mean quality score shows.
    *
    * Two stacked partial-aggregable groupBys (rows → (group, key)
    * counts → group), both hash-partitioned; every moment is an exact
    * 64-bit integer (`Σc²` ≤ n² needs n < 3·10⁹ rows per group — beyond
    * that feed pre-aggregated counts). Only the final `sum_sq/n²`
    * division is float, same IEEE shape in the oracle. Returns (group,
    * n, n_keys, max_count, sum_sq_counts, hhi). */
  def hhi(df: DataFrame, groupCol: String, keyCol: String): DataFrame =
    df.groupBy(col(groupCol), col(keyCol))
      .agg(count(lit(1)).as("__c__"))
      .groupBy(col(groupCol))
      .agg(sum(col("__c__")).as("n"),
        count(lit(1)).as("n_keys"),
        max(col("__c__")).as("max_count"),
        sum(col("__c__") * col("__c__")).as("sum_sq_counts"))
      .withColumn("hhi", col("sum_sq_counts").cast("double") /
        (col("n").cast("double") * col("n").cast("double")))

  /** Cohen's kappa inter-rater agreement per group — the label-quality
    * gate for annotated training data (raw percent-agreement flatters
    * skewed label sets: two raters stamping 95% "safe" agree 90%+ by
    * CHANCE; kappa subtracts exactly that): with `a` = agreements,
    * `n` = items, and `pe_num = Σ_k rowA_k·colB_k` the chance-agreement
    * numerator, `kappa = (a·n − pe_num) / (n² − pe_num)` — an exact
    * integer rational (ships as kappa_num/kappa_den), float only in the
    * final division. kappa is null when the denominator is 0 (both
    * raters constant and identical — agreement is vacuous).
    *
    * Shape: one (group, labelA, labelB) contingency collapse (rows never
    * shuffle twice), then label-count-bounded marginal joins. Returns
    * (group, n, n_agree, kappa_num, kappa_den, kappa). */
  def cohensKappa(df: DataFrame, groupCol: String, raterACol: String,
      raterBCol: String): DataFrame = {
    val cells = df.groupBy(col(groupCol), col(raterACol).as("__a__"),
        col(raterBCol).as("__b__"))
      .agg(count(lit(1)).as("__c__"))
    val totals = cells.groupBy(col(groupCol))
      .agg(sum(col("__c__")).as("n"),
        sum(when(col("__a__") <=> col("__b__"), col("__c__"))
          .otherwise(lit(0L))).as("n_agree"))
    val margA = cells.groupBy(col(groupCol), col("__a__").as("__l__"))
      .agg(sum(col("__c__")).as("__ca__"))
    val margB = cells.groupBy(col(groupCol), col("__b__").as("__l__"))
      .agg(sum(col("__c__")).as("__cb__"))
    val pe = margA.join(margB, Seq(groupCol, "__l__"))
      .groupBy(col(groupCol))
      .agg(sum(col("__ca__") * col("__cb__")).as("__pe_num__"))
    // left join: raters sharing NO label at all still report (pe = 0)
    totals.join(pe, Seq(groupCol), "left")
      .withColumn("__pe_num__", coalesce(col("__pe_num__"), lit(0L)))
      .select(col(groupCol), col("n"), col("n_agree"),
        (col("n_agree") * col("n") - col("__pe_num__")).as("kappa_num"),
        (col("n") * col("n") - col("__pe_num__")).as("kappa_den"))
      .withColumn("kappa", when(col("kappa_den") =!= 0,
        col("kappa_num").cast("double") / col("kappa_den").cast("double")))
  }

  /** Binary confusion-matrix stats per group — the classifier eval
    * primitive at a FIXED decision (the [[prCurve]] sweeps thresholds;
    * this scores the one you shipped): exact tp/fp/fn/tn counts and
    * precision/recall/F1/accuracy, each derived from the integers in
    * the final projection only (F1 as `2tp / (2tp + fp + fn)` — the
    * algebraic form that never divides by a rounded intermediate).
    * Rates are null when their denominator is 0. One partial-aggregable
    * groupBy. */
  def confusionStats(df: DataFrame, groupCol: String, labelCol: String,
      predCol: String): DataFrame = {
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    val l = col(labelCol)
    val p = col(predCol)
    df.groupBy(col(groupCol))
      .agg(cnt(l && p).as("tp"), cnt(!l && p).as("fp"),
        cnt(l && !p).as("fn"), cnt(!l && !p).as("tn"))
      .withColumn("precision", when(col("tp") + col("fp") > 0,
        col("tp").cast("double") / (col("tp") + col("fp")).cast("double")))
      .withColumn("recall", when(col("tp") + col("fn") > 0,
        col("tp").cast("double") / (col("tp") + col("fn")).cast("double")))
      .withColumn("f1", when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
        (lit(2) * col("tp")).cast("double") /
          (lit(2) * col("tp") + col("fp") + col("fn")).cast("double")))
      .withColumn("accuracy",
        (col("tp") + col("tn")).cast("double") /
          (col("tp") + col("fp") + col("fn") + col("tn")).cast("double"))
  }

  /** Simpson's-paradox check between two variants — the aggregation
    * pitfall detector that belongs next to [[srmCheck]] and
    * [[proportionTest]]: treatment can win in EVERY segment yet lose in
    * the pooled rate when allocation correlates with segment base rates
    * (or vice versa). Per segment, the sign of the rate difference
    * `x_t/n_t − x_c/n_c` computed as the exact integer cross product
    * `x_t·n_c − x_c·n_t`; a segment FLIPS when its sign strictly
    * opposes the pooled sign. Returns one row per segment with both
    * signs, counts, and the flip flag — plus the pooled totals repeated
    * on every row so the readout is self-contained (a broadcast
    * single-row join). Segments missing either variant are dropped (no
    * within-segment comparison exists). */
  def simpsonsCheck(df: DataFrame, segmentCol: String, variantCol: String,
      convCol: String, treatment: String, control: String): DataFrame = {
    val seg = df.filter(col(variantCol).isin(treatment, control))
      .groupBy(col(segmentCol))
      .agg(
        sum(when(col(variantCol) === treatment, 1L).otherwise(0L))
          .as("n_t"),
        sum(when(col(variantCol) === treatment && col(convCol), 1L)
          .otherwise(0L)).as("x_t"),
        sum(when(col(variantCol) === control, 1L).otherwise(0L))
          .as("n_c"),
        sum(when(col(variantCol) === control && col(convCol), 1L)
          .otherwise(0L)).as("x_c"))
      .filter(col("n_t") > 0 && col("n_c") > 0)
    val pooled = seg.agg(sum(col("n_t")).as("pooled_n_t"),
      sum(col("x_t")).as("pooled_x_t"), sum(col("n_c")).as("pooled_n_c"),
      sum(col("x_c")).as("pooled_x_c"))
    val segSign = col("x_t") * col("n_c") - col("x_c") * col("n_t")
    val pooledSign = col("pooled_x_t") * col("pooled_n_c") -
      col("pooled_x_c") * col("pooled_n_t")
    seg.crossJoin(broadcast(pooled))
      .withColumn("seg_diff_sign", signum(segSign).cast("int"))
      .withColumn("pooled_diff_sign", signum(pooledSign).cast("int"))
      .withColumn("flips",
        col("seg_diff_sign") * col("pooled_diff_sign") === -1)
  }

  /** Pairwise preference win matrix — the first QA readout over RLHF /
    * eval comparison data (before fitting any Bradley-Terry/Elo model,
    * look at the raw matrix: a 90/10 split on 10 comparisons and a
    * 52/48 on 10,000 need different handling, and position bias shows
    * as A-side inflation): per UNORDERED model pair, comparison count,
    * wins for each side, ties, and the exact-rational win rate of the
    * lexicographically-first model (ties excluded from the rate,
    * counted in the row). Pairs are canonicalized (least(a,b),
    * greatest(a,b)) so A/B seating is erased BEFORE counting; the
    * per-seat counts survive as a_seat_first for the position-bias
    * check. One partial-aggregable groupBy on the |models|²-bounded
    * pair key. `outcome` is 'a' | 'b' | 'tie' (seat letters, pre-
    * canonicalization). */
  def winMatrix(df: DataFrame, modelACol: String, modelBCol: String,
      outcomeCol: String): DataFrame = {
    val lo = least(col(modelACol), col(modelBCol))
    val hi = greatest(col(modelACol), col(modelBCol))
    val firstIsA = col(modelACol) <= col(modelBCol)
    val firstWon = (firstIsA && col(outcomeCol) === "a") ||
      (!firstIsA && col(outcomeCol) === "b")
    val secondWon = (firstIsA && col(outcomeCol) === "b") ||
      (!firstIsA && col(outcomeCol) === "a")
    df.select(lo.as("model_1"), hi.as("model_2"),
        when(firstWon, 1L).otherwise(0L).as("__w1__"),
        when(secondWon, 1L).otherwise(0L).as("__w2__"),
        when(col(outcomeCol) === "tie", 1L).otherwise(0L).as("__t__"),
        when(firstIsA, 1L).otherwise(0L).as("__fa__"))
      .groupBy(col("model_1"), col("model_2"))
      .agg(count(lit(1)).as("n"),
        sum(col("__w1__")).as("wins_1"),
        sum(col("__w2__")).as("wins_2"),
        sum(col("__t__")).as("ties"),
        sum(col("__fa__")).as("a_seat_first"))
      .withColumn("winrate_1", when(col("wins_1") + col("wins_2") > 0,
        col("wins_1").cast("double") /
          (col("wins_1") + col("wins_2")).cast("double")))
  }

  /** Exact Gini coefficient of `keyCol`'s count distribution within each
    * group — [[hhi]]'s rank-based sibling (HHI weighs the HEAD, Gini the
    * whole inequality curve; a corpus of one giant source plus a long
    * equal tail scores moderate HHI but high Gini): for counts c₁≤…≤c_k,
    * `G = (2·Σ i·cᵢ − (k+1)·Σc) / (k·Σc)` — 0 = equal shares,
    * → 1 = one key holds everything. Numerator and denominator ship as
    * exact 64-bit integers; tie order cannot move the value (equal
    * counts contribute the same Σ i·cᵢ under any permutation).
    *
    * Shape: rows collapse map-side to the (group, key) count table; the
    * rank window runs over THAT table only (bounded by distinct keys per
    * group — sources, domains, variants), partitioned by group. Returns
    * (group, n, n_keys, gini_num, gini_den, gini). */
  def gini(df: DataFrame, groupCol: String, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(keyCol))
      .agg(count(lit(1)).as("__c__"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("__c__").asc, col(keyCol).asc_nulls_last)
    counts.withColumn("__i__", row_number().over(w))
      .groupBy(col(groupCol))
      .agg(sum(col("__c__")).as("n"),
        count(lit(1)).as("n_keys"),
        (lit(2L) * sum(col("__i__") * col("__c__")) -
          (count(lit(1)) + 1) * sum(col("__c__"))).as("gini_num"),
        (count(lit(1)) * sum(col("__c__"))).as("gini_den"))
      .withColumn("gini",
        col("gini_num").cast("double") / col("gini_den").cast("double"))
  }

  /** Discrete power-law exponent fit per key — the Zipf/heavy-tail
    * diagnostic for degree, token-frequency, and per-entity activity
    * distributions (is this feed organic ~2–3, or bot-flattened?).
    * Clauset–Shalizi–Newman continuous-approximation MLE:
    * `alpha = 1 + n / Σ ln(x_i / (xmin − ½))` over values `x ≥ xmin`.
    *
    * One partial-aggregable pass per key (count + log sum — both merge
    * associatively across shards); n is exact, alpha rounds to 6 (the
    * float posture). Returns (key, n, alpha); keys with no values
    * ≥ xmin are absent. The log sum is strictly positive whenever a
    * value survives the xmin filter (each term is
    * `ln(x/(xmin−½)) ≥ ln(xmin/(xmin−½)) > 0`), so alpha is always
    * finite. */
  def powerLawAlpha(df: DataFrame, keyCol: String, valueCol: String,
      xmin: Long): DataFrame = {
    require(xmin >= 1, s"xmin must be >= 1, got $xmin")
    val shift = xmin - 0.5
    df.filter(col(valueCol) >= xmin)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(log(col(valueCol).cast("double") / shift)).as("__s__"))
      .select(col(keyCol), col("n"),
        round(lit(1.0) + col("n") / col("__s__"), 6).as("alpha"))
  }

  /** Global quantile-bucket assignment over an INTEGRAL (quantize
    * upstream — the [[prCurve]] posture) value column: each row gets
    * `bucket` ∈ 1..|probs|+1, where the boundary for percentile p is
    * the smallest value whose cumulative count crosses p% (exact
    * integer cross-multiplication, no interpolation). The
    * head/middle/tail splitter for quality scores (CCNet buckets at
    * 33/66), latency tiers, activity bands.
    *
    * Shape: the corpus collapses map-side to the quantization-BOUNDED
    * per-value count table; the cumulative runs over THAT table only
    * (the prCurve discipline — an ntile over the raw rows would be a
    * corpus-sized single-partition window); the |probs| boundary rows
    * broadcast back and the bucket index is a per-row comparison sum.
    * Ties share a value, so they always share a bucket — by
    * construction, not by window luck. */
  def quantileBuckets(df: DataFrame, valueCol: String,
      probsPct: Seq[Int]): DataFrame = {
    require(probsPct.nonEmpty &&
      probsPct.forall(p => p >= 1 && p <= 99) &&
      probsPct == probsPct.sorted && probsPct.distinct == probsPct,
      s"probs must be sorted distinct percentages in [1, 99]: $probsPct")
    requireIntegral(df, valueCol, "quantileBuckets")
    val bs = quantileBoundaries(df, valueCol, probsPct)
    val bucketCol = bs.foldLeft(lit(1)) { (acc, b) =>
      acc + when(col(valueCol).cast("long") > b, 1).otherwise(0)
    }
    df.withColumn("bucket", bucketCol.cast("int"))
  }

  /** Driver-side quantile boundaries `b_p = min{v : cdf(v) ≥ p%}` off
    * the value histogram — the |probs|-row collect behind
    * [[quantileBuckets]] and [[psi]] (the kmeans centroid precedent:
    * bounded state to the driver, never the data). */
  def quantileBoundaries(df: DataFrame, valueCol: String,
      probsPct: Seq[Int]): Seq[Long] = {
    val spark = df.sparkSession
    import spark.implicits._
    val perValue = df.groupBy(col(valueCol).cast("long").as("__v__"))
      .agg(count(lit(1)).as("__c__"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("__v__").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val total = df.count()
    val cum = perValue.withColumn("__cum__", sum(col("__c__")).over(wCum))
    val probs = broadcast(probsPct.toDF("__p__"))
    cum.join(probs,
        col("__cum__") * 100 >= col("__p__") * total)
      .groupBy(col("__p__")).agg(min(col("__v__")).as("__b__"))
      .collect().map(_.getAs[Long]("__b__")).toSeq.sorted
  }

  /** Population stability index between a baseline and a comparison
    * frame — the binned drift score ML platforms alert on (PSI < 0.1
    * stable, > 0.25 shifted), complementing [[ksTest]]'s max-distance
    * view with a per-bin decomposition that SAYS WHERE the mass moved.
    * Bins are the baseline's quantile buckets (boundaries from
    * [[quantileBoundaries]], so bin populations start near-uniform);
    * each side's bin counts are Laplace-smoothed (+1 per bin — the
    * standard empty-bin guard, making every term finite and the whole
    * statistic engine-exact) and
    * `term_i = (p_a,i − p_b,i) · ln(p_a,i / p_b,i) ≥ 0`.
    *
    * Shape: one histogram pass per side (partial-aggregable groupBy on
    * the bucket index — per-row codegen against ≤ |probs| literal
    * boundaries), a |bins|-row join, single-row totals broadcast.
    * Returns one row per bin: (bin, lo, n_a, n_b, term) + the constant
    * `psi` total column (Σ terms, rounded 6); exact integer counts ride
    * alongside the presentation doubles. */
  def psi(a: DataFrame, b: DataFrame, valueCol: String,
      probsPct: Seq[Int] = Seq(10, 20, 30, 40, 50, 60, 70, 80, 90))
      : DataFrame = {
    val bs = quantileBoundaries(a, valueCol, probsPct)
    val nBins = bs.length + 1
    val spark = a.sparkSession
    import spark.implicits._
    def hist(df: DataFrame, out: String) = {
      val bucketCol = bs.foldLeft(lit(1)) { (acc, bnd) =>
        acc + when(col(valueCol).cast("long") > bnd, 1).otherwise(0)
      }
      df.filter(col(valueCol).isNotNull)
        .select(bucketCol.cast("int").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as(out))
    }
    val bins = (1 to nBins).map(i =>
      (i, if (i == 1) null.asInstanceOf[java.lang.Long]
          else java.lang.Long.valueOf(bs(i - 2)))).toDF("bin", "lo")
    val grid = bins
      .join(hist(a, "n_a"), Seq("bin"), "left")
      .join(hist(b, "n_b"), Seq("bin"), "left")
      .select(col("bin"), col("lo"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val totals = grid.agg(sum(col("n_a")).as("__ta__"),
      sum(col("n_b")).as("__tb__"))
    val pa = (col("n_a") + 1).cast("double") /
      (col("__ta__") + nBins).cast("double")
    val pb = (col("n_b") + 1).cast("double") /
      (col("__tb__") + nBins).cast("double")
    val term = (pa - pb) * log(pa / pb)
    val scored = grid.crossJoin(broadcast(totals))
      .withColumn("__term__", term)
    scored
      .withColumn("term", round(col("__term__"), 6))
      .crossJoin(broadcast(scored.agg(
        round(sum(col("__term__")), 6).as("psi"))))
      .select(col("bin"), col("lo"), col("n_a"), col("n_b"),
        col("term"), col("psi"))
  }

  /** 2-D Pareto frontier (maximization skyline): the input rows NOT
    * dominated on `(xCol, yCol)` — row r dominates s iff `r.x ≥ s.x`,
    * `r.y ≥ s.y`, and at least one is strict. The multi-objective
    * selection primitive ("no doc both longer AND higher-quality
    * exists"); duplicates of a frontier point all survive, equal points
    * never dominate each other.
    *
    * Scale shape: dominance in 2-D is decided entirely by the
    * per-distinct-x maximum of y — a row survives iff `y = maxY(x)` and
    * `max{maxY(x') : x' > x} < y`. So the corpus collapses map-side to
    * the |distinct x| table (one partial-aggregable pass), and the
    * strictly-greater suffix max runs DISTRIBUTED over that table: range
    * repartition on x desc, per-partition running max, |partitions|-row
    * offset collect (the vocabCoverage prefix-sum discipline — never a
    * single-partition global window). Survivors return via one
    * broadcast-joinable frontier table (frontier size ≤ |distinct x|).
    * Integral coordinates required: the strict within-partition frame
    * uses a value-range offset of 1. */
  def skyline2d(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    Seq(xCol, yCol).foreach(requireIntegral(df, _, "skyline2d"))
    val spark = df.sparkSession
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    val perX = Caches.registerDf(
      df.select(x.as("__x__"), y.as("__y__"))
        .groupBy(col("__x__")).agg(max(col("__y__")).as("__maxy__"))
        .repartitionByRange(col("__x__").desc)
        .sortWithinPartitions(col("__x__").desc)
        .withColumn("__pid__", spark_partition_id())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // per-partition max, collected (|partitions| rows) → for partition
    // p, the max over every EARLIER partition (all of whose x are
    // strictly greater — range boundaries never split an x value)
    val partMax = perX.groupBy(col("__pid__"))
      .agg(max(col("__maxy__")).as("__pm__"))
      .collect().map(r => (r.getAs[Int]("__pid__"), r.getAs[Long]("__pm__")))
      .sortBy(_._1)
    var acc = Long.MinValue
    val offsets = partMax.map { case (pid, pm) =>
      val row = (pid, acc); acc = math.max(acc, pm); row
    }
    import spark.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("__pid__", "__off__"))
    // within the partition, the strictly-larger-x running max: value
    // range frame ending 1 before the current x (integral coordinates)
    val wSuffix = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid__")).orderBy(col("__x__").desc)
      .rangeBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val frontier = perX.join(offDf, Seq("__pid__"))
      .withColumn("__suffix__", greatest(col("__off__"),
        coalesce(max(col("__maxy__")).over(wSuffix), lit(Long.MinValue))))
      .filter(col("__maxy__") > col("__suffix__"))
      .select(col("__x__"), col("__maxy__"))
    df.join(broadcast(frontier),
      x === col("__x__") && y === col("__maxy__"), "left_semi")
  }

  /** Two-sample Kolmogorov–Smirnov distance between the `valueCol`
    * distributions of two frames — the numeric-column drift test next
    * to [[categoryDrift]]'s categorical one (did the feed's length/
    * score/latency distribution move between snapshots?). The D
    * statistic is EXACT: at every distinct value,
    * `|cdf_a − cdf_b| = |c_a·n_b − c_b·n_a| / (n_a·n_b)` is an integer
    * cross-multiplication, so the maximum and its location carry no
    * float — division is presentation. Requires an integral value
    * (quantize upstream, the [[quantileBuckets]] contract), which also
    * bounds the distinct grid.
    *
    * Shape: each side collapses map-side to its |grid| histogram
    * (partial-aggregable count), the merged grid rides ONE task for
    * the cumulative window — sound because the quantization bounds
    * |grid|, never the row count; nothing row-sized shuffles. Returns
    * one row: (n_a, n_b, d_num, d_den, d_at, d) — `d_at` the smallest
    * value attaining the max, `d = d_num/d_den` rounded 6. */
  def ksTest(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    Seq(a, b).foreach(requireIntegral(_, valueCol, "ksTest"))
    val ha = a.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("long").as("__v__"))
      .agg(count(lit(1)).as("__ca__"))
    val hb = b.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("long").as("__v__"))
      .agg(count(lit(1)).as("__cb__"))
    val grid = ha.join(hb, Seq("__v__"), "full_outer")
      .select(col("__v__"),
        coalesce(col("__ca__"), lit(0L)).as("__ca__"),
        coalesce(col("__cb__"), lit(0L)).as("__cb__"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("__v__").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val cum = grid
      .withColumn("__cuma__", sum(col("__ca__")).over(wCum))
      .withColumn("__cumb__", sum(col("__cb__")).over(wCum))
    val totals = grid.agg(sum(col("__ca__")).as("n_a"),
      sum(col("__cb__")).as("n_b"))
    val scored = cum.crossJoin(broadcast(totals))
      .withColumn("__dnum__",
        abs(col("__cuma__") * col("n_b") - col("__cumb__") * col("n_a")))
    scored.agg(
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(col("__dnum__")).as("d_num"),
        min_by(col("__v__"),
          struct((-col("__dnum__")).as("nd"), col("__v__").as("v")))
          .as("d_at"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        (col("n_a") * col("n_b")).as("d_den"), col("d_at"),
        round(col("d_num").cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 6).as("d"))
  }

  /** Information gain of each candidate feature column against the
    * label — the decision-stump feature-selection score (which metadata
    * field actually predicts quality/topic): `gain(F) = H(L) − H(L|F)`
    * in bits, over the rows where both are non-null. Features and
    * labels are treated as categoricals; bucketize continuous columns
    * upstream.
    *
    * Shape: one explode melts the row into |features| (feature, value)
    * rows, then everything is three partial-aggregable counts — cells
    * (feature, value, label), per-(feature, value) totals, per-feature
    * label marginals — and the entropies fold over cell counts with
    * `Σ c·log2(c)` terms (each term exact-from-integers; the ≤ dozens-
    * of-cells summation is the only float accumulation, rounded to 6).
    * Nothing wide shuffles; output is |features| rows.
    *
    * Returns (feature, n, h_label, h_cond, gain), entropies in bits
    * rounded to 6. */
  def infoGain(df: DataFrame, featureCols: Seq[String],
      labelCol: String): DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature column")
    val melted = df
      .filter(col(labelCol).isNotNull)
      .select(col(labelCol).cast("string").as("__l__"),
        explode(array(featureCols.map(f =>
          struct(lit(f).as("f"), col(f).cast("string").as("v"))): _*))
          .as("__fv__"))
      .filter(col("__fv__.v").isNotNull)
      .select(col("__fv__.f").as("__f__"), col("__fv__.v").as("__v__"),
        col("__l__"))
    val cells = melted.groupBy(col("__f__"), col("__v__"), col("__l__"))
      .agg(count(lit(1)).as("__c__"))
    // H(L|F) = log2(n) − (Σ_v c_v·log2(c_v))/n
    //          − [log2(n) − (Σ_vl c_vl·log2(c_vl))/n]-style folding:
    // both entropies use the c·log2(c) identity so every term derives
    // from one exact integer count
    val perFv = cells.groupBy(col("__f__"), col("__v__"))
      .agg(sum(col("__c__")).as("__cv__"),
        sum(col("__c__").cast("double") * log2(col("__c__"))).as("__scl__"))
    val perF = perFv.groupBy(col("__f__")).agg(
      sum(col("__cv__")).as("n"),
      // Σ_v c_v·log2(c_v) and Σ_vl c_vl·log2(c_vl)
      sum(col("__cv__").cast("double") * log2(col("__cv__"))).as("__sv__"),
      sum(col("__scl__")).as("__svl__"))
    // label marginals per feature (features may drop different null rows)
    val perL = cells.groupBy(col("__f__"), col("__l__"))
      .agg(sum(col("__c__")).as("__cl__"))
      .groupBy(col("__f__"))
      .agg(sum(col("__cl__").cast("double") * log2(col("__cl__")))
        .as("__sl__"))
    perF.join(perL, Seq("__f__"))
      .select(col("__f__").as("feature"), col("n"),
        round(log2(col("n")) - col("__sl__") / col("n"), 6).as("h_label"),
        round((col("__sv__") - col("__svl__")) / col("n"), 6).as("h_cond"),
        round((log2(col("n")) - col("__sl__") / col("n")) -
          (col("__sv__") - col("__svl__")) / col("n"), 6).as("gain"))
  }

  /** Sample-ratio-mismatch check — the first gate on any experiment
    * readout (a 50/50 split that lands 52/48 on millions of units means
    * the assignment itself is broken and every downstream metric is
    * biased; [[bootstrapCI]] / cuped on an SRM'd experiment is garbage
    * in, garbage out). `expected` gives the intended allocation as
    * INTEGER weights (e.g. `("control", 1), ("treatment", 1)`), so the
    * expected count `n·w/W` derives from exact integers and the χ²
    * terms are reproducible to the bit; the verdict compares the
    * ordered-fold χ² total against `crit` (default 3.841 = χ²₀.₉₅ for
    * one degree of freedom — pass the right quantile for >2 arms).
    *
    * Shape: one distinct-unit aggregation (map-side partial) joined to
    * the |variants|-row expected literal, a left join's preserved side
    * (never built, so no broadcast hint); the χ² total is a single-row
    * ordered fold broadcast back. Variants outside `expected` are ignored.
    *
    * Returns one row per expected variant: `(variant, observed,
    * expected_n, term, chi2, srm)` — `chi2`/`srm` repeated per row. */
  def srmCheck(df: DataFrame, unitCol: String, variantCol: String,
      expected: Seq[(String, Long)], crit: Double = 3.841): DataFrame = {
    require(expected.size >= 2, "need at least two expected variants")
    require(expected.forall(_._2 > 0), "expected weights must be > 0")
    require(expected.map(_._1).distinct.size == expected.size,
      "duplicate variant in expected allocation")
    val spark = df.sparkSession
    import spark.implicits._
    val wDen = expected.map(_._2).sum
    val exp = expected.toDF("variant", "w")
    val obs = df.select(col(variantCol).cast("string").as("variant"),
        col(unitCol).as("__u__"))
      .filter(col("variant").isin(expected.map(_._1): _*))
      .groupBy(col("variant"))
      .agg(countDistinct(col("__u__")).as("observed"))
    val counts = exp.join(obs, Seq("variant"), "left")
      .select(col("variant"), col("w"),
        coalesce(col("observed"), lit(0L)).as("observed"))
    val tot = counts.agg(sum(col("observed")).as("__n__"))
    val terms = counts.crossJoin(broadcast(tot))
      .select(col("variant"), col("observed"),
        (col("__n__").cast("double") * col("w") / wDen).as("__e__"))
      .select(col("variant"), col("observed"),
        round(col("__e__"), 6).as("expected_n"),
        round((col("observed") - col("__e__")) *
          (col("observed") - col("__e__")) / col("__e__"), 6).as("term"))
    // χ² total: ordered fold over the variant list — engine-exact
    val chi2 = terms
      .agg(sort_array(collect_list(struct(col("variant").as("v"),
        col("term").as("t")))).as("__ts__"))
      .select(round(aggregate(col("__ts__"), lit(0.0),
        (a, s) => a + s.getField("t")), 6).as("chi2"))
    terms.crossJoin(broadcast(chi2))
      .select(col("variant"), col("observed"), col("expected_n"),
        col("term"), col("chi2"), (col("chi2") > crit).as("srm"))
  }

  /** MRR and recall@k — the retrieval-evaluation companions to [[ndcg]]
    * (MRR grades "how soon is the FIRST good result", recall "how much
    * of the good set did top-k cover"; NDCG alone hides both). Inputs
    * match [[ndcg]]: a `(query, item, rank)` ranking and a
    * `(query, item, rel)` truth table; only `rel > 0` truth rows count
    * as relevant. Every metric derives from exact integers — the first
    * relevant rank, the hit count, and the relevant-set size — with
    * division as presentation, so the row is reproducible to the bit.
    *
    * Shape: one left equi-join on `(query, item)` and one
    * partial-aggregable per-query collapse (min + conditional counts);
    * nothing windows, nothing collects. Queries with an empty relevant
    * set report `recall = 0` and `first_rel_rank` null.
    *
    * Returns `(query, first_rel_rank, n_hits, n_rel, rr, recall)`. */
  /** Per-group percentile rank (empirical CDF value) of every row — the
    * scale-free feature transform (a raw "quality 812" means nothing
    * across sources whose score ranges differ; "84th percentile within
    * its source" compares): `cdf_micro = (#{values ≤ v} · 1e6) div n`
    * per group, from exact integer counts only. Equal values share a
    * rank (the ECDF convention — ties are REAL ties, not
    * insertion-order accidents), so the output is deterministic under
    * any row order and replayable as SQL `cume_dist`.
    *
    * Shape: collapse to per-(group, value) counts first (partial-
    * aggregable — the log-sized input never windows), then ONE ordered
    * window over the |distinct values|-per-group rows for the running
    * total, and an AQE-splittable equi join-back onto the rows. A
    * hot group costs its own distinct-value count in one task — the
    * value-histogram size, not its row count (the [[
    * graft.ops.Corpus.kAnonymize]] join-back discipline applied to
    * ranking). Returns the input + `(group_n, cdf_micro)`. */
  def percentileRank(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val t = df.schema(valueCol).dataType
    import org.apache.spark.sql.types._
    require(t == ByteType || t == ShortType || t == IntegerType ||
      t == LongType,
      s"percentileRank needs an integral value column; '$valueCol' is $t")
    val perVal = df.groupBy(col(groupCol).as("__g__"),
        col(valueCol).as("__v__"))
      .agg(count(lit(1)).as("__c__"))
    val w = Window.partitionBy(col("__g__")).orderBy(col("__v__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wg = Window.partitionBy(col("__g__"))
    val ranked = perVal
      .withColumn("__le__", sum(col("__c__")).over(w))
      .withColumn("group_n", sum(col("__c__")).over(wg))
      .select(col("__g__"), col("__v__"), col("group_n"),
        expr("__le__ * 1000000 div group_n").as("cdf_micro"))
    df.join(ranked, col(groupCol) <=> col("__g__") &&
        col(valueCol) <=> col("__v__"))
      .drop("__g__", "__v__")
  }

  /** Model-score lift/gains table — "how much better than random is
    * targeting the top k% by score": rows are score-quantile buckets
    * (boundaries from [[quantileBoundaries]] so populations start
    * near-uniform), walked from the HIGHEST bucket down with cumulative
    * counts; `gains = cum_pos / total_pos` (what share of all positives
    * the top buckets capture) and `lift = (cum_pos·total_n) /
    * (cum_n·total_pos)` — both formed as integer cross-products cast to
    * double only for the final division, so engines agree to the bit.
    * [[calibration]] asks "are the probabilities honest"; this asks the
    * campaign question "is the RANKING useful, and how deep to go".
    *
    * Shape: one driver-side boundary collect (|probs| longs), one
    * partial-aggregable per-bucket histogram pass with labels, and the
    * cumulative window runs over the ≤ |probs|+1 bucket rows only —
    * the [[psi]] grid discipline. Returns one row per non-empty bucket,
    * highest scores first: `(bucket, lo, n, n_pos, cum_n, cum_pos,
    * gains, lift)`; `lo` is the bucket's lower boundary (null for the
    * lowest), lift null when the table has no positives at all. */
  def liftTable(df: DataFrame, scoreCol: String, labelCol: String,
      probsPct: Seq[Int] = Seq(10, 20, 30, 40, 50, 60, 70, 80, 90))
      : DataFrame = {
    val t = df.schema(scoreCol).dataType
    import org.apache.spark.sql.types._
    require(t == ByteType || t == ShortType || t == IntegerType ||
      t == LongType,
      s"liftTable needs an integral score (scale to mils upstream); " +
        s"'$scoreCol' is $t")
    require(probsPct.nonEmpty && probsPct == probsPct.sorted &&
      probsPct.forall(p => p > 0 && p < 100), "bad probsPct")
    val base = df.select(col(scoreCol).cast("long").as("__s__"),
      col(labelCol).cast("boolean").as("__y__"))
      .filter(col("__s__").isNotNull)
    val bs = quantileBoundaries(base, "__s__", probsPct)
    val bucket = bs.map(b => when(col("__s__") > b, 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    val hist = base.withColumn("__b__", bucket)
      .groupBy(col("__b__").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y__"), 1L).otherwise(0L)).as("n_pos"))
    // descending walk over the ≤ |probs|+1 bucket rows; single task by
    // design — the grid is bin-bounded at any data size
    val wDesc = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.agg(sum(col("n")).as("__tn__"),
      sum(col("n_pos")).as("__tp__"))
    val los = bs.sorted
    val loCol = (2 to los.length + 1).foldLeft(lit(null).cast("long")) {
      (acc, i) => when(col("bucket") === i, los(i - 2)).otherwise(acc)
    }
    hist
      .withColumn("cum_n", sum(col("n")).over(wDesc))
      .withColumn("cum_pos", sum(col("n_pos")).over(wDesc))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), loCol.as("lo"), col("n"), col("n_pos"),
        col("cum_n"), col("cum_pos"),
        when(col("__tp__") > 0, round(col("cum_pos").cast("double") /
          col("__tp__").cast("double"), 6)).as("gains"),
        when(col("__tp__") > 0, round(
          (col("cum_pos") * col("__tn__")).cast("double") /
            (col("cum_n") * col("__tp__")).cast("double"), 6))
          .as("lift"))
  }

  /** Pearson correlation matrix over integral metric columns — the
    * feature-redundancy / metric-sanity profile (two quality signals
    * correlating at 0.98 measure the same thing; a guardrail metric
    * correlating with nothing is probably broken). Listwise deletion:
    * rows with a null in ANY profiled column are dropped first, so
    * every pair sees the same n (pairwise deletion gives each cell a
    * different population — a classic silent lie in correlation
    * tables). All five moments per pair (n, Σx, Σy, Σxy, Σx², Σy²) are
    * exact decimal(38,0) sums of long inputs; r's numerator and the two
    * variance terms are formed in exact integer arithmetic and cast to
    * double only for the final sqrt/divide, so both engines compute the
    * identical float expression from identical integers. Zero-variance
    * columns yield null r (undefined, not 0).
    *
    * Shape: ONE partial-aggregable pass computing all m(m+1)/2 + m + 1
    * moments in a single aggregate row (m is small — this is a profile
    * of metric columns, not a feature store), then a per-pair literal
    * explode of that one row. Nothing but the single moment row ever
    * shuffles. Returns `(col_x, col_y, n, corr)` for the m(m−1)/2
    * unordered pairs in input order. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need >= 2 columns, got ${cols.size}")
    require(cols.distinct.size == cols.size, "duplicate column in cols")
    cols.foreach { c =>
      val t = df.schema(c).dataType
      import org.apache.spark.sql.types._
      require(t == ByteType || t == ShortType || t == IntegerType ||
        t == LongType,
        s"corrMatrix needs integral columns (scale to micros upstream); " +
          s"'$c' is $t")
    }
    val base = df.na.drop(cols).select(cols.map(col): _*)
    def dec(c: String) = col(c).cast("decimal(19,0)")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = Seq(count(lit(1)).cast("decimal(38,0)").as("__n__")) ++
      cols.flatMap { c => Seq(
        sum(dec(c)).as(s"__s_$c"),
        sum(dec(c) * dec(c)).as(s"__ss_$c"))
      } ++
      pairs.map { case (a, b) =>
        sum(dec(a) * dec(b)).as(s"__sp_${a}_$b")
      }
    val one = base.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (a, b) =>
      val num = col("__n__") * col(s"__sp_${a}_$b") -
        col(s"__s_$a") * col(s"__s_$b")
      val va = col("__n__") * col(s"__ss_$a") -
        col(s"__s_$a") * col(s"__s_$a")
      val vb = col("__n__") * col(s"__ss_$b") -
        col(s"__s_$b") * col(s"__s_$b")
      one.select(lit(a).as("col_x"), lit(b).as("col_y"),
        col("__n__").cast("long").as("n"),
        when(va > 0 && vb > 0,
          round(num.cast("double") /
            (sqrt(va.cast("double")) * sqrt(vb.cast("double"))), 6))
          .as("corr"))
    }
    rows.reduce(_ unionAll _)
  }

  /** Two-proportion experiment readout — the binary-metric companion to
    * [[bootstrapCI]]/cuped (conversion, retention, click-through):
    * per-variant conversion rate with a Wilson 95% interval (the
    * normal-approximation interval misbehaves at small n or extreme
    * p̂; Wilson is the standard fix), plus a pooled two-proportion
    * z-statistic against the named control arm. A unit converts if ANY
    * of its rows converted (per-unit OR, so duplicate event rows don't
    * inflate n). Everything derives from the exact integers (n, x) per
    * variant in a fixed float expression order, so engines agree to
    * the bit; `zCrit` defaults to 1.96 (two-sided 95%).
    *
    * Shape: one per-(unit, variant) partial-aggregable collapse, one
    * |variants|-row aggregate, and the control row broadcast back onto
    * the |variants|-row table — the log shuffles once. Pair with
    * [[srmCheck]] FIRST: a readout on a mis-allocated experiment is
    * noise. Returns `(variant, n_units, n_converted, rate, ci_lo,
    * ci_hi, z_vs_control, significant)` — z/significant null on the
    * control row itself. */
  def proportionTest(df: DataFrame, unitCol: String, variantCol: String,
      convCol: String, control: String,
      zCrit: Double = 1.96): DataFrame = {
    val units = df.select(col(variantCol).cast("string").as("variant"),
        col(unitCol).as("__u__"), col(convCol).cast("boolean").as("__c__"))
      .groupBy(col("variant"), col("__u__"))
      .agg(max(when(col("__c__"), 1L).otherwise(0L)).as("__conv__"))
    val per = units.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_units"),
        sum(col("__conv__")).as("n_converted"))
    val z2 = zCrit * zCrit
    def wilson(n: Column, x: Column) = {
      val nD = n.cast("double")
      val p = x.cast("double") / nD
      val centre = p + lit(z2) / (lit(2.0) * nD)
      val spread = lit(zCrit) * sqrt(p * (lit(1.0) - p) / nD +
        lit(z2) / (lit(4.0) * nD * nD))
      val denom = lit(1.0) + lit(z2) / nD
      ((centre - spread) / denom, (centre + spread) / denom)
    }
    val ctl = per.filter(col("variant") === control)
      .select(col("n_units").as("__cn__"),
        col("n_converted").as("__cx__"))
    val (lo, hi) = wilson(col("n_units"), col("n_converted"))
    val pv = col("n_converted").cast("double") /
      col("n_units").cast("double")
    val pc = col("__cx__").cast("double") / col("__cn__").cast("double")
    val pool = (col("n_converted") + col("__cx__")).cast("double") /
      (col("n_units") + col("__cn__")).cast("double")
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / col("n_units").cast("double") +
        lit(1.0) / col("__cn__").cast("double")))
    val zStat = when(col("variant") =!= control && se > 0,
      round((pv - pc) / se, 6))
    per.crossJoin(broadcast(ctl))
      .select(col("variant"), col("n_units"), col("n_converted"),
        round(pv, 6).as("rate"),
        round(lo, 6).as("ci_lo"), round(hi, 6).as("ci_hi"),
        zStat.as("z_vs_control"),
        when(col("variant") =!= control && se > 0,
          abs((pv - pc) / se) > zCrit).as("significant"))
  }

  def mrrRecall(ranking: DataFrame, truth: DataFrame, queryCol: String,
      itemCol: String, rankCol: String, relCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val t = truth.filter(col(relCol) > 0)
      .select(col(queryCol), col(itemCol), lit(1L).as("__rel__"))
    val nRel = t.groupBy(col(queryCol))
      .agg(count(lit(1)).as("n_rel"))
    val r = ranking.filter(col(rankCol) <= k)
      .select(col(queryCol), col(itemCol),
        col(rankCol).cast("long").as("__r__"))
    val hits = r.join(t, Seq(queryCol, itemCol), "left")
      .groupBy(col(queryCol))
      .agg(min(when(col("__rel__").isNotNull, col("__r__")))
          .as("first_rel_rank"),
        sum(when(col("__rel__").isNotNull, 1L).otherwise(0L))
          .as("n_hits"))
    hits.join(nRel, Seq(queryCol), "left")
      .select(col(queryCol), col("first_rel_rank"), col("n_hits"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        when(col("first_rel_rank").isNotNull,
          round(lit(1.0) / col("first_rel_rank"), 6))
          .otherwise(lit(0.0)).as("rr"),
        when(coalesce(col("n_rel"), lit(0L)) > 0,
          round(col("n_hits").cast("double") / col("n_rel"), 6))
          .otherwise(lit(0.0)).as("recall"))
  }

  /** Exact 1-Wasserstein (earth-mover) distance between the `valueCol`
    * distributions of two frames — the MAGNITUDE companion to
    * [[ksTest]]'s max-gap D (KS says "the CDFs separate somewhere";
    * W₁ says "by how much probability mass × distance" — a fat tail
    * that moved far scores high here even when no single CDF gap is
    * large). On an integral grid the integral is a finite sum:
    * `W₁ = Σ_k |cumA_k·n_b − cumB_k·n_a| · (v_{k+1} − v_k) / (n_a·n_b)`
    * — numerator an exact integer (decimal(38,0)), division is
    * presentation.
    *
    * Shape: the [[ksTest]] plan exactly — each side collapses map-side
    * to its |grid| histogram, the merged grid rides one task for the
    * cumulative window and `lead` gap (sound because quantization
    * bounds |grid|, never the row count). Returns one row:
    * (n_a, n_b, w1_num, w1) with `w1 = w1_num / (n_a·n_b)` rounded 6;
    * `w1_num` is decimal(38,0) — cast at the export boundary when
    * values fit. */
  def wasserstein1(a: DataFrame, b: DataFrame,
      valueCol: String): DataFrame = {
    Seq(a, b).foreach(requireIntegral(_, valueCol, "wasserstein1"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val ha = a.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("long").as("__v__"))
      .agg(count(lit(1)).as("__ca__"))
    val hb = b.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("long").as("__v__"))
      .agg(count(lit(1)).as("__cb__"))
    val grid = ha.join(hb, Seq("__v__"), "full_outer")
      .select(col("__v__"),
        coalesce(col("__ca__"), lit(0L)).as("__ca__"),
        coalesce(col("__cb__"), lit(0L)).as("__cb__"))
    val wCum = Window.orderBy(col("__v__").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wLead = Window.orderBy(col("__v__").asc)
    val cum = grid
      .withColumn("__cuma__", sum(col("__ca__")).over(wCum))
      .withColumn("__cumb__", sum(col("__cb__")).over(wCum))
      .withColumn("__gap__",
        coalesce(lead(col("__v__"), 1).over(wLead) - col("__v__"),
          lit(0L)))
    val totals = grid.agg(sum(col("__ca__")).as("n_a"),
      sum(col("__cb__")).as("n_b"))
    cum.crossJoin(broadcast(totals))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(abs(dec(col("__cuma__")) * dec(col("n_b")) -
          dec(col("__cumb__")) * dec(col("n_a"))) * dec(col("__gap__")))
          .as("w1_num"))
      .select(col("n_a"), col("n_b"), col("w1_num"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(try_divide(col("w1_num").cast("double"),
            (dec(col("n_a")) * dec(col("n_b"))).cast("double")), 6))
          .as("w1"))
  }

  /** Effective sample size of a weighted corpus per group —
    * `ESS = (Σw)² / Σw²`, the standard importance-sampling diagnostic
    * for score-weighted data ([[graft.ops.Dedup.dupWeights]],
    * quality-weighted mixtures): ESS ≈ n means weights are nearly
    * uniform; ESS ≪ n means a few heavy rows dominate and the "big"
    * corpus trains like a small one. Integral weights make both
    * moments exact integers (decimal(38,0)); the ratio is
    * presentation. One partial-aggregable groupBy; |groups| rows out.
    * Returns (group, n, sum_w, ess, ess_ratio) — ess and the
    * ess/n ratio rounded 6; null for groups whose weights sum to 0. */
  def effectiveSampleSize(df: DataFrame, groupCol: String,
      weightCol: String): DataFrame = {
    requireIntegral(df, weightCol, "effectiveSampleSize")
    def dec(c: Column) = c.cast("decimal(38,0)")
    df.filter(col(weightCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(dec(col(weightCol))).as("sum_w"),
        sum(dec(col(weightCol)) * dec(col(weightCol))).as("__sw2__"))
      .select(col(groupCol), col("n"), col("sum_w").as("sum_w"),
        when(col("__sw2__") > 0,
          round(try_divide((col("sum_w") * col("sum_w")).cast("double"),
            col("__sw2__").cast("double")), 6)).as("ess"),
        when(col("__sw2__") > 0,
          round(try_divide((col("sum_w") * col("sum_w")).cast("double"),
            (col("__sw2__") * dec(col("n"))).cast("double")), 6))
          .as("ess_ratio"))
  }

  /** Split-conformal threshold per group — the distribution-free
    * prediction-gate calibrator: given a calibration set of integral
    * nonconformity scores (model error, −logprob, residual), the
    * `⌈(n+1)(1−α)⌉`-th smallest score is the cutoff below which a new
    * example's score stays with probability ≥ 1−α (finite-sample,
    * no distributional assumption — the guarantee production gating
    * actually wants). α rides as the exact rational
    * `alphaNum/alphaDen`, the rank index is exact integer ceiling
    * arithmetic (`k = n + 1 − (n+1)·αN div αD`, clamped to [1, n]),
    * and the threshold is picked off the per-group value histogram —
    * no float ever decides a rank.
    *
    * Shape: one partial-aggregable (group, value) histogram, one
    * per-group window over the DISTINCT-value grid for the running
    * count, then a min-over-qualifying-values collapse — a hot group
    * costs its histogram size, never its row count (the
    * [[percentileRank]] discipline). Returns
    * (group, n, k, threshold). */
  def conformalThreshold(df: DataFrame, groupCol: String,
      scoreCol: String, alphaNum: Long, alphaDen: Long): DataFrame = {
    require(alphaNum >= 0 && alphaDen > 0 && alphaNum <= alphaDen,
      s"alpha must be in [0,1]: $alphaNum/$alphaDen")
    requireIntegral(df, scoreCol, "conformalThreshold")
    val hist = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(groupCol), col(scoreCol).cast("long").as("__v__"))
      .agg(count(lit(1)).as("__c__"))
    val wCum = Window.partitionBy(col(groupCol))
      .orderBy(col("__v__").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.withColumn("__cum__", sum(col("__c__")).over(wCum))
    val per = hist.groupBy(col(groupCol))
      .agg(sum(col("__c__")).as("n"))
      // k = ⌈(n+1)(1−α)⌉ = n + 1 − floor((n+1)·αN / αD), clamped
      .withColumn("k", greatest(lit(1L), least(col("n"),
        col("n") + 1 - expr(s"(n + 1) * $alphaNum div $alphaDen"))))
    cum.join(per, Seq(groupCol))
      .filter(col("__cum__") >= col("k"))
      .groupBy(col(groupCol))
      .agg(max(col("n")).as("n"), max(col("k")).as("k"),
        min(col("__v__")).as("threshold"))
  }

  /** Leave-one-group-out influence on the global mean — the source
    * ablation readout ("which feed is dragging quality?") computed
    * WITHOUT |groups| passes: with global moments (N, T) and per-group
    * (n_g, t_g), the mean without g is `(T − t_g)/(N − n_g)` — every
    * quantity an exact integer, one scan total. `influence` is
    * `loo_mean − global_mean` (positive ⇒ removing the group RAISES
    * the metric ⇒ the group drags it down). Division is presentation
    * (round 6); groups covering the whole table report null loo.
    *
    * Shape: one partial-aggregable groupBy + a single-row broadcast —
    * the [[proportionTest]] plan. Requires an integral value column.
    * Returns (group, n, mean, loo_mean, influence). */
  def leaveOneOutMeans(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    requireIntegral(df, valueCol, "leaveOneOutMeans")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), col(valueCol).cast("long").as("__v__"))
    val per = base.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(dec(col("__v__"))).as("__t__"))
    val tot = per.agg(sum(col("n")).as("__nn__"),
      sum(col("__t__")).as("__tt__"))
    // try_divide: a group covering the whole table has N − n = 0, and
    // ANSI Spark throws on double division by zero if subexpression
    // elimination evaluates past the `when` guard
    val gMean = col("__tt__").cast("double") / col("__nn__").cast("double")
    val looMean = try_divide((col("__tt__") - col("__t__")).cast("double"),
      (col("__nn__") - col("n")).cast("double"))
    per.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n"),
        round(col("__t__").cast("double") / col("n").cast("double"), 6)
          .as("mean"),
        when(col("__nn__") > col("n"), round(looMean, 6)).as("loo_mean"),
        when(col("__nn__") > col("n"), round(looMean - gMean, 6))
          .as("influence"))
  }

  /** Ratio-metric experiment readout with the delta method — the
    * missing third of the readout trio ([[proportionTest]] compares
    * conversion RATES, [[welchTTest]] compares MEANS; most production
    * metrics are RATIOS OF SUMS per unit — CTR = Σclicks/Σviews,
    * revenue-per-session, tokens-per-doc — whose variance a naive
    * t-test understates because numerator and denominator are
    * correlated within a unit). Per-unit sums collapse first (the
    * [[proportionTest]] one-row-per-unit discipline), then per-variant
    * exact moments (n, Σx, Σy, Σx², Σy², Σxy in decimal(38,0)) feed
    * the classic delta-method variance
    * `var(r) = (s_x² + r²·s_y² − 2r·s_xy) / (n·ȳ²)` with `r = Σx/Σy`,
    * assembled in doubles from the exact integers and compared
    * `(r_v − r_c)²·1e6 ≥ zc²·1e6·(var_v + var_c)` — the
    * [[rankSumTest]] determinism discipline (the oracle replays the
    * identical tree). Requires integral numerator/denominator columns.
    *
    * Shape: two partial-aggregable collapses (unit, then variant) + a
    * single-row broadcast of the control moments. Returns per variant:
    * (variant, n_units, sum_num, sum_den, ratio, diff_vs_control,
    * significant); ratio is null when Σy = 0, the verdict null for the
    * control row and when both variances vanish. */
  def ratioMetric(df: DataFrame, unitCol: String, variantCol: String,
      numCol: String, denCol: String, control: String,
      zCrit: Double = 1.96): DataFrame = {
    Seq(numCol, denCol).foreach(requireIntegral(df, _, "ratioMetric"))
    val zc2Micro = math.round(zCrit * zCrit * 1e6)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val units = df
      .select(col(variantCol).cast("string").as("variant"),
        col(unitCol).as("__u__"),
        coalesce(col(numCol).cast("long"), lit(0L)).as("__x__"),
        coalesce(col(denCol).cast("long"), lit(0L)).as("__y__"))
      .groupBy(col("variant"), col("__u__"))
      .agg(sum(col("__x__")).as("__x__"), sum(col("__y__")).as("__y__"))
    val per = units.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_units"),
        sum(dec(col("__x__"))).as("__sx__"),
        sum(dec(col("__y__"))).as("__sy__"),
        sum(dec(col("__x__")) * dec(col("__x__"))).as("__sxx__"),
        sum(dec(col("__y__")) * dec(col("__y__"))).as("__syy__"),
        sum(dec(col("__x__")) * dec(col("__y__"))).as("__sxy__"))
    // delta-method var of the ratio, in doubles from exact moments —
    // engine-identical because the oracle replays the same tree.
    // try_divide, not `/`: ANSI Spark throws DIVIDE_BY_ZERO even for
    // doubles, and subexpression elimination can evaluate a guarded
    // branch's division on a degenerate variant (Σy = 0, n = 1) —
    // null-on-zero matches the oracle's CASE guards instead
    def ratioD(sx: Column, sy: Column) =
      try_divide(sx.cast("double"), sy.cast("double"))
    def varR(n: Column, sx: Column, sy: Column, sxx: Column,
        syy: Column, sxy: Column) = {
      val nD = n.cast("double")
      val r = ratioD(sx, sy)
      val my = try_divide(sy.cast("double"), nD)
      val nn1 = nD * (n - 1).cast("double")
      val vx = try_divide((dec(n) * sxx - sx * sx).cast("double"), nn1)
      val vy = try_divide((dec(n) * syy - sy * sy).cast("double"), nn1)
      val vxy = try_divide((dec(n) * sxy - sx * sy).cast("double"), nn1)
      try_divide(vx + r * r * vy - lit(2.0) * r * vxy, nD * my * my)
    }
    val ctl = per.filter(col("variant") === control)
      .select(col("n_units").as("__cn__"), col("__sx__").as("__csx__"),
        col("__sy__").as("__csy__"), col("__sxx__").as("__csxx__"),
        col("__syy__").as("__csyy__"), col("__sxy__").as("__csxy__"))
    val isCtl = col("variant") === control
    val rV = ratioD(col("__sx__"), col("__sy__"))
    val rC = ratioD(col("__csx__"), col("__csy__"))
    val vV = varR(col("n_units"), col("__sx__"), col("__sy__"),
      col("__sxx__"), col("__syy__"), col("__sxy__"))
    val vC = varR(col("__cn__"), col("__csx__"), col("__csy__"),
      col("__csxx__"), col("__csyy__"), col("__csxy__"))
    val diff = rV - rC
    per.crossJoin(broadcast(ctl))
      .select(col("variant"), col("n_units"),
        col("__sx__").as("sum_num"), col("__sy__").as("sum_den"),
        when(col("__sy__") =!= 0, round(rV, 6)).as("ratio"),
        when(!isCtl && col("__sy__") =!= 0 && col("__csy__") =!= 0,
          round(diff, 6)).as("diff_vs_control"),
        when(!isCtl && col("n_units") > 1 && col("__cn__") > 1 &&
            col("__sy__") =!= 0 && col("__csy__") =!= 0 &&
            (vV + vC) > 0,
          diff * diff * lit(1000000.0) >=
            lit(zc2Micro.toDouble) * (vV + vC))
          .as("significant"))
  }

  /** Mann–Whitney U rank-sum test per group — the nonparametric
    * two-sample comparison that belongs next to [[ksTest]] (KS asks
    * "did the SHAPE move", rank-sum asks "does one population
    * stochastically dominate", and unlike a t-test it ignores outlier
    * magnitude entirely). The same statistic IS the exact ROC AUC:
    * `AUC = U / (n_pos·n_neg)`, so one op serves both the drift test
    * and the classifier-score evaluation ("does the positive class
    * really score higher?").
    *
    * Everything derives from exact integers on the value histogram.
    * Midranks carry the classic ½ for ties, so all ranks ride DOUBLED
    * (`rank2 = 2·before + t + 1`, an integer); `u2 = 2·U` and
    * `auc = u2 / (2·n_pos·n_neg)` with division as presentation. The
    * significance flag is the tie-corrected normal approximation
    * `z² = ((u2 − n_pos·n_neg)/2)² / Var(U)` with
    * `Var(U) = n_pos·n_neg·(n(n−1)(n+1) − Σ(t³−t)) / (12·n(n−1))`:
    * every MOMENT stays an exact decimal integer (safe through ~1e10
    * rows per group), and only the final z² assembles in doubles —
    * deterministic across engines because the oracle replays the
    * identical expression tree on the identical integers. (An earlier
    * all-decimal cross-multiplied form was bit-exact but overflowed
    * decimal(38,0) — an ANSI-mode job KILLER — at ~3e5 rows per group;
    * six-way integer products do not survive production group sizes.)
    *
    * Shape: ONE partial-aggregable collapse to the per-(group, value)
    * histogram, one window over that histogram (partitioned by group —
    * a hot group costs its |distinct values|, the [[percentileRank]]
    * discipline), one partial-aggregable fold to a row per group.
    * Requires an integral value column (quantize upstream, the
    * [[quantileBuckets]] contract). Returns
    * `(group, n_pos, n_neg, u2, auc, significant)` — `u2` as
    * decimal(38,0); cast at the export boundary when values fit. */
  def rankSumTest(df: DataFrame, groupCol: String, labelCol: String,
      valueCol: String, zCrit: Double = 1.96): DataFrame = {
    requireIntegral(df, valueCol, "rankSumTest")
    val zc2Micro = math.round(zCrit * zCrit * 1e6)
    val hist = df
      .filter(col(valueCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol).cast("long").as("__v__"))
      .agg(
        sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
          .as("__cp__"),
        sum(when(col(labelCol).cast("boolean"), 0L).otherwise(1L))
          .as("__cn__"))
    val wBefore = Window.partitionBy(col(groupCol))
      .orderBy(col("__v__").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val ranked = hist
      .withColumn("__before__",
        coalesce(sum(col("__cp__") + col("__cn__")).over(wBefore),
          lit(0L)))
      // doubled midrank of every row tied at this value
      .withColumn("__rank2__",
        col("__before__") * 2 + col("__cp__") + col("__cn__") + 1)
      .withColumn("__t__", dec(col("__cp__") + col("__cn__")))
    val per = ranked.groupBy(col(groupCol))
      .agg(sum(col("__cp__")).as("n_pos"),
        sum(col("__cn__")).as("n_neg"),
        sum(dec(col("__cp__")) * dec(col("__rank2__"))).as("__r2__"),
        sum(col("__t__") * col("__t__") * col("__t__") - col("__t__"))
          .as("__ties__"))
    val nP = col("n_pos")
    val nN = col("n_neg")
    val n = nP + nN
    val u2 = col("__r2__") - dec(nP) * dec(nP + 1)
    val mu2 = dec(nP) * dec(nN)
    // n(n−1)(n+1) − Σ(t³−t): zero iff every row in the group ties
    val varNum = dec(n) * dec(n + 1) * dec(n - 1) - col("__ties__")
    // z² in doubles from the exact moments — the oracle replays this
    // exact expression tree, so the verdict is engine-identical.
    // try_divide: ANSI throws on double/0, and a single-row or
    // one-sided group zeroes these denominators
    val dHalf = (u2 - mu2).cast("double") / lit(2.0)
    val varU = try_divide(mu2.cast("double") * varNum.cast("double"),
      lit(12.0) * n.cast("double") * (n - 1).cast("double"))
    val z2 = try_divide(dHalf * dHalf, varU)
    per.select(col(groupCol), nP, nN, u2.as("u2"),
        when(nP > 0 && nN > 0,
          round(try_divide(u2.cast("double"),
            (nP * nN * 2L).cast("double")), 6)).as("auc"),
        when(nP > 0 && nN > 0 && varNum > 0,
            z2 * lit(1000000.0) >= lit(zc2Micro.toDouble))
          .otherwise(lit(false)).as("significant"))
  }

  /** Welch two-sample t-test of an integral metric per variant vs the
    * named control — the mean-difference readout beside
    * [[proportionTest]] (that one compares conversion RATES;
    * experiments also ship "did revenue-per-user / latency / tokens
    * MOVE?"). Welch's form (unpooled variances) is the safe default —
    * it never assumes the variants share a variance, and at experiment
    * scale the degrees of freedom are large enough that the normal
    * threshold `zCrit` applies.
    *
    * All moments are exact integer sums (Σv, Σv² in decimal(38,0),
    * safe through ~1e10 rows per variant); with `S_i = Σv`, `Q_i = Σv²`
    * and `nQ_i − S_i² = n_i(n_i−1)s_i²`, the verdict assembles
    * `t² = (S₁/n₁ − S₂/n₂)² / (ss₁/(n₁²(n₁−1)) + ss₂/(n₂²(n₂−1)))`
    * in doubles FROM those exact moments and compares `t²·1e6` against
    * `round(zc²·1e6)` — deterministic across engines because the
    * oracle replays the identical expression tree on the identical
    * integers ([[rankSumTest]]'s discipline; the all-decimal
    * cross-multiplied form overflowed decimal(38,0) at ~1e5 rows per
    * variant, an ANSI-mode job killer). Means are exact rationals,
    * emitted rounded to 6.
    *
    * Shape: one partial-aggregable collapse to |variants| moment rows,
    * then a broadcast single-row join of the control's moments — the
    * [[proportionTest]] plan. Returns
    * `(variant, n, mean, diff_vs_control, significant)`; the control
    * row carries nulls for the comparison columns. */
  def welchTTest(df: DataFrame, variantCol: String, valueCol: String,
      control: String, zCrit: Double = 1.96): DataFrame = {
    requireIntegral(df, valueCol, "welchTTest")
    val zc2Micro = math.round(zCrit * zCrit * 1e6)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val per = df.filter(col(valueCol).isNotNull)
      .select(col(variantCol).cast("string").as("variant"),
        col(valueCol).cast("long").as("__v__"))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("__v__"))).as("__s__"),
        sum(dec(col("__v__")) * dec(col("__v__"))).as("__q__"))
    val ctl = per.filter(col("variant") === control)
      .select(col("n").as("__cn__"), col("__s__").as("__cs__"),
        col("__q__").as("__cq__"))
    val n1 = dec(col("n")); val s1 = col("__s__"); val q1 = col("__q__")
    val n2 = dec(col("__cn__")); val s2 = col("__cs__")
    val q2 = col("__cq__")
    // n·Q − S² = n(n−1)·s²  (≥ 0; 0 ⇔ constant sample) — exact
    val ss1 = n1 * q1 - s1 * s1
    val ss2 = n2 * q2 - s2 * s2
    // t² in doubles from the exact moments (oracle-identical tree);
    // try_divide because ANSI throws on double/0 and n = 1 variants
    // zero the variance denominators
    val md = s1.cast("double") / n1.cast("double") -
      s2.cast("double") / n2.cast("double")
    val va = try_divide(ss1.cast("double"),
      n1.cast("double") * n1.cast("double") * (n1 - 1).cast("double"))
    val vb = try_divide(ss2.cast("double"),
      n2.cast("double") * n2.cast("double") * (n2 - 1).cast("double"))
    val t2 = try_divide(md * md, va + vb)
    val isCtl = col("variant") === control
    per.crossJoin(broadcast(ctl))
      .select(col("variant"), col("n"),
        round(s1.cast("double") / n1.cast("double"), 6).as("mean"),
        when(!isCtl, round(
          (s1.cast("double") / n1.cast("double")) -
            (s2.cast("double") / n2.cast("double")), 6))
          .as("diff_vs_control"),
        when(!isCtl && col("n") > 1 && col("__cn__") > 1 &&
            (ss1 > 0 || ss2 > 0),
          t2 * lit(1000000.0) >= lit(zc2Micro.toDouble))
          .as("significant"))
  }

  /** Partial correlation per group — the association between x and y
    * with a confounder z "held fixed":
    * `r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²))`. The
    * first-order answer to [[simpsonsCheck]]'s alarm and the numeric
    * sibling of [[mantelHaenszel]] (that one controls a categorical
    * stratum; this controls a numeric covariate) — doc quality vs
    * length "controlling for" source size, metric vs treatment
    * controlling for pre-period.
    *
    * One partial-aggregable pass collects all nine exact decimal
    * moments (listwise deletion: rows with ANY null dropped); each
    * pairwise r is one double division of exact integers
    * (`(nΣab − ΣaΣb)/（√da·√db)`, the [[corrMatrix]] tree), and the
    * partial assembles from those doubles identically on both
    * engines. Returns `(group, n, r_xy, r_xz, r_yz, r_xy_given_z)` —
    * nulls when a variance is zero or a control correlation is ±1. */
  def partialCorr(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, zCol: String): DataFrame = {
    Seq(xCol, yCol, zCol).foreach(requireIntegral(df, _, "partialCorr"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(zCol).isNotNull)
      .select(col(groupCol).as("__g__"),
        col(xCol).cast("long").as("__x__"),
        col(yCol).cast("long").as("__y__"),
        col(zCol).cast("long").as("__z__"))
    val m = base.groupBy(col("__g__")).agg(
      count(lit(1)).as("n"),
      sum(dec(col("__x__"))).as("__sx__"),
      sum(dec(col("__y__"))).as("__sy__"),
      sum(dec(col("__z__"))).as("__sz__"),
      sum(dec(col("__x__")) * dec(col("__x__"))).as("__qx__"),
      sum(dec(col("__y__")) * dec(col("__y__"))).as("__qy__"),
      sum(dec(col("__z__")) * dec(col("__z__"))).as("__qz__"),
      sum(dec(col("__x__")) * dec(col("__y__"))).as("__sxy__"),
      sum(dec(col("__x__")) * dec(col("__z__"))).as("__sxz__"),
      sum(dec(col("__y__")) * dec(col("__z__"))).as("__syz__"))
    val nn = dec(col("n"))
    def va(s: String, q: String) = nn * col(q) - col(s) * col(s)
    def r(ab: String, a: String, b: String, qa: String, qb: String) =
      try_divide((nn * col(ab) - col(a) * col(b)).cast("double"),
        sqrt(va(a, qa).cast("double")) * sqrt(va(b, qb).cast("double")))
    val rxy = r("__sxy__", "__sx__", "__sy__", "__qx__", "__qy__")
    val rxz = r("__sxz__", "__sx__", "__sz__", "__qx__", "__qz__")
    val ryz = r("__syz__", "__sy__", "__sz__", "__qy__", "__qz__")
    val den = sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz))
    val anyVar = va("__sx__", "__qx__") > 0 && va("__sy__", "__qy__") > 0 &&
      va("__sz__", "__qz__") > 0
    m.select(col("__g__").as(groupCol), col("n"),
      when(anyVar, round(rxy, 6)).as("r_xy"),
      when(anyVar, round(rxz, 6)).as("r_xz"),
      when(anyVar, round(ryz, 6)).as("r_yz"),
      // den > 1e-6, not > 0: a control that is an exact affine image
      // of x rounds to |r| = 1 ± one ulp, leaving den ~1e-16 and the
      // ratio pure float noise — the guard declares collinear controls
      // unanswerable (both engines compute the identical doubles, so
      // the epsilon compare is deterministic)
      when(anyVar && den > 1e-6,
        round(try_divide(rxy - rxz * ryz, den), 6)).as("r_xy_given_z"))
  }

  /** Trimmed mean per group — the robust location estimate that
    * ignores the `trimPctMicro`/1e6 fraction at EACH tail (10% default:
    * the middle 80% decides). The metric to reach for when
    * [[madOutliers]] shows heavy tails and a mean-based readout
    * ([[welchTTest]]) would let one whale or one instrumented-client
    * zero move the number.
    *
    * Exactness: k = (n·pct) div 1e6 rows trimmed per side as an exact
    * integer; each distinct value's surviving multiplicity is the exact
    * interval overlap `min(cumLe, n−k) − max(cumBefore, k)` off the
    * value histogram, so the trimmed sum is an exact decimal and the
    * mean is one division rounded to 6. Windows run over the
    * DISTINCT-value grid only ([[percentileRank]] shape). Returns
    * `(group, n, n_used, trimmed_mean, mean)` — trimmed_mean null when
    * the trim consumes everything. */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
      trimPctMicro: Long = 100000L): DataFrame = {
    require(trimPctMicro >= 0 && trimPctMicro < 500000L,
      s"trim fraction must be in [0, 0.5) micro; got $trimPctMicro")
    requireIntegral(df, valueCol, "trimmedMean")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g__"),
        col(valueCol).cast("long").as("__v__"))
    val h = base.groupBy(col("__g__"), col("__v__"))
      .agg(count(lit(1)).as("__c__"))
    val w = Window.partitionBy(col("__g__")).orderBy(col("__v__"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = base.groupBy(col("__g__"))
      .agg(count(lit(1)).as("n"), sum(dec(col("__v__"))).as("__s__"))
    val withCum = h
      .withColumn("__cb__", coalesce(sum(col("__c__")).over(w), lit(0L)))
      .join(tot, Seq("__g__"))
      .withColumn("__k__",
        expr(s"(n * ${trimPctMicro}L) div 1000000L"))
    val lo = greatest(col("__cb__"), col("__k__"))
    val hi = least(col("__cb__") + col("__c__"), col("n") - col("__k__"))
    val kept = when(hi > lo, hi - lo).otherwise(lit(0L))
    withCum.groupBy(col("__g__"), col("n"), col("__s__"), col("__k__"))
      .agg(sum(dec(kept) * dec(col("__v__"))).as("__ts__"),
        sum(kept).as("n_used"))
      .select(col("__g__").as(groupCol), col("n"), col("n_used"),
        when(col("n_used") > 0,
          round(col("__ts__").cast("double") /
            col("n_used").cast("double"), 6)).as("trimmed_mean"),
        round(col("__s__").cast("double") / col("n").cast("double"), 6)
          .as("mean"))
  }

  /** Quantile normalization across groups — each row's value maps to
    * the GLOBAL value at its within-group percentile (nearest-rank
    * ⌈p·N⌉), so "grader A's 0.9" and "grader B's 0.7" land on the same
    * scale when A and B score the same share of their pools below
    * them. The cross-source score-calibration step before pooling
    * judge/classifier scores ([[rankNormalize]] flattens to uniform
    * ranks; this preserves the global distribution's SHAPE).
    *
    * Exactness: within-group rank `cumLe` and the target global rank
    * `⌈cumLe·N/n_g⌉ = (cumLe·N + n_g − 1) div n_g` are exact integers
    * off the distinct-value histograms; the rank→value lookup is a
    * union of the two grids scanned by ONE ordered window (first
    * following global entry with cumLe_G ≥ target) — grid-bounded,
    * never row-bounded, the [[graft.ops.EventAnalytics.kaplanMeier]]
    * grid-window posture. Returns every input row plus
    * `(p_micro, norm_value)`. */
  def quantileNormalize(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    requireIntegral(df, valueCol, "quantileNormalize")
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g__"),
        col(valueCol).cast("long").as("__v__"))
    val h = base.groupBy(col("__g__"), col("__v__"))
      .agg(count(lit(1)).as("__c__"))
    val wg = Window.partitionBy(col("__g__")).orderBy(col("__v__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ng = base.groupBy(col("__g__")).agg(count(lit(1)).as("__ng__"))
    val tot = base.agg(count(lit(1)).as("__nn__"))
    val q = h.withColumn("__cl__", sum(col("__c__")).over(wg))
      .join(ng, Seq("__g__")).crossJoin(broadcast(tot))
      .select(col("__g__"), col("__v__"),
        expr("(__cl__ * 1000000L) div __ng__").as("p_micro"),
        expr("(__cl__ * __nn__ + __ng__ - 1L) div __ng__").as("__gr__"))
    val wgl = Window.orderBy(col("__v__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gl = base.groupBy(col("__v__")).agg(count(lit(1)).as("__c__"))
      .withColumn("__clg__", sum(col("__c__")).over(wgl))
    // interleave: query rows (tag 0) before global entries (tag 1) at
    // the same position; each query row's answer is the first global
    // value at-or-after its target rank
    val union = q.select(col("__gr__").as("__pos__"),
        lit(0).as("__tag__"), col("__g__"), col("__v__"),
        col("p_micro"), lit(null).cast("long").as("__vg__"))
      .unionAll(gl.select(col("__clg__").as("__pos__"),
        lit(1).as("__tag__"), lit(null).cast("string").as("__g__"),
        lit(null).cast("long").as("__v__"),
        lit(null).cast("long").as("p_micro"),
        col("__v__").as("__vg__")))
    // DESCENDING running frame, not an UNBOUNDED FOLLOWING lookahead:
    // Spark evaluates (unboundedPreceding, currentRow) incrementally in
    // O(1) per row, while a following-frame first(ignoreNulls) rescans
    // forward per row — measured 119 s vs 1.5 s on the sf0.1 gate. At
    // the same (pos) the global entry sorts ahead of the query rows
    // (tag desc), so "last global seen" IS the first global at-or-after
    // the target rank.
    val ws = Window.orderBy(col("__pos__").desc, col("__tag__").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mapped = union
      .withColumn("__norm__",
        last(col("__vg__"), ignoreNulls = true).over(ws))
      .filter(col("__tag__") === 0)
      .select(col("__g__"), col("__v__"), col("p_micro"),
        col("__norm__").as("norm_value"))
    base.join(mapped, Seq("__g__", "__v__"))
      .select(col("__g__").as(groupCol), col("__v__").as(valueCol),
        col("p_micro"), col("norm_value"))
  }

  /** Isotonic (PAV) calibration per group — the least-squares MONOTONE
    * score→rate curve: the model-agnostic calibrator that fixes a
    * ranker whose scores order well but whose magnitudes lie
    * ([[calibration]] diagnoses the lying; this repairs it without
    * inventing a parametric shape). Pool-Adjacent-Violators runs as a
    * JIT expression over the per-group (score, k, n) grid with exact
    * BigInteger rate comparisons; fitted rates leave as the exact
    * block-mean rational rendered at 6dp (IEEE division is correctly
    * rounded, so any representation of the same rational prints the
    * same double — which is how the DuckDB oracle can replay the fit
    * through the ENTIRELY DIFFERENT minimax formula
    * `ŷᵢ = max_{j≤i} min_{l≥i} mean(j..l)` and still hash-match).
    *
    * Shape: one partial-aggregable (group, score) collapse, one
    * grid-bounded per-group collect + native fit, one grid equi
    * join-back. Returns `(group, score, k, n, fit)` — fit
    * non-decreasing in score by construction. */
  def isotonicCalibration(df: DataFrame, groupCol: String,
      scoreCol: String, okCol: String): DataFrame = {
    requireIntegral(df, scoreCol, "isotonicCalibration")
    val grid = df.filter(col(okCol).isNotNull)
      .select(col(groupCol).as("__g__"),
        col(scoreCol).cast("long").as("__s__"),
        col(okCol).cast("boolean").as("__ok__"))
      .groupBy(col("__g__"), col("__s__"))
      .agg(sum(when(col("__ok__"), 1L).otherwise(0L)).as("k"),
        count(lit(1)).as("n"))
    val per = grid.groupBy(col("__g__"))
      .agg(sort_array(collect_list(struct(col("__s__").as("s"),
        col("k").as("k"), col("n").as("n")))).as("__grid__"))
    val fit = per.select(col("__g__"),
        explode(graft.functions.NativeStats.pav_fit(col("__grid__")))
          .as("__f__"))
      .select(col("__g__"), col("__f__.s").as("__s__"),
        col("__f__.num").as("__num__"), col("__f__.den").as("__den__"))
    grid.join(fit, Seq("__g__", "__s__"))
      .select(col("__g__").as(groupCol), col("__s__").as(scoreCol),
        col("k"), col("n"),
        round(col("__num__").cast("double") /
          col("__den__").cast("double"), 6).as("fit"))
  }

  /** Qini uplift curve per group — [[liftTable]]'s treatment-aware
    * sibling: rank by the model score DESCENDING, and at each decile
    * report the cumulative INCREMENTAL conversions
    * `uplift(φ) = k_t − k_c·n_t/n_c` (treated successes minus the
    * control rate scaled to the treated volume). This is the curve
    * that evaluates an uplift/targeting model — raw response curves
    * reward targeting sure things; Qini rewards targeting persuadables.
    *
    * Exactness: deciles come from the exact integer rule
    * `1 + (massAbove·10) div N` over the DESCENDING distinct-score
    * histogram (ties share a decile; the [[rfm]] tile discipline);
    * all counts are exact integers, the uplift is one double
    * assembly per decile row. Returns per (group, decile):
    * `(n_t, k_t, n_c, k_c, uplift, frac_targeted)` — all cumulative
    * from the best-scored decile down; deciles with no control mass
    * yet report null uplift. */
  def qiniCurve(df: DataFrame, groupCol: String, scoreCol: String,
      treatedCol: String, okCol: String, tiles: Int = 10): DataFrame = {
    require(tiles >= 2 && tiles <= 100,
      s"tiles must be in [2,100]; got $tiles")
    requireIntegral(df, scoreCol, "qiniCurve")
    val base = df.filter(col(okCol).isNotNull)
      .select(col(groupCol).as("__g__"),
        col(scoreCol).cast("long").as("__s__"),
        col(treatedCol).cast("boolean").as("__t__"),
        col(okCol).cast("boolean").as("__ok__"))
    val h = base.groupBy(col("__g__"), col("__s__"))
      .agg(count(lit(1)).as("__c__"),
        sum(when(col("__t__"), 1L).otherwise(0L)).as("__nt__"),
        sum(when(col("__t__") && col("__ok__"), 1L).otherwise(0L))
          .as("__kt__"),
        sum(when(!col("__t__"), 1L).otherwise(0L)).as("__nc__"),
        sum(when(!col("__t__") && col("__ok__"), 1L).otherwise(0L))
          .as("__kc__"))
    val wDesc = Window.partitionBy(col("__g__"))
      .orderBy(col("__s__").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = base.groupBy(col("__g__")).agg(count(lit(1)).as("__n__"))
    val tiled = h.join(tot, Seq("__g__"))
      .withColumn("__above__",
        coalesce(sum(col("__c__")).over(wDesc), lit(0L)))
      .withColumn("__tile__",
        expr(s"1L + (__above__ * ${tiles}L) div __n__"))
    val per = tiled.groupBy(col("__g__"), col("__tile__"))
      .agg(sum(col("__nt__")).as("__dnt__"),
        sum(col("__kt__")).as("__dkt__"),
        sum(col("__nc__")).as("__dnc__"),
        sum(col("__kc__")).as("__dkc__"),
        sum(col("__c__")).as("__dc__"))
    val wCum = Window.partitionBy(col("__g__")).orderBy(col("__tile__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per
      .withColumn("n_t", sum(col("__dnt__")).over(wCum))
      .withColumn("k_t", sum(col("__dkt__")).over(wCum))
      .withColumn("n_c", sum(col("__dnc__")).over(wCum))
      .withColumn("k_c", sum(col("__dkc__")).over(wCum))
      .withColumn("__cn__", sum(col("__dc__")).over(wCum))
      .join(tot, Seq("__g__"))
    cum.select(col("__g__").as(groupCol), col("__tile__").as("decile"),
      col("n_t"), col("k_t"), col("n_c"), col("k_c"),
      when(col("n_c") > 0,
        round(col("k_t").cast("double") -
          col("k_c").cast("double") * col("n_t").cast("double") /
            col("n_c").cast("double"), 6)).as("uplift"),
      round(col("__cn__").cast("double") / col("__n__").cast("double"),
        6).as("frac_targeted"))
  }

  /** Two-sample Anderson–Darling test per group — the TAIL-weighted
    * member of the ECDF-test family: [[ksTest]] sees the worst gap,
    * [[cvmTest]] integrates all gaps evenly, AD divides each gap by
    * `B(N−B)` so divergence out in the tails — exactly where latency
    * SLOs and risk metrics live — counts hardest. Discrete rank form
    * (Pettitt 1976; tie blocks contribute once at their right boundary
    * with their multiplicity):
    * `A² = (1/(nm)) Σ_j l_j·(M_j·N − n·B_j)²/(B_j·(N−B_j))` over the
    * pooled grid minus its largest value. Numerator terms are exact
    * integer cross-multiplications; the fold runs value-sorted; the
    * verdict compares against `critValue` (default 2.492, the
    * asymptotic 5% point for k = 2). Returns
    * `(group, n_a, n_b, a2, significant)`. */
  def adTest(a: DataFrame, b: DataFrame, groupCol: String,
      valueCol: String, critValue: Double = 2.492): DataFrame = {
    requireIntegral(a, valueCol, "adTest")
    requireIntegral(b, valueCol, "adTest")
    val critMicro = math.round(critValue * 1e6)
    def dec(c: Column) = c.cast("decimal(38,0)")
    def side(df: DataFrame, tag: Int) =
      df.filter(col(valueCol).isNotNull)
        .select(col(groupCol).as("__g__"),
          col(valueCol).cast("long").as("__v__"), lit(tag).as("__t__"))
    val pooled = side(a, 0).unionAll(side(b, 1))
    val h = pooled.groupBy(col("__g__"), col("__v__"))
      .agg(sum(when(col("__t__") === 0, 1L).otherwise(0L)).as("__ca__"),
        sum(when(col("__t__") === 1, 1L).otherwise(0L)).as("__cb__"))
    val w = Window.partitionBy(col("__g__")).orderBy(col("__v__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = pooled.groupBy(col("__g__"))
      .agg(sum(when(col("__t__") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__t__") === 1, 1L).otherwise(0L)).as("n_b"))
    val cum = h
      .withColumn("__cla__", sum(col("__ca__")).over(w))
      .withColumn("__clb__", sum(col("__cb__")).over(w))
      .join(tot, Seq("__g__"))
    val bigN = col("n_a") + col("n_b")
    val bj = col("__cla__") + col("__clb__")
    val num = dec(col("__cla__")) * dec(bigN) -
      dec(col("n_a")) * dec(bj)
    // value-sorted double fold of l_j·num²/(B_j(N−B_j)), last value out
    val term = when(bj < bigN,
      (dec(col("__ca__") + col("__cb__")) * num * num).cast("double") /
        (dec(bj) * dec(bigN - bj)).cast("double"))
      .otherwise(lit(0.0))
    val folded = cum.groupBy(col("__g__"), col("n_a"), col("n_b"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("__v__").as("v"),
          term.as("t")))),
        lit(0.0), (acc, x) => acc + x("t")).as("__s__"))
    val a2 = try_divide(col("__s__"),
      col("n_a").cast("double") * col("n_b").cast("double"))
    folded.select(col("__g__").as(groupCol), col("n_a"), col("n_b"),
      when(col("n_a") > 0 && col("n_b") > 0, round(a2, 6)).as("a2"),
      when(col("n_a") > 0 && col("n_b") > 0,
        a2 * lit(1000000.0) >= lit(critMicro.toDouble))
        .as("significant"))
  }

  /** Yuen's trimmed-mean test per variant vs control — the robust
    * [[welchTTest]]: compares `pct`-trimmed means with winsorized
    * variances, so a fat tail or a few instrumented-client whales
    * cannot manufacture or bury a difference (Yuen 1974; the test to
    * reach for when [[madOutliers]] lights up on an experiment
    * metric). `t = (x̄t₁ − x̄t₂)/√(d₁+d₂)` with
    * `d = SSw/(h(h−1))`, h = n−2k the effective count and SSw the
    * winsorized sum of squares — both EXACT decimals off the
    * value histogram (clamped masses are interval overlaps, squares
    * of exact integers), with the verdict cross-multiplied in the
    * same doubles ([[welchTTest]] discipline). Returns
    * `(variant, n, h, trimmed_mean, diff_vs_control, significant)`. */
  def yuenTest(df: DataFrame, variantCol: String, valueCol: String,
      control: String, trimPctMicro: Long = 200000L,
      zCrit: Double = 1.96): DataFrame = {
    require(trimPctMicro >= 0 && trimPctMicro < 500000L,
      s"trim fraction must be in [0, 0.5) micro; got $trimPctMicro")
    requireIntegral(df, valueCol, "yuenTest")
    val zc2Micro = math.round(zCrit * zCrit * 1e6)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(variantCol).cast("string").as("__g__"),
        col(valueCol).cast("long").as("__v__"))
    val h = base.groupBy(col("__g__"), col("__v__"))
      .agg(count(lit(1)).as("__c__"))
    val w = Window.partitionBy(col("__g__")).orderBy(col("__v__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = base.groupBy(col("__g__")).agg(count(lit(1)).as("n"))
    val cum = h.withColumn("__cl__", sum(col("__c__")).over(w))
      .join(tot, Seq("__g__"))
      .withColumn("__k__", expr(s"(n * ${trimPctMicro}L) div 1000000L"))
    val bounds = cum.groupBy(col("__g__"), col("n"), col("__k__"))
      .agg(min(when(col("__cl__") >= col("__k__") + 1, col("__v__")))
        .as("__lo__"),
        min(when(col("__cl__") >= col("n") - col("__k__"), col("__v__")))
          .as("__hi__"))
    val cb = col("__cl__") - col("__c__")
    val massBelow = least(col("__cl__"), col("__k__")) -
      least(cb, col("__k__"))
    val massAbove = greatest(col("__cl__"), col("n") - col("__k__")) -
      greatest(cb, col("n") - col("__k__"))
    val massMid = col("__c__") - massBelow - massAbove
    val trimMass = when(col("__cl__") > col("__k__"),
      least(col("__cl__"), col("n") - col("__k__")) -
        greatest(cb, col("__k__"))).otherwise(lit(0L))
    val trimKept = when(trimMass > 0, trimMass).otherwise(lit(0L))
    val joined = cum.join(bounds.select(col("__g__"), col("__lo__"),
      col("__hi__")), Seq("__g__"))
    val per = joined.groupBy(col("__g__"), col("n"), col("__k__"),
        col("__lo__"), col("__hi__"))
      .agg(
        sum(dec(trimKept) * dec(col("__v__"))).as("__ts__"),
        sum(trimKept).as("__h__"),
        sum(dec(massBelow) * dec(col("__lo__")) * dec(col("__lo__")) +
          dec(massMid) * dec(col("__v__")) * dec(col("__v__")) +
          dec(massAbove) * dec(col("__hi__")) * dec(col("__hi__")))
          .as("__wq__"),
        sum(dec(massBelow) * dec(col("__lo__")) +
          dec(massMid) * dec(col("__v__")) +
          dec(massAbove) * dec(col("__hi__"))).as("__ws__"))
    val ctl = per.filter(col("__g__") === control)
      .select(col("n").as("__cn__"), col("__h__").as("__ch__"),
        col("__ts__").as("__cts__"), col("__wq__").as("__cwq__"),
        col("__ws__").as("__cws__"))
    // SSw·n = n·Σw² − (Σw)², exact; d = SSw/(h(h−1))
    def dTerm(n: Column, q: Column, s: Column, hh: Column) =
      try_divide(
        try_divide((dec(n) * q - s * s).cast("double"), n.cast("double")),
        hh.cast("double") * (hh - 1).cast("double"))
    val tm1 = try_divide(col("__ts__").cast("double"),
      col("__h__").cast("double"))
    val tm2 = try_divide(col("__cts__").cast("double"),
      col("__ch__").cast("double"))
    val d1 = dTerm(col("n"), col("__wq__"), col("__ws__"), col("__h__"))
    val d2 = dTerm(col("__cn__"), col("__cwq__"), col("__cws__"),
      col("__ch__"))
    val t2 = try_divide((tm1 - tm2) * (tm1 - tm2), d1 + d2)
    val isCtl = col("__g__") === control
    val ok = !isCtl && col("__h__") > 1 && col("__ch__") > 1
    per.crossJoin(broadcast(ctl))
      .select(col("__g__").as(variantCol), col("n"),
        col("__h__").as("h"),
        round(tm1, 6).as("trimmed_mean"),
        when(ok, round(tm1 - tm2, 6)).as("diff_vs_control"),
        when(ok && (d1 + d2) > 0,
          t2 * lit(1000000.0) >= lit(zc2Micro.toDouble))
          .as("significant"))
  }

  /** Two-sample Cramér–von Mises test per group — the INTEGRATED
    * distribution-difference test beside [[ksTest]]'s supremum: KS sees
    * the single worst gap (sharp local shifts), CvM accumulates every
    * gap (diffuse shifts a sup-statistic dilutes). Statistic (Anderson
    * 1962, tie-extended):
    * `T = Σ_v cnt_v·(cumA_v·m − cumB_v·n)² / (n·m·(n+m)²)` over the
    * pooled distinct-value grid — the numerator is an exact decimal
    * (every term an integer cross-multiplication), T is one double
    * division, and the verdict compares `T·1e6` against the asymptotic
    * 5% critical value 0.461 by the same micro-scaled rule as
    * [[rankSumTest]].
    *
    * Shape: one (group, value) collapse, windows over the pooled grid
    * only, one moment collapse. Returns
    * `(group, n_a, n_b, t_stat, significant)` — null verdict when
    * either side is empty. */
  def cvmTest(a: DataFrame, b: DataFrame, groupCol: String,
      valueCol: String, critMicro: Long = 461000L): DataFrame = {
    requireIntegral(a, valueCol, "cvmTest")
    requireIntegral(b, valueCol, "cvmTest")
    def dec(c: Column) = c.cast("decimal(38,0)")
    def side(df: DataFrame, tag: Int) =
      df.filter(col(valueCol).isNotNull)
        .select(col(groupCol).as("__g__"),
          col(valueCol).cast("long").as("__v__"), lit(tag).as("__t__"))
    val pooled = side(a, 0).unionAll(side(b, 1))
    val h = pooled.groupBy(col("__g__"), col("__v__"))
      .agg(sum(when(col("__t__") === 0, 1L).otherwise(0L)).as("__ca__"),
        sum(when(col("__t__") === 1, 1L).otherwise(0L)).as("__cb__"))
    val w = Window.partitionBy(col("__g__")).orderBy(col("__v__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = pooled.groupBy(col("__g__"))
      .agg(sum(when(col("__t__") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__t__") === 1, 1L).otherwise(0L)).as("n_b"))
    val cum = h
      .withColumn("__cla__", sum(col("__ca__")).over(w))
      .withColumn("__clb__", sum(col("__cb__")).over(w))
      .join(tot, Seq("__g__"))
    val d = dec(col("__cla__")) * dec(col("n_b")) -
      dec(col("__clb__")) * dec(col("n_a"))
    val term = dec(col("__ca__") + col("__cb__")) * d * d
    val m = cum.groupBy(col("__g__"), col("n_a"), col("n_b"))
      .agg(sum(term).as("__num__"))
    val nn = dec(col("n_a")); val mm = dec(col("n_b"))
    val den = nn * mm * (nn + mm) * (nn + mm)
    val t = try_divide(col("__num__").cast("double"), den.cast("double"))
    m.select(col("__g__").as(groupCol), col("n_a"), col("n_b"),
      when(col("n_a") > 0 && col("n_b") > 0, round(t, 6)).as("t_stat"),
      when(col("n_a") > 0 && col("n_b") > 0,
        t * lit(1000000.0) >= lit(critMicro.toDouble)).as("significant"))
  }

  /** Winsorized mean per group — [[trimmedMean]]'s clamping sibling:
    * instead of DROPPING the `pct` tails it pins them to the tail
    * boundary values, so n stays n (the variance-friendly choice when
    * the tail rows are real but their magnitudes aren't trusted —
    * bot-inflated watch times, capped-sensor readings).
    *
    * Exactness: the boundary values are the exact order statistics at
    * ranks k+1 and n−k (k = (n·pct) div 1e6) read off the distinct-value
    * histogram; each value's surviving/clamped multiplicities are exact
    * interval overlaps, the winsorized sum is an exact decimal.
    * Windows over the grid only. Returns
    * `(group, n, lo, hi, winsorized_mean, mean)`. */
  def winsorizedMean(df: DataFrame, groupCol: String, valueCol: String,
      trimPctMicro: Long = 100000L): DataFrame = {
    require(trimPctMicro >= 0 && trimPctMicro < 500000L,
      s"trim fraction must be in [0, 0.5) micro; got $trimPctMicro")
    requireIntegral(df, valueCol, "winsorizedMean")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g__"),
        col(valueCol).cast("long").as("__v__"))
    val h = base.groupBy(col("__g__"), col("__v__"))
      .agg(count(lit(1)).as("__c__"))
    val w = Window.partitionBy(col("__g__")).orderBy(col("__v__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = base.groupBy(col("__g__"))
      .agg(count(lit(1)).as("n"), sum(dec(col("__v__"))).as("__s__"))
    val cum = h.withColumn("__cl__", sum(col("__c__")).over(w))
      .join(tot, Seq("__g__"))
      .withColumn("__k__",
        expr(s"(n * ${trimPctMicro}L) div 1000000L"))
    // boundary order statistics: ranks k+1 and n−k
    val bounds = cum.groupBy(col("__g__"), col("n"), col("__s__"),
        col("__k__"))
      .agg(min(when(col("__cl__") >= col("__k__") + 1, col("__v__")))
        .as("lo"),
        min(when(col("__cl__") >= col("n") - col("__k__"), col("__v__")))
          .as("hi"))
    // winsorized sum: mass below rank k+1 pins to lo, above n−k to hi
    val cb = col("__cl__") - col("__c__")
    val massBelow = least(col("__cl__"), col("__k__")) -
      least(cb, col("__k__"))
    val massAbove = greatest(col("__cl__"), col("n") - col("__k__")) -
      greatest(cb, col("n") - col("__k__"))
    val massMid = col("__c__") - massBelow - massAbove
    val joined = cum.join(bounds.select(col("__g__"), col("lo"),
      col("hi")), Seq("__g__"))
    joined.groupBy(col("__g__"), col("n"), col("__s__"), col("lo"),
        col("hi"))
      .agg(sum(dec(massBelow) * dec(col("lo")) +
        dec(massMid) * dec(col("__v__")) +
        dec(massAbove) * dec(col("hi"))).as("__ws__"))
      .select(col("__g__").as(groupCol), col("n"), col("lo"), col("hi"),
        round(col("__ws__").cast("double") / col("n").cast("double"), 6)
          .as("winsorized_mean"),
        round(col("__s__").cast("double") / col("n").cast("double"), 6)
          .as("mean"))
  }

  /** Empirical-Bayes (beta-binomial) rate shrinkage per item — the
    * smoothed-CTR / smoothed-pass-rate estimator: an item with 2/2
    * should NOT outrank one with 480/500, and Laplace's fixed +1 is
    * the wrong prior strength for every corpus. The prior is fitted to
    * the corpus itself by method of moments over the item rates, then
    * each item reads `(k + α)/(n + α + β)` — items with little data
    * shrink to the corpus mean, items with much data keep their rate.
    *
    * Exactness: per-item rates quantize to `r = (k·1e6) div n` (exact
    * integers), the prior moments are exact decimal sums of those —
    * order-free — and α/β assemble in doubles from them identically on
    * both engines. Degenerate priors (zero/overdispersed variance,
    * fewer than 2 items) yield null shrunken rates, never a silent
    * fallback. Returns per item:
    * `(group, item, k, n, rate, shrunk_rate)` rounded to 6.
    *
    * Shape: one partial-aggregable (group, item) collapse, one
    * group-level moment collapse broadcast back. */
  def ebShrinkRates(df: DataFrame, groupCol: String, itemCol: String,
      okCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val per = df.filter(col(okCol).isNotNull)
      .select(col(groupCol).as("__g__"), col(itemCol).as("__i__"),
        col(okCol).cast("boolean").as("__ok__"))
      .groupBy(col("__g__"), col("__i__"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__ok__"), 1L).otherwise(0L)).as("k"))
      .withColumn("__r__", expr("(k * 1000000L) div n"))
    val prior = per.groupBy(col("__g__"))
      .agg(count(lit(1)).as("__cnt__"),
        sum(dec(col("__r__"))).as("__sr__"),
        sum(dec(col("__r__")) * dec(col("__r__"))).as("__qr__"))
    val ii = dec(col("__cnt__"))
    val m = col("__sr__").cast("double") /
      (col("__cnt__").cast("double") * 1000000.0)
    // sample variance of the micro rates, rescaled to rate units
    val v = try_divide((ii * col("__qr__") -
      col("__sr__") * col("__sr__")).cast("double"),
      (ii * ii * (ii - 1)).cast("double")) / 1e12
    val ab = m * (lit(1.0) - m) / v - lit(1.0)
    val alpha = m * ab
    val beta = (lit(1.0) - m) * ab
    val ok = col("__cnt__") > 1 &&
      (ii * col("__qr__") - col("__sr__") * col("__sr__")) > 0 &&
      v < m * (lit(1.0) - m) && m > 0 && m < 1
    per.join(broadcast(prior), Seq("__g__"))
      .select(col("__g__").as(groupCol), col("__i__").as(itemCol),
        col("k"), col("n"),
        round(col("k").cast("double") / col("n").cast("double"), 6)
          .as("rate"),
        when(ok, round((col("k").cast("double") + alpha) /
          (col("n").cast("double") + alpha + beta), 6))
          .as("shrunk_rate"))
  }

  /** Cohen's d / Hedges' g standardized effect size per variant vs the
    * named control — the HOW-BIG companion to [[welchTTest]]'s
    * whether (a p-value at experiment scale says almost nothing about
    * magnitude; d is what power planning and meta-analysis consume).
    * `d = (m₁ − m₂) / s_pooled` with the pooled variance
    * `s² = ((n₁−1)s₁² + (n₂−1)s₂²) / (n₁+n₂−2)`, and Hedges' small-
    * sample correction `g = d·(1 − 3/(4(n₁+n₂) − 9))`. Both assemble
    * in doubles FROM exact decimal moments (the [[welchTTest]]
    * determinism discipline) and leave rounded to 6; the magnitude
    * bucket (negligible/small/medium/large at the standard 0.2/0.5/0.8
    * cuts) is decided on the same doubles via |d| — identical
    * expression tree on identical integers on both engines.
    *
    * Shape: one partial-aggregable collapse to |variants| moment rows
    * + a broadcast single-row control join. Returns
    * `(variant, n, mean, d, hedges_g, magnitude)`; control row and
    * zero-pooled-variance comparisons carry nulls. */
  def cohensD(df: DataFrame, variantCol: String, valueCol: String,
      control: String): DataFrame = {
    requireIntegral(df, valueCol, "cohensD")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val per = df.filter(col(valueCol).isNotNull)
      .select(col(variantCol).cast("string").as("variant"),
        col(valueCol).cast("long").as("__v__"))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("__v__"))).as("__s__"),
        sum(dec(col("__v__")) * dec(col("__v__"))).as("__q__"))
    val ctl = per.filter(col("variant") === control)
      .select(col("n").as("__cn__"), col("__s__").as("__cs__"),
        col("__q__").as("__cq__"))
    val n1 = dec(col("n")); val s1 = col("__s__"); val q1 = col("__q__")
    val n2 = dec(col("__cn__")); val s2 = col("__cs__")
    val q2 = col("__cq__")
    // n(n−1)s² = nQ − S², exact; pooled s² multiplies through by n₁n₂
    val ss1 = n1 * q1 - s1 * s1 // = n₁(n₁−1)s₁² ≥ 0
    val ss2 = n2 * q2 - s2 * s2
    val md = s1.cast("double") / n1.cast("double") -
      s2.cast("double") / n2.cast("double")
    // s_pooled² = (ss₁/n₁ + ss₂/n₂) / (n₁+n₂−2), each term exact/1-div
    val sp2 = try_divide(
      try_divide(ss1.cast("double"), n1.cast("double")) +
        try_divide(ss2.cast("double"), n2.cast("double")),
      (n1 + n2 - 2).cast("double"))
    val d = try_divide(md, sqrt(sp2))
    val g = d * (lit(1.0) -
      lit(3.0) / (lit(4.0) * (n1 + n2).cast("double") - lit(9.0)))
    val isCtl = col("variant") === control
    val ok = !isCtl && col("n") > 1 && col("__cn__") > 1 &&
      (ss1 > 0 || ss2 > 0)
    per.crossJoin(broadcast(ctl))
      .select(col("variant"), col("n"),
        round(s1.cast("double") / n1.cast("double"), 6).as("mean"),
        when(ok, round(d, 6)).as("d"),
        when(ok, round(g, 6)).as("hedges_g"),
        when(ok,
          when(abs(d) < 0.2, lit("negligible"))
            .when(abs(d) < 0.5, lit("small"))
            .when(abs(d) < 0.8, lit("medium"))
            .otherwise(lit("large"))).as("magnitude"))
  }

  /** Post-stratified / inverse-propensity ATE from an OBSERVATIONAL
    * log — treatment effect when assignment was not randomized but is
    * plausibly ignorable within strata (the propensity bucket:
    * user tier, device class, score decile). Within each bucket the
    * propensity is the exact empirical rate n_t/n, and the stratified
    * estimator `ATE = Σ_b (n_b/N_used)·(mean_t(b) − mean_c(b))` is
    * algebraically the IPW estimator with within-bucket propensities —
    * kept as per-bucket exact rationals folded bucket-sorted in
    * doubles (the [[kruskalWallis]] float-fold discipline). Buckets
    * missing an arm identify nothing; they are EXCLUDED and counted —
    * silent inclusion would bias toward the observed arm
    * ([[mantelHaenszel]] is the odds-ratio sibling; this is the
    * continuous-outcome one).
    *
    * Returns one row:
    * `(n, n_treated, n_buckets, n_buckets_dropped, n_dropped_rows,
    *   ate, treated_mean, control_mean)` — means over USED buckets,
    * rounded to 6. */
  def ipwAte(df: DataFrame, bucketCol: String, treatedCol: String,
      outcomeCol: String): DataFrame = {
    requireIntegral(df, outcomeCol, "ipwAte")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val per = df.filter(col(outcomeCol).isNotNull)
      .select(col(bucketCol).cast("string").as("__b__"),
        col(treatedCol).cast("boolean").as("__t__"),
        col(outcomeCol).cast("long").as("__v__"))
      .groupBy(col("__b__"))
      .agg(count(lit(1)).as("__n__"),
        sum(when(col("__t__"), 1L).otherwise(0L)).as("__nt__"),
        sum(when(col("__t__"), dec(col("__v__")))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__st__"),
        sum(when(!col("__t__"), dec(col("__v__")))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__sc__"))
    val used = col("__nt__") > 0 && col("__n__") - col("__nt__") > 0
    val mt = col("__st__").cast("double") / col("__nt__").cast("double")
    val mc = col("__sc__").cast("double") /
      (col("__n__") - col("__nt__")).cast("double")
    // bucket-sorted array fold: identical summation order on both
    // engines for the weighted float terms
    val terms = per.select(col("__b__"), col("__n__"), col("__nt__"),
      when(used, mt - mc).as("__diff__"),
      when(used, mt).as("__mt__"), when(used, mc).as("__mc__"),
      used.as("__used__"))
    val agg = terms.agg(
      sum(when(col("__used__"), col("__n__")).otherwise(0L)).as("__nu__"),
      sum(when(col("__used__"), col("__nt__")).otherwise(0L))
        .as("n_treated"),
      sum(when(col("__used__"), 1L).otherwise(0L)).as("n_buckets"),
      sum(when(!col("__used__"), 1L).otherwise(0L))
        .as("n_buckets_dropped"),
      sum(when(!col("__used__"), col("__n__")).otherwise(0L))
        .as("n_dropped_rows"),
      aggregate(
        array_sort(collect_list(when(col("__used__"),
          struct(col("__b__").as("b"), col("__n__").as("n"),
            col("__diff__").as("diff"), col("__mt__").as("mt"),
            col("__mc__").as("mc"))))),
        struct(lit(0.0).as("a"), lit(0.0).as("t"), lit(0.0).as("c")),
        (acc, x) => struct(
          (acc("a") + x("n").cast("double") * x("diff")).as("a"),
          (acc("t") + x("n").cast("double") * x("mt")).as("t"),
          (acc("c") + x("n").cast("double") * x("mc")).as("c")))
        .as("__fold__"))
    agg.select(col("__nu__").as("n"), col("n_treated"),
      col("n_buckets"), col("n_buckets_dropped"), col("n_dropped_rows"),
      when(col("__nu__") > 0,
        round(col("__fold__.a") / col("__nu__").cast("double"), 6))
        .as("ate"),
      when(col("__nu__") > 0,
        round(col("__fold__.t") / col("__nu__").cast("double"), 6))
        .as("treated_mean"),
      when(col("__nu__") > 0,
        round(col("__fold__.c") / col("__nu__").cast("double"), 6))
        .as("control_mean"))
  }

  /** Integral-type guard shared by the rank/variance tests (and the
    * exact-arithmetic Corpus ops): these ops promise bit-identical
    * results across engines, which only holds when the inputs are
    * exact integers (quantize upstream). */
  private[ops] def requireIntegral(df: DataFrame, c: String,
      op: String): Unit = {
    val t = df.schema(c).dataType
    val ok = t match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    require(ok, s"$op requires an integral column " +
      s"(quantize upstream); '$c' is $t")
  }

  /** Doubled average midranks of an integral column within each group —
    * the shared rank machinery of [[rankSumTest]], [[spearman]] and
    * [[kruskalWallis]]: collapse to the per-(group, value) histogram,
    * one window over the histogram ordered by value (a hot group costs
    * its |distinct quantized values|, NOT its row count — the
    * [[percentileRank]] discipline), and the midrank of every row tied
    * at a value rides doubled (`rank2 = 2·before + t + 1`) so ties'
    * halves stay integers. Returns (group, __v__, __t__, __rank2__)
    * with `__t__` = tie size at the value. */
  private def midranks2(base: DataFrame, groupCol: String,
      vCol: String): DataFrame = {
    val hist = base.groupBy(col(groupCol), col(vCol).as("__v__"))
      .agg(count(lit(1)).as("__t__"))
    val wBefore = Window.partitionBy(col(groupCol))
      .orderBy(col("__v__").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    hist.withColumn("__before__",
        coalesce(sum(col("__t__")).over(wBefore), lit(0L)))
      .withColumn("__rank2__",
        col("__before__") * 2 + col("__t__") + 1)
      .select(col(groupCol), col("__v__"), col("__t__"), col("__rank2__"))
  }

  /** Spearman rank correlation per group — the monotone-association
    * readout beside [[corrMatrix]] (Pearson asks "is it LINEAR";
    * Spearman asks "is it MONOTONE" and shrugs at outlier magnitude —
    * the right default for quality-score-vs-engagement style questions
    * where the relationship is curved but ordered). Exactly Pearson on
    * average ranks with the classic tie treatment (midranks).
    *
    * Rows with a null in either column drop FIRST (ranks must cover the
    * same row set in both columns). All ranks ride doubled so tie
    * midpoints stay integers; every moment (n, Σa, Σb, Σa², Σb², Σab
    * over the doubled ranks) is an exact decimal(38,0) — safe through
    * ~1e8 rows per group (Σab ≤ 4n³) — and only the final
    * `rho = (nΣab − ΣaΣb) / (√(nΣa²−(Σa)²)·√(nΣb²−(Σb)²))` assembles
    * in doubles (IEEE sqrt is correctly rounded, so engines agree to
    * the bit — the [[corrMatrix]] posture). rho is null when either
    * column is constant within the group.
    *
    * Shape: two histogram collapses + two windows over DISTINCT values
    * ([[midranks2]]), two equi-joins of the rank tables back onto the
    * rows (broadcast-able: histogram-sized), one partial-aggregable
    * moment collapse to a row per group. Requires integral columns. */
  def spearman(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    requireIntegral(df, xCol, "spearman")
    requireIntegral(df, yCol, "spearman")
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol), col(xCol).cast("long").as("__x__"),
        col(yCol).cast("long").as("__y__"))
    val rx = midranks2(base, groupCol, "__x__")
      .select(col(groupCol), col("__v__").as("__x__"),
        col("__rank2__").as("__a__"))
    val ry = midranks2(base, groupCol, "__y__")
      .select(col(groupCol), col("__v__").as("__y__"),
        col("__rank2__").as("__b__"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val per = base
      .join(rx, Seq(groupCol, "__x__"))
      .join(ry, Seq(groupCol, "__y__"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("__a__"))).as("__sa__"),
        sum(dec(col("__b__"))).as("__sb__"),
        sum(dec(col("__a__")) * dec(col("__a__"))).as("__saa__"),
        sum(dec(col("__b__")) * dec(col("__b__"))).as("__sbb__"),
        sum(dec(col("__a__")) * dec(col("__b__"))).as("__sab__"))
    val n = dec(col("n"))
    val num = n * col("__sab__") - col("__sa__") * col("__sb__")
    val va = n * col("__saa__") - col("__sa__") * col("__sa__")
    val vb = n * col("__sbb__") - col("__sb__") * col("__sb__")
    per.select(col(groupCol), col("n"),
      when(va > 0 && vb > 0,
        round(num.cast("double") /
          (sqrt(va.cast("double")) * sqrt(vb.cast("double"))), 6))
        .as("rho"))
  }

  /** Kendall τ-b rank correlation per group — the third member of the
    * correlation family ([[corrMatrix]] asks "is it LINEAR", [[
    * spearman]] "is it MONOTONE as ranks"; Kendall asks "what fraction
    * of PAIRS agree", which is directly interpretable as an ordering
    * accuracy and is the standard metric for comparing two RANKERS —
    * e.g. a cheap quality heuristic against a slow reward model). The
    * tie-adjusted τ-b: concordant/discordant pair counts with
    * `τ = (C − D) / √((n₀ − T_x)(n₀ − T_y))`.
    *
    * Scale shape: rows collapse FIRST to the per-(group, x, y) CELL
    * grid (partial-aggregable), and the O(pairs) work runs on the
    * grid's self-join with a strict x inequality — cost is
    * |cells|²-bounded per group, NOT row-count-bounded (the
    * [[graft.ops.EventAnalytics.mannKendall]] span² discipline;
    * quantize upstream so the grid stays modest). Every count is an
    * exact decimal(38,0); only the final ratio assembles in doubles
    * (IEEE sqrt, the [[corrMatrix]] posture). τ is null when either
    * column is constant within the group. Returns
    * (group, n, concordant, discordant, tau). */
  def kendallTau(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    requireIntegral(df, xCol, "kendallTau")
    requireIntegral(df, yCol, "kendallTau")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol), col(xCol).cast("long").as("__x__"),
        col(yCol).cast("long").as("__y__"))
    val cells = base.groupBy(col(groupCol), col("__x__"), col("__y__"))
      .agg(count(lit(1)).as("__n__"))
    val a = cells.alias("a")
    val b = cells.alias("b")
    val prod = dec(col("a.__n__")) * dec(col("b.__n__"))
    val cd = a.join(b, col(s"a.$groupCol") === col(s"b.$groupCol") &&
        col("b.__x__") > col("a.__x__"))
      .groupBy(col(s"a.$groupCol").as(groupCol))
      .agg(sum(when(col("b.__y__") > col("a.__y__"), prod)
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__c__"),
        sum(when(col("b.__y__") < col("a.__y__"), prod)
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__d__"))
    def marginalTies(c: String) = base
      .groupBy(col(groupCol), col(c)).agg(count(lit(1)).as("__t__"))
      .groupBy(col(groupCol))
      .agg(sum(dec(col("__t__")) * dec(col("__t__") - 1)).as("__tt__"))
    val tx = marginalTies("__x__")
      .withColumnRenamed("__tt__", "__tx2__")
    val ty = marginalTies("__y__")
      .withColumnRenamed("__tt__", "__ty2__")
    val per = base.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
      .join(cd, Seq(groupCol), "left")
      .join(tx, Seq(groupCol)).join(ty, Seq(groupCol))
    // doubled pair counts (n(n−1), t(t−1)) keep everything integral;
    // the shared factor 2 cancels inside the ratio
    val n02 = dec(col("n")) * dec(col("n") - 1)
    val cC = coalesce(col("__c__"), lit(0).cast("decimal(38,0)"))
    val dD = coalesce(col("__d__"), lit(0).cast("decimal(38,0)"))
    val denx = n02 - col("__tx2__")
    val deny = n02 - col("__ty2__")
    per.select(col(groupCol), col("n"),
      cC.cast("long").as("concordant"),
      dD.cast("long").as("discordant"),
      when(denx > 0 && deny > 0,
        round((cC - dD).cast("double") * 2.0 /
          (sqrt(denx.cast("double")) * sqrt(deny.cast("double"))), 6))
        .as("tau"))
  }

  /** Kruskal–Wallis H test per group — [[rankSumTest]] generalized to
    * k samples ("did ANY variant's distribution shift?", the
    * nonparametric one-way ANOVA; run it before k·(k−1)/2 pairwise
    * rank-sums inflate the false-positive rate). Values pool across
    * variants within each group, rank with midranks ([[midranks2]],
    * doubled), and with `R2_v = Σ doubled ranks` per variant the
    * statistic is `H = 3/(N(N+1)) · Σ_v R2_v²/n_v − 3(N+1)`, tie-
    * corrected by `C = 1 − Σ(t³−t)/(N³−N)`.
    *
    * Determinism: per-variant moments (n_v, R2_v) are exact
    * decimal(38,0) — R2_v² needs ≤ 4N⁴, safe through N ≈ 1e9 rows per
    * group. The cross-variant reduction Σ R2_v²/n_v is a FLOAT sum, so
    * it folds in a FIXED order: terms collect into a variant-sorted
    * array and fold left (`aggregate(sort_array(...))`; the oracle
    * replays `list_reduce(list_sort(...))` — float addition is not
    * associative, an unordered SUM would diverge between engines).
    * `chiCrit` is the χ²(k−1) critical value for the caller's k and
    * level (5.991 = k=3 at 95%); the verdict compares `H_corrected·1e6`
    * against `round(chiCrit·1e6)`, null when every value ties (C = 0)
    * or fewer than 2 variants appear.
    *
    * Shape: one histogram collapse + one window over distinct values,
    * one (group, variant) moment collapse, one |variants|-array fold
    * per group — rows shuffle once. Requires an integral value. */
  def kruskalWallis(df: DataFrame, groupCol: String, variantCol: String,
      valueCol: String, chiCrit: Double = 5.991): DataFrame = {
    requireIntegral(df, valueCol, "kruskalWallis")
    val chiCritMicro = math.round(chiCrit * 1e6)
    val base = df
      .filter(col(valueCol).isNotNull && col(variantCol).isNotNull)
      .select(col(groupCol), col(variantCol).cast("string").as("__var__"),
        col(valueCol).cast("long").as("__v__"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val ranks = midranks2(base, groupCol, "__v__")
    val perVar = base.join(ranks, Seq(groupCol, "__v__"))
      .groupBy(col(groupCol), col("__var__"))
      .agg(count(lit(1)).as("__nv__"),
        sum(dec(col("__rank2__"))).as("__r2__"))
      .withColumn("__term__",
        try_divide((col("__r2__") * col("__r2__")).cast("double"),
          col("__nv__").cast("double")))
    val ties = ranks.groupBy(col(groupCol))
      .agg(sum(dec(col("__t__")) * dec(col("__t__")) * dec(col("__t__")) -
        dec(col("__t__"))).as("__tsum__"))
    val per = perVar.groupBy(col(groupCol))
      .agg(sum(col("__nv__")).as("n"),
        count(lit(1)).as("k"),
        sort_array(collect_list(struct(col("__var__").as("v"),
          col("__term__").as("t")))).as("__terms__"))
      .join(ties, Seq(groupCol))
    val nD = col("n").cast("double")
    val sumTerms = aggregate(col("__terms__"), lit(0.0),
      (acc, s) => acc + s.getField("t"))
    // H = 3·ΣR2²/n / (N(N+1)) − 3(N+1): the doubled-rank form of the
    // classic 12/(N(N+1))·ΣR²/n − 3(N+1)
    val h = try_divide(lit(3.0) * sumTerms, nD * (nD + 1.0)) -
      lit(3.0) * (nD + 1.0)
    val varNum = dec(col("n")) * dec(col("n") + 1) * dec(col("n") - 1) -
      col("__tsum__")
    val c = try_divide(varNum.cast("double"),
      (dec(col("n")) * dec(col("n") + 1) * dec(col("n") - 1))
        .cast("double"))
    val hc = try_divide(h, c)
    per.select(col(groupCol), col("n"), col("k"),
      when(col("k") >= 2 && varNum > 0, round(hc, 6)).as("h"),
      when(col("k") >= 2 && varNum > 0,
        hc * lit(1000000.0) >= lit(chiCritMicro.toDouble))
        .as("significant"))
  }

  /** One-way ANOVA F test per group — the k-sample mean comparison
    * beside [[welchTTest]] (that one is 2-sample): "did ANY variant's
    * MEAN move?" on an integral metric, the omnibus gate before
    * pairwise readouts. `F = (SSB/(k−1)) / (SSW/(N−k))` from the
    * per-variant exact moments (n_v, S_v = Σx, Q_v = Σx² in
    * decimal(38,0)); SSW_v = (n_v·Q_v − S_v²)/n_v per variant and the
    * between term Σ S_v²/n_v fold in variant-sorted order exactly like
    * [[kruskalWallis]]'s terms (float sums must fix their order — the
    * oracle replays `list_reduce(list_sort(...))`). The verdict
    * cross-multiplies in doubles — `SSB·(N−k)·1e6 ≥
    * fCrit·1e6·SSW·(k−1)` — so no division sits on a zero; `fCrit` is
    * the F(k−1, N−k) critical value for the caller's design (at
    * experiment scale N−k is effectively ∞, so e.g. 2.996 = F(2,∞) at
    * 95%). The verdict is null when k < 2 or every variant is constant
    * (SSW = 0, decided on the EXACT integer Σ(n_v·Q_v − S_v²), not a
    * float).
    *
    * Shape: one (group, variant) partial-aggregable moment collapse,
    * one |variants|-array fold per group — rows shuffle once. */
  def anovaF(df: DataFrame, groupCol: String, variantCol: String,
      valueCol: String, fCrit: Double = 2.996): DataFrame = {
    requireIntegral(df, valueCol, "anovaF")
    val fCritMicro = math.round(fCrit * 1e6)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val perVar = df
      .filter(col(valueCol).isNotNull && col(variantCol).isNotNull)
      .select(col(groupCol), col(variantCol).cast("string").as("__var__"),
        col(valueCol).cast("long").as("__v__"))
      .groupBy(col(groupCol), col("__var__"))
      .agg(count(lit(1)).as("__nv__"),
        sum(dec(col("__v__"))).as("__s__"),
        sum(dec(col("__v__")) * dec(col("__v__"))).as("__q__"))
      .withColumn("__ssw_num__",
        dec(col("__nv__")) * col("__q__") - col("__s__") * col("__s__"))
      .withColumn("__tb__",
        try_divide((col("__s__") * col("__s__")).cast("double"),
          col("__nv__").cast("double")))
      .withColumn("__tw__",
        try_divide(col("__ssw_num__").cast("double"),
          col("__nv__").cast("double")))
    val per = perVar.groupBy(col(groupCol))
      .agg(sum(col("__nv__")).as("n"),
        count(lit(1)).as("k"),
        sum(col("__s__")).as("__stot__"),
        sum(col("__ssw_num__")).as("__ssw_exact__"),
        sort_array(collect_list(struct(col("__var__").as("v"),
          col("__tb__").as("tb"), col("__tw__").as("tw"))))
          .as("__terms__"))
    def fold(field: String) = aggregate(col("__terms__"), lit(0.0),
      (acc, s) => acc + s.getField(field))
    val nD = col("n").cast("double")
    val kD = col("k").cast("double")
    val ssb = fold("tb") -
      try_divide((col("__stot__") * col("__stot__")).cast("double"), nD)
    val ssw = fold("tw")
    val f = try_divide(ssb * (nD - kD), ssw * (kD - 1.0))
    val ok = col("k") >= 2 && col("n") > col("k") &&
      col("__ssw_exact__") > 0
    per.select(col(groupCol), col("n"), col("k"),
      when(ok, round(f, 6)).as("f_stat"),
      when(ok, ssb * (nD - kD) * lit(1000000.0) >=
        lit(fCritMicro.toDouble) * ssw * (kD - 1.0)).as("significant"))
  }

  /** Benjamini–Hochberg step-up over a family of p-values — the
    * multiple-testing control that belongs downstream of every
    * per-segment readout in this file ([[welchTTest]]/[[rankSumTest]]/
    * [[kruskalWallis]] across 200 segments WILL hand you ~10 false
    * positives at α = 0.05; BH caps the FALSE-DISCOVERY RATE instead of
    * the far-too-conservative per-family error of Bonferroni). The
    * classic step-up: sort p ascending, find the largest rank r with
    * `p_(r) ≤ α·r/m`, reject everything at or below it — including
    * tests whose own p misses their threshold (the "step-up" part a
    * per-row filter gets wrong).
    *
    * p-values arrive quantized in MICRO-units (`p_micro ∈ [0, 1e6]`,
    * however the caller derived them), so the threshold comparison is
    * the exact integer cross-multiplication `p_micro·m ≤ α_micro·r` —
    * no float ever enters and engines agree to the bit (safe through
    * m ≈ 9e12 tests in a family).
    *
    * Shape: one rank window per family ordered by (p, id) and one
    * full-partition max — both over the FAMILY's rows, which is a test
    * registry (hundreds), never corpus-sized. Rows with a NULL p_micro
    * are EXCLUDED — they carry no evidence, appear in no output row,
    * and do not count toward the family size m (an undefined upstream
    * statistic must not loosen or tighten the thresholds); audit them
    * upstream if "every registered test got a verdict" matters.
    * Returns (group, id, p_micro, rank, m, reject) for the non-null
    * rows. */
  /** Storey q-values per family — [[bhProcedure]]'s estimate-the-truth
    * sibling: BH controls FDR at a DECLARED α, the q-value reports
    * each test's own minimal FDR, with the null fraction π̂₀ estimated
    * from the p > λ tail (`π̂₀ = #{p > λ}/((1−λ)m)`, capped at 1) so a
    * family where most tests are real discoveries isn't taxed as if
    * everything were null. `q_i = min_{p_j ≥ p_i} π̂₀·m·p_j/rank_j` —
    * a running min from the largest p down, O(1)/row.
    *
    * Exactness: ranks/counts exact integers off the (p, id)-sorted
    * family; the raw terms are one double assembly each and the
    * monotone pass is a DESCENDING running-frame min (the
    * [[quantileNormalize]] frame lesson — never a following-frame
    * rescan). Returns `(group, id, p_micro, rank, pi0, q_value,
    * discovery)` with discovery = q ≤ α. */
  def qValues(df: DataFrame, groupCol: String, idCol: String,
      pMicroCol: String, lambdaMicro: Long = 500000L,
      alphaMicro: Long = 50000L): DataFrame = {
    requireIntegral(df, pMicroCol, "qValues")
    require(lambdaMicro > 0 && lambdaMicro < 1000000L,
      s"lambdaMicro must be in (0, 1e6); got $lambdaMicro")
    val wRank = Window.partitionBy(col("__g__"))
      .orderBy(col("p_micro").asc, col("__id__").asc)
    val wAll = Window.partitionBy(col("__g__"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wDesc = Window.partitionBy(col("__g__"))
      .orderBy(col("p_micro").desc, col("__id__").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = df.filter(col(pMicroCol).isNotNull)
      .select(col(groupCol).as("__g__"), col(idCol).as("__id__"),
        col(pMicroCol).cast("long").as("p_micro"))
      .withColumn("__rank__", row_number().over(wRank))
      .withColumn("__m__", count(lit(1)).over(wAll))
      .withColumn("__gt__",
        sum(when(col("p_micro") > lambdaMicro, 1L).otherwise(0L))
          .over(wAll))
    val pi0 = least(lit(1.0),
      try_divide(col("__gt__").cast("double") * 1000000.0,
        col("__m__").cast("double") *
          (1000000.0 - lambdaMicro.toDouble)))
    val raw = pi0 * col("__m__").cast("double") *
      col("p_micro").cast("double") /
      (col("__rank__").cast("double") * 1000000.0)
    val q = least(lit(1.0), min(raw).over(wDesc))
    ranked
      .withColumn("__q__", q)
      .withColumn("__pi0__", pi0)
      .select(col("__g__").as(groupCol), col("__id__").as(idCol),
        col("p_micro"), col("__rank__").cast("long").as("rank"),
        round(col("__pi0__"), 6).as("pi0"),
        round(col("__q__"), 6).as("q_value"),
        (col("__q__") * lit(1000000.0) <= lit(alphaMicro.toDouble))
          .as("discovery"))
  }

  def bhProcedure(df: DataFrame, groupCol: String, idCol: String,
      pMicroCol: String, alphaMicro: Long = 50000L): DataFrame = {
    requireIntegral(df, pMicroCol, "bhProcedure")
    require(alphaMicro >= 0 && alphaMicro <= 1000000L,
      s"alphaMicro must be in [0, 1e6], got $alphaMicro")
    val wRank = Window.partitionBy(col(groupCol))
      .orderBy(col(pMicroCol).asc, col(idCol).asc)
    val wAll = Window.partitionBy(col(groupCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = df
      .filter(col(pMicroCol).isNotNull)
      .select(col(groupCol), col(idCol),
        col(pMicroCol).cast("long").as("p_micro"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("m", count(lit(1)).over(wAll))
    ranked
      .withColumn("__kstar__",
        max(when(col("p_micro") * col("m") <=
          lit(alphaMicro) * col("rank"), col("rank"))).over(wAll))
      .select(col(groupCol), col(idCol), col("p_micro"), col("rank"),
        col("m"),
        coalesce(col("rank") <= col("__kstar__"), lit(false))
          .as("reject"))
  }

  /** Bradley–Terry strength fitting over pairwise preference duels —
    * the rating layer above [[winMatrix]] (win rates mislead when
    * matchups are unbalanced: beating a strong opponent must count for
    * more; BT is the model RLHF preference pipelines and chat-arena
    * leaderboards fit). Runs `iters` rounds of the classic Zermelo/MM
    * update `s_i ← W_i / Σ_j n_ij/(s_i + s_j)` from a uniform start,
    * then normalizes strengths to sum 1.
    *
    * Determinism: per-player opponent sums are FLOAT folds, so each
    * fold runs in opponent-sorted order
    * (`aggregate(sort_array(collect_list(...)))`, the
    * [[kruskalWallis]] discipline), and the final normalization folds
    * player-sorted — the oracle replays every iteration with
    * `list_reduce(list_sort(...))`. Rounding happens ONLY at output;
    * iterations carry full doubles. A never-winning player's strength
    * hits exactly 0 and stays there (its duels still strengthen
    * opponents); `strength` is null only in the fully-degenerate
    * all-zero-wins table.
    *
    * Shape: duels collapse once to the symmetric (i, j, n_ij) matchup
    * table and the per-player win counts — both bounded by the PLAYER
    * registry, never the duel log; each iteration is one broadcast-
    * size join + |players| folds. Returns
    * (player, wins, n_duels, strength, rank). */
  def btStrengths(duels: DataFrame, winnerCol: String, loserCol: String,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val d = duels.select(col(winnerCol).cast("string").as("__w__"),
      col(loserCol).cast("string").as("__l__"))
      .filter(col("__w__").isNotNull && col("__l__").isNotNull &&
        col("__w__") =!= col("__l__"))
    // pairs is consumed once per iteration (and seeds s) and is
    // players²-bounded — persisting it keeps the duel table from being
    // re-scanned/re-aggregated per iteration and shrinks every
    // iteration's plan to a cached-table read (guide §5: reuse ×
    // recompute cost). Released by the consumer via Caches.
    val pairs = Caches.registerDf(
      d.select(col("__w__").as("i"), col("__l__").as("j"))
        .unionAll(d.select(col("__l__").as("i"), col("__w__").as("j")))
        .groupBy(col("i"), col("j")).agg(count(lit(1)).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val wins = d.groupBy(col("__w__").as("i")).agg(count(lit(1)).as("w"))
    val s0 = pairs.groupBy(col("i"))
      .agg(sum(col("n")).as("n_duels"))
      .join(wins, Seq("i"), "left")
      .select(col("i"), coalesce(col("w"), lit(0L)).as("wins"),
        col("n_duels"), lit(1.0).as("s"))
    def iteration(s: DataFrame): DataFrame = {
      val sj = s.select(col("i").as("j"), col("s").as("__sj__"))
      val denom = pairs
        .join(s.select(col("i"), col("s").as("__si__")), Seq("i"))
        .join(sj, Seq("j"))
        .groupBy(col("i"))
        // try_divide: a duel between two zero-strength players has an
        // infinite term — null propagates through the fold and the
        // coalesce below lands the mathematically-correct s = 0
        // (DuckDB's double/0 is NULL too, so the oracle agrees)
        .agg(sort_array(collect_list(struct(col("j"),
          try_divide(col("n").cast("double"),
            col("__si__") + col("__sj__")).as("t")))).as("__ts__"))
        .select(col("i"), aggregate(col("__ts__"), lit(0.0),
          (acc, x) => acc + x.getField("t")).as("__d__"))
      s.drop("s").join(denom, Seq("i"))
        .select(col("i"), col("wins"), col("n_duels"),
          coalesce(try_divide(col("wins").cast("double"), col("__d__")),
            lit(0.0)).as("s"))
    }
    // s feeds the next iteration TWICE (as si and sj), and the output
    // twice, so an uncut recurrence doubles the plan per iteration
    // (2^iters subtrees — the hits-documented planner blowup): every
    // iteration is cut, the last one too; the |players|-row cut is cheap
    // and value-neutral
    val s = Fixpoint.unrolled("btStrengths", iteration(s0), iters,
      Fixpoint.CutEachRound, cutLast = true)(iteration)
    val tot = s
      .agg(sort_array(collect_list(struct(col("i"), col("s").as("t"))))
        .as("__ss__"))
      .select(aggregate(col("__ss__"), lit(0.0),
        (acc, x) => acc + x.getField("t")).as("__tot__"))
    val wRank = Window.orderBy(col("s").desc, col("i").asc)
    s.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .select(col("i").as("player"), col("wins"), col("n_duels"),
        when(col("__tot__") > 0,
          round(try_divide(col("s"), col("__tot__")), 6)).as("strength"),
        col("rank"))
  }

  /** Length-bias curve over pairwise preference duels — the
    * verbose-bias audit run on comparison data BEFORE it trains a
    * reward model (raters systematically over-prefer longer answers;
    * a reward model fit on biased duels learns verbosity, not
    * quality). Duels bucket by the absolute length gap, and each
    * bucket reports how often the LONGER side won, with a sign-test
    * flag (`(2w − m)²·1e6 ≥ zc²·1e6·m` on the tie-excluded count m —
    * exact integer cross-multiplication, the [[proportionTest]]
    * discipline). A flat ~50% curve is healthy data; a rate that grows
    * with the gap is the bias signature.
    *
    * Buckets use `floor(|Δlen|/width)` — floor, not integer division
    * (they agree here since |Δ| ≥ 0, and floor() keeps the expression
    * identical to the oracle's). One partial-aggregable collapse to
    * |buckets| rows. Returns (bucket, gap_lo, n, n_longer_won, n_ties,
    * longer_win_rate, biased). */
  def lengthBias(duels: DataFrame, winnerLenCol: String,
      loserLenCol: String, bucketWidth: Long,
      zCrit: Double = 1.96): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    val zc2Micro = math.round(zCrit * zCrit * 1e6)
    val wl = col(winnerLenCol).cast("long")
    val ll = col(loserLenCol).cast("long")
    val per = duels
      .filter(wl.isNotNull && ll.isNotNull)
      .select(
        floor(abs(wl - ll).cast("double") / bucketWidth).cast("long")
          .as("bucket"),
        when(wl > ll, 1L).otherwise(0L).as("__lw__"),
        when(wl === ll, 1L).otherwise(0L).as("__tie__"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("__lw__")).as("n_longer_won"),
        sum(col("__tie__")).as("n_ties"))
    val m = col("n") - col("n_ties")
    // decimal(38,0) products: dev²·1e6 overflows a long near 1e9 duels
    // per bucket, and ANSI would kill the job instead of wrapping
    def dec(c: Column) = c.cast("decimal(38,0)")
    val dev = col("n_longer_won") * 2 - m
    per.select(col("bucket"), (col("bucket") * bucketWidth).as("gap_lo"),
      col("n"), col("n_longer_won"), col("n_ties"),
      when(m > 0, round(try_divide(col("n_longer_won").cast("double"),
        m.cast("double")), 6)).as("longer_win_rate"),
      when(m > 0, dec(dev) * dec(dev) * lit(1000000L) >=
        dec(lit(zc2Micro)) * dec(m) && dev > 0).as("biased"))
  }

  /** Unbiased pass@k over repeated samples per task — the standard
    * code/eval-harness readout (Chen et al.'s estimator: with n samples
    * of which c are correct, `pass@k = 1 − C(n−c,k)/C(n,k)`, which is
    * unbiased where the naive `1 − (1 − c/n)^k` is not). The binomial
    * ratio evaluates in its overflow-free product form
    * `Π_{i=0..k−1} (n−c−i)/(n−i)`, unrolled driver-side into a fixed
    * left-to-right fold of k terms — deterministic across engines
    * because the oracle replays the identical expression tree, with
    * try_divide on each term so a task with n < k nulls out instead of
    * killing the job (pass@k is undefined there). When `n−c < k` some
    * factor is ≤ 0: the product clamps via `greatest(0, ·)` per factor,
    * making pass@k exactly 1 — the convention (a wrong sample can't be
    * drawn k times from fewer than k wrong samples).
    *
    * Shape: ONE partial-aggregable collapse to |tasks| rows, then pure
    * per-row arithmetic — samples shuffle once as (task, 0/1).
    * Returns (task, n, c, pass_at_<k> for each k). */
  def passAtK(df: DataFrame, taskCol: String, correctCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "ks must be >= 1")
    require(ks.distinct.size == ks.size, "duplicate k")
    val per = df.groupBy(col(taskCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(correctCol).cast("boolean"), 1L).otherwise(0L))
          .as("c"))
    val outs = ks.map { k =>
      val prod = (0 until k).foldLeft(lit(1.0)) { (acc, i) =>
        acc * greatest(lit(0.0), try_divide(
          (col("n") - col("c") - i).cast("double"),
          (col("n") - i).cast("double")))
      }
      when(col("n") >= k, round(lit(1.0) - prod, 6)).as(s"pass_at_$k")
    }
    per.select(col(taskCol) +: col("n") +: col("c") +: outs: _*)
  }

  /** Tail weights for truncated RBO: `S(m) = Σ_{k=m..d} p^(k−1)/k`,
    * folded in DESCENDING k so every S(m) is one float add on top of
    * S(m+1) — a fixed evaluation order both engines replay by
    * embedding these exact doubles as literals (the oracle SQL
    * interpolates `Array.toString` round-trip representations, so no
    * cross-engine `pow` ever evaluates). 1-indexed externally:
    * element m holds S(m). */
  def rboTailWeights(p: Double, depth: Int): Array[Double] = {
    require(depth >= 1 && p > 0 && p < 1, "need depth >= 1, 0 < p < 1")
    val s = new Array[Double](depth)
    var acc = 0.0
    var k = depth
    while (k >= 1) {
      acc += math.pow(p, k - 1) / k
      s(k - 1) = acc
      k -= 1
    }
    s
  }

  /** Rank-biased overlap (truncated at `depth`) between two rankers
    * per group — "how much do ranker A and ranker B agree, weighted
    * toward the top?" (Webber, Moffat & Zobel 2010). The eval-side
    * companion to [[graft.ops.Similarity]]'s RRF *fusion*: RRF merges
    * two rankings, RBO *scores their agreement* — run it when swapping
    * a retrieval scorer to see how far the new top-k actually moved.
    * `RBO@d = (1−p) Σ_{k=1..d} p^(k−1) · |A_k ∩ B_k| / k`; an item
    * ranked ra by A and rb by B enters every prefix k ≥ max(ra, rb),
    * so its total contribution is the tail sum S(max(ra, rb)) from
    * [[rboTailWeights]] — no per-depth intersection ever materializes.
    *
    * Determinism: ranks come from `row_number` with the unique id as
    * tie-break; the ≤ depth surviving items collapse to (group, m)
    * integer counts, and the float reduction Σ cnt_m·S(m) folds in
    * m-sorted order over ≤ depth terms (`aggregate(sort_array(...))`;
    * the oracle replays `list_reduce(list_sort(...))` over the SAME
    * S(m) literals).
    *
    * Shape: one partition-wise double sort for the two row_numbers
    * (same exchange), then everything collapses to ≤ depth rows per
    * group. Returns (group, n_items, overlap_at_d, rbo); a group whose
    * rankings share nothing in the top d scores rbo 0. */
  def rbo(df: DataFrame, groupCol: String, idCol: String,
      scoreACol: String, scoreBCol: String, depth: Int = 20,
      p: Double = 0.5): DataFrame = {
    val sArr = rboTailWeights(p, depth)
    val wA = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreACol).desc, col(idCol).asc)
    val wB = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreBCol).desc, col(idCol).asc)
    val ranked = df.select(col(groupCol),
        row_number().over(wA).as("__ra__"),
        row_number().over(wB).as("__rb__"))
      .withColumn("__m__", greatest(col("__ra__"), col("__rb__")))
      .filter(col("__m__") <= depth)
    val perM = ranked.groupBy(col(groupCol), col("__m__"))
      .agg(count(lit(1)).as("__cnt__"))
    val folded = perM.groupBy(col(groupCol))
      .agg(sum(col("__cnt__")).as("__ov__"),
        sort_array(collect_list(struct(col("__m__").as("m"),
          col("__cnt__").as("c")))).as("__terms__"))
      .select(col(groupCol), col("__ov__"),
        aggregate(col("__terms__"), lit(0.0), (acc, s) =>
          acc + s.getField("c").cast("double") *
            element_at(typedLit(sArr), s.getField("m"))).as("__acc__"))
    df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_items"))
      .join(folded, Seq(groupCol), "left")
      .select(col(groupCol), col("n_items"),
        coalesce(col("__ov__"), lit(0L)).as("overlap_at_d"),
        round(lit(1.0 - p) * coalesce(col("__acc__"), lit(0.0)), 6)
          .as("rbo"))
  }

  /** McNemar's paired test per group — "did model B actually CHANGE
    * outcomes vs model A on the same tasks?", the right test when both
    * models are scored on one shared eval set (marginal-rate tests like
    * [[proportionTest]] throw away the pairing and lose power). Only
    * discordant pairs carry signal: `b` = A-only successes, `c` =
    * B-only; `χ² = (b−c)²/(b+c)` against the χ²(1) critical value by
    * EXACT decimal cross-multiplication (`(b−c)²·1e6 ≥ crit_micro·
    * (b+c)`) so no float decides the verdict, which is null when
    * b+c = 0 (all pairs agree — difference is untestable). Rows with a
    * null outcome on either side are excluded as unpaired.
    *
    * Shape: one partial-aggregable boolean collapse — rows shuffle
    * once, output is |groups| rows. Returns (group, n_pairs, only_a,
    * only_b, chi2, significant). */
  def mcnemar(df: DataFrame, groupCol: String, okACol: String,
      okBCol: String, chiCrit: Double = 3.841): DataFrame = {
    val critMicro = math.round(chiCrit * 1e6)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.filter(col(okACol).isNotNull && col(okBCol).isNotNull)
      .select(col(groupCol), col(okACol).cast("boolean").as("__a__"),
        col(okBCol).cast("boolean").as("__b__"))
    val per = base.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_pairs"),
      sum(when(col("__a__") && !col("__b__"), 1L).otherwise(0L))
        .as("only_a"),
      sum(when(!col("__a__") && col("__b__"), 1L).otherwise(0L))
        .as("only_b"))
    val d = dec(col("only_a")) - dec(col("only_b"))
    val disc = col("only_a") + col("only_b")
    per.select(col(groupCol), col("n_pairs"), col("only_a"),
      col("only_b"),
      when(disc > 0, round(try_divide((d * d).cast("double"),
        disc.cast("double")), 6)).as("chi2"),
      when(disc > 0,
        d * d * dec(lit(1000000L)) >= dec(lit(critMicro)) * dec(disc))
        .as("significant"))
  }

  /** χ²(1) .. χ²(30) critical values at 95% — the standard table, used
    * by [[chiSquared]] to turn (statistic, df) into a verdict. */
  val chi2Crit95: Map[Int, Double] = Map(
    1 -> 3.841, 2 -> 5.991, 3 -> 7.815, 4 -> 9.488, 5 -> 11.070,
    6 -> 12.592, 7 -> 14.067, 8 -> 15.507, 9 -> 16.919, 10 -> 18.307,
    11 -> 19.675, 12 -> 21.026, 13 -> 22.362, 14 -> 23.685,
    15 -> 24.996, 16 -> 26.296, 17 -> 27.587, 18 -> 28.869,
    19 -> 30.144, 20 -> 31.410, 21 -> 32.671, 22 -> 33.924,
    23 -> 35.172, 24 -> 36.415, 25 -> 37.652, 26 -> 38.885,
    27 -> 40.113, 28 -> 41.337, 29 -> 42.557, 30 -> 43.773)

  /** χ² test of independence per group — "does factor A depend on
    * factor B?" over a categorical contingency table (segment × outcome,
    * source × verdict, …), plus Cramér's V effect size so a huge-N
    * trivial dependence doesn't read as a finding. Expected counts come
    * from exact integer marginals (`E = ra·cb/N`, the `ra·cb` product
    * exact in decimal before ONE double division); zero observed cells
    * still contribute their E, so the full r×c marginal cross grid is
    * materialized per group (label-bounded — never data-sized). The
    * per-cell float terms fold in (a,b)-sorted order on BOTH engines
    * ([[kruskalWallis]]'s discipline), df = (r−1)(c−1) from the labels
    * PRESENT in each group, and the verdict looks df up in
    * `critByDf` (default [[chi2Crit95]]; null verdict when df = 0 or
    * df is beyond the table). `V = sqrt(χ²/(N·min(r−1,c−1)))`.
    *
    * Shape: one (group, a, b) partial-aggregable collapse, two
    * label-bounded marginal collapses, one label² cross join per group,
    * one |cells|-array fold — rows shuffle once. Returns
    * (group, n, r, c, dof, chi2, cramers_v, significant). */
  def chiSquared(df: DataFrame, groupCol: String, aCol: String,
      bCol: String,
      critByDf: Map[Int, Double] = chi2Crit95): DataFrame = {
    val critMicro: Map[Int, Long] =
      critByDf.map { case (k, v) => k -> math.round(v * 1e6) }
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(groupCol), col(aCol).cast("string").as("__fa__"),
        col(bCol).cast("string").as("__fb__"))
    val cells = base.groupBy(col(groupCol), col("__fa__"), col("__fb__"))
      .agg(count(lit(1)).as("__o__"))
    val ra = cells.groupBy(col(groupCol), col("__fa__"))
      .agg(sum(col("__o__")).as("__ra__"))
    val cb = cells.groupBy(col(groupCol), col("__fb__"))
      .agg(sum(col("__o__")).as("__cb__"))
    val grid = ra.join(cb, Seq(groupCol))
      .join(cells, Seq(groupCol, "__fa__", "__fb__"), "left")
      .withColumn("__o__", coalesce(col("__o__"), lit(0L)))
    val nW = Window.partitionBy(col(groupCol))
    val withN = grid.withColumn("__n__", sum(col("__o__")).over(nW))
    val e = try_divide((dec(col("__ra__")) * dec(col("__cb__")))
      .cast("double"), col("__n__").cast("double"))
    val term = try_divide((col("__o__").cast("double") - e) *
      (col("__o__").cast("double") - e), e)
    val per = withN.withColumn("__t__", term)
      .groupBy(col(groupCol))
      .agg(max(col("__n__")).as("n"),
        countDistinct(col("__fa__")).as("r"),
        countDistinct(col("__fb__")).as("c"),
        sort_array(collect_list(struct(col("__fa__").as("a"),
          col("__fb__").as("b"), col("__t__").as("t")))).as("__terms__"))
    val chi2 = aggregate(col("__terms__"), lit(0.0),
      (acc, s) => acc + s.getField("t"))
    val dof = ((col("r") - 1) * (col("c") - 1)).cast("int")
    val minDim = least(col("r") - 1, col("c") - 1).cast("double")
    val crit = element_at(typedLit(critMicro), dof)
    per.select(col(groupCol), col("n"), col("r"), col("c"),
      dof.as("dof"),
      when(dof > 0, round(chi2, 6)).as("chi2"),
      when(dof > 0 && col("n") > 0,
        round(sqrt(try_divide(chi2, col("n").cast("double") * minDim)),
          6)).as("cramers_v"),
      when(dof > 0 && crit.isNotNull,
        chi2 * lit(1000000.0) >= crit.cast("double")).as("significant"))
  }

  /** Krippendorff's alpha (nominal) per group — inter-rater agreement
    * that [[cohensKappa]] cannot give you once there are MORE than two
    * raters or missing ratings (both the norm for LLM-judge ensembles
    * and crowdsourced labels): any number of ratings per unit, units
    * rated by different subsets, chance-corrected. Input is the long
    * form (group, unit, label) — one row per rating, no rater identity
    * needed (alpha is rater-exchangeable). Units with fewer than 2
    * ratings are unpairable and excluded (reported).
    *
    * `α = 1 − Do/De` with the coincidence formulation: per unit
    * `d_u = n_u² − Σ_c o_uc²` disagreeing ordered pairs, each weighted
    * `1/(n_u−1)`; `De = (n² − Σ_c n_c²)/(n−1)` from the pooled label
    * marginals. Exactness: d_u sums collapse per DISTINCT n_u first
    * (rater-count-bounded — at most |raters| distinct values), so Do is
    * a fold over ≤ |raters| exact-integer fractions `A_m/m` in
    * m-sorted order; both engines replay the identical sequence. α is
    * null when De = 0 (every pooled rating is one label — agreement is
    * undefined, not perfect).
    *
    * Shape: one (group, unit, label) collapse, one per-unit collapse,
    * one rater-count-bounded collapse + one label-bounded marginal
    * collapse — rows shuffle once, nothing data-sized survives. Returns
    * (group, n_units, n_ratings, n_unpairable, alpha). */
  def krippendorffAlpha(df: DataFrame, groupCol: String, unitCol: String,
      labelCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.filter(col(labelCol).isNotNull)
      .select(col(groupCol), col(unitCol).as("__u__"),
        col(labelCol).cast("string").as("__l__"))
    // cells/perUnit each feed two consumers but are NOT persisted: the
    // whole op is ONE action, so Catalyst's ReusedExchange already
    // dedupes the identical shuffle subtrees inside the single plan —
    // only cheap pruned re-scans repeat. Persisting was measured
    // SLOWER at 1×/10× (InMemoryRelation splits the plan into
    // materialization barriers and defeats exchange reuse)
    val cells = base.groupBy(col(groupCol), col("__u__"), col("__l__"))
      .agg(count(lit(1)).as("__o__"))
    val perUnit = cells.groupBy(col(groupCol), col("__u__"))
      .agg(sum(col("__o__")).as("__nu__"),
        sum(dec(col("__o__")) * dec(col("__o__"))).as("__o2__"))
    val pairable = perUnit.filter(col("__nu__") >= 2)
    // collapse d_u by m = n_u − 1: |raters|-bounded rows per group
    val perM = pairable.groupBy(col(groupCol),
        (col("__nu__") - 1).as("__m__"))
      .agg(sum(dec(col("__nu__")) * dec(col("__nu__")) - col("__o2__"))
        .as("__a__"),
        count(lit(1)).as("__units__"),
        sum(col("__nu__")).as("__r__"))
    val doAgg = perM.groupBy(col(groupCol))
      .agg(sum(col("__units__")).as("n_units"),
        sum(col("__r__")).as("n_ratings"),
        sort_array(collect_list(struct(col("__m__").as("m"),
          col("__a__").as("a")))).as("__terms__"))
      .select(col(groupCol), col("n_units"), col("n_ratings"),
        aggregate(col("__terms__"), lit(0.0), (acc, s) =>
          acc + try_divide(s.getField("a").cast("double"),
            s.getField("m").cast("double"))).as("__do__"))
    // pooled label marginals over pairable units only
    val marg = cells.join(pairable.select(col(groupCol), col("__u__")),
        Seq(groupCol, "__u__"))
      .groupBy(col(groupCol), col("__l__"))
      .agg(sum(col("__o__")).as("__nc__"))
      .groupBy(col(groupCol))
      .agg(sum(dec(col("__nc__")) * dec(col("__nc__"))).as("__nc2__"))
    val unpair = perUnit.groupBy(col(groupCol))
      .agg(sum(when(col("__nu__") < 2, 1L).otherwise(0L))
        .as("n_unpairable"))
    val deDen = (dec(col("n_ratings")) * dec(col("n_ratings")) -
      col("__nc2__")).cast("double")
    unpair.join(doAgg, Seq(groupCol), "left")
      .join(marg, Seq(groupCol), "left")
      .select(col(groupCol),
        coalesce(col("n_units"), lit(0L)).as("n_units"),
        coalesce(col("n_ratings"), lit(0L)).as("n_ratings"),
        col("n_unpairable"),
        when(col("n_ratings") > 1 && deDen > 0,
          round(lit(1.0) - col("__do__") *
            (col("n_ratings") - 1).cast("double") / deDen, 6))
          .as("alpha"))
  }

  /** Cochran's Q per group — the k-model generalization of [[mcnemar]]:
    * k scorers on the SAME task set, "did ANY model's success rate
    * move?", the omnibus gate before pairwise McNemars (running k²
    * pairwise tests first is the multiple-comparisons trap [[bhProcedure]]
    * exists to clean up). Only tasks scored by ALL k models enter
    * (incomplete tasks are dropped and reported); all-pass/all-fail
    * tasks cancel algebraically, so no filtering bias. `Q = (k−1)·
    * (k·ΣG_j² − S²) / (k·ΣL_i − ΣL_i²)` with G_j = per-model successes,
    * L_i = per-task successes, S = ΣG_j — EVERY sum is an exact integer
    * (order-free), the single float division happens once, and the
    * χ²(k−1) verdict cross-multiplies in decimal against the embedded
    * 95% table ([[chi2Crit95]]), so no float decides. Q is null when
    * the denominator is 0 (every complete task is unanimous).
    *
    * Shape: one (group, task) collapse + one (group, model) collapse
    * from the same base — task- and model-bounded, rows shuffle once.
    * Returns (group, k, n_tasks, n_incomplete, q, significant). */
  def cochranQ(df: DataFrame, groupCol: String, taskCol: String,
      modelCol: String, okCol: String,
      critByDf: Map[Int, Double] = chi2Crit95): DataFrame = {
    val critMicro: Map[Int, Long] =
      critByDf.map { case (k, v) => k -> math.round(v * 1e6) }
    def dec(c: Column) = c.cast("decimal(38,0)")
    // base and perTask each feed multiple consumers but are NOT
    // persisted: the op is ONE action, so ReusedExchange dedupes the
    // identical shuffle subtrees inside the single plan (persisting
    // measured slower — materialization barriers defeat the reuse)
    val base = df.filter(col(okCol).isNotNull)
      .select(col(groupCol), col(taskCol).as("__t__"),
        col(modelCol).as("__mo__"), col(okCol).cast("boolean")
          .as("__ok__"))
    val kPer = base.groupBy(col(groupCol))
      .agg(countDistinct(col("__mo__")).as("__k__"))
    val perTask = base.groupBy(col(groupCol), col("__t__"))
      .agg(count(lit(1)).as("__nm__"),
        sum(when(col("__ok__"), 1L).otherwise(0L)).as("__li__"))
      .join(kPer, Seq(groupCol))
    val complete = perTask.filter(col("__nm__") === col("__k__"))
    val taskAgg = complete.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_tasks"),
        sum(dec(col("__li__"))).as("__sl__"),
        sum(dec(col("__li__")) * dec(col("__li__"))).as("__sl2__"))
    val dropped = perTask.groupBy(col(groupCol))
      .agg(sum(when(col("__nm__") =!= col("__k__"), 1L).otherwise(0L))
        .as("n_incomplete"))
    val modelAgg = base
      .join(complete.select(col(groupCol), col("__t__")),
        Seq(groupCol, "__t__"))
      .groupBy(col(groupCol), col("__mo__"))
      .agg(sum(when(col("__ok__"), 1L).otherwise(0L)).as("__gj__"))
      .groupBy(col(groupCol))
      .agg(sum(dec(col("__gj__"))).as("__s__"),
        sum(dec(col("__gj__")) * dec(col("__gj__"))).as("__sg2__"))
    val kD = dec(col("__k__"))
    val num = (kD - 1) * (kD * col("__sg2__") - col("__s__") *
      col("__s__"))
    val den = kD * col("__sl__") - col("__sl2__")
    val crit = element_at(typedLit(critMicro),
      (col("__k__") - 1).cast("int"))
    kPer.join(dropped, Seq(groupCol))
      .join(taskAgg, Seq(groupCol), "left")
      .join(modelAgg, Seq(groupCol), "left")
      .select(col(groupCol), col("__k__").as("k"),
        coalesce(col("n_tasks"), lit(0L)).as("n_tasks"),
        col("n_incomplete"),
        when(den > 0, round(try_divide(num.cast("double"),
          den.cast("double")), 6)).as("q"),
        when(den > 0 && crit.isNotNull,
          num * dec(lit(1000000L)) >= dec(crit) * den)
          .as("significant"))
  }

  /** Cochran–Armitage trend test per group — "does the pass rate TREND
    * with the ordered dose?" (score deciles, difficulty tiers, context
    * lengths). A plain χ² independence test ([[chiSquared]]) burns its
    * power on unordered alternatives; this one puts every degree of
    * freedom on the monotone trend. Doses must be integral (quantize
    * upstream — the [[prCurve]] contract). From the dose-bounded
    * (n_i, r_i) table: `Z² = N·(N·Σx_i r_i − R·Σx_i n_i)² /
    * (R·(N−R)·(N·Σn_i x_i² − (Σx_i n_i)²))` — every moment is an exact
    * integer in decimal; Z² itself is assembled in doubles FROM those
    * moments (the rank_sum/welch posture: all-decimal assembly
    * overflows 38 digits at production N), and both engines replay the
    * identical expression tree. `rising` is the SIGN of the exact
    * integer numerator root — never a float. Null when the trend
    * variance is 0 (single dose, or R = 0/N: no successes or no
    * failures anywhere).
    *
    * Shape: one (group, dose) partial-aggregable collapse, dose-bounded
    * moment sums — rows shuffle once. Returns
    * (group, n, k_doses, z2, rising, significant). */
  def cochranArmitage(df: DataFrame, groupCol: String, doseCol: String,
      okCol: String, chiCrit: Double = 3.841): DataFrame = {
    requireIntegral(df, doseCol, "cochranArmitage")
    val critMicro = math.round(chiCrit * 1e6)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.filter(col(doseCol).isNotNull && col(okCol).isNotNull)
      .select(col(groupCol), col(doseCol).cast("long").as("__x__"),
        col(okCol).cast("boolean").as("__ok__"))
    val perDose = base.groupBy(col(groupCol), col("__x__"))
      .agg(count(lit(1)).as("__ni__"),
        sum(when(col("__ok__"), 1L).otherwise(0L)).as("__ri__"))
    val per = perDose.groupBy(col(groupCol))
      .agg(sum(col("__ni__")).as("n"),
        count(lit(1)).as("k_doses"),
        sum(dec(col("__ri__"))).as("__r__"),
        sum(dec(col("__x__")) * dec(col("__ri__"))).as("__xr__"),
        sum(dec(col("__x__")) * dec(col("__ni__"))).as("__xn__"),
        sum(dec(col("__x__")) * dec(col("__x__")) * dec(col("__ni__")))
          .as("__x2n__"))
    val nD = dec(col("n"))
    val num = nD * col("__xr__") - col("__r__") * col("__xn__")
    val varTerm = (col("__r__") * (nD - col("__r__"))).cast("double") *
      (nD * col("__x2n__") - col("__xn__") * col("__xn__"))
        .cast("double")
    val z2 = try_divide(col("n").cast("double") * num.cast("double") *
      num.cast("double"), varTerm)
    per.select(col(groupCol), col("n"), col("k_doses"),
      when(varTerm > 0, round(z2, 6)).as("z2"),
      when(varTerm > 0 && num =!= 0, num > 0).as("rising"),
      when(varTerm > 0, z2 * lit(1000000.0) >=
        lit(critMicro.toDouble)).as("significant"))
  }

  /** Mantel–Haenszel pooled odds ratio + CMH test per group — the
    * stratified treatment readout: "controlling for the confounder,
    * does treatment move the outcome, and by how much?" The pooled
    * estimate [[q271 simpsonsCheck]] flags the need for — a flipped
    * aggregate is the SYMPTOM, MH is the correct pooled effect. Per
    * stratum the 2×2 cells (a=treated-pass, b=treated-fail,
    * c=control-pass, d=control-fail) are exact integer counts;
    * `OR_MH = Σ(a_i d_i/n_i) / Σ(b_i c_i/n_i)` and the CMH
    * `χ² = (Σa_i − ΣE_i)² / ΣV_i` (`E_i = (a+b)(a+c)/n_i`,
    * `V_i = (a+b)(c+d)(a+c)(b+d)/(n_i²(n_i−1))`, no continuity
    * correction) fold their per-stratum single-division terms in
    * stratum-sorted order on BOTH engines. Strata with n_i < 2 carry
    * no variance and are excluded (reported). OR is null when no
    * discordant mass exists (Σb_i c_i/n_i = 0); χ² null when ΣV = 0.
    *
    * Shape: one (group, stratum) partial-aggregable collapse, one
    * stratum-bounded fold — rows shuffle once. Returns (group,
    * n_strata, n_thin, n, or_mh, chi2, significant). */
  def mantelHaenszel(df: DataFrame, groupCol: String,
      stratumCol: String, treatedCol: String, okCol: String,
      chiCrit: Double = 3.841): DataFrame = {
    val critMicro = math.round(chiCrit * 1e6)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df
      .filter(col(stratumCol).isNotNull && col(treatedCol).isNotNull &&
        col(okCol).isNotNull)
      .select(col(groupCol), col(stratumCol).cast("string").as("__s__"),
        col(treatedCol).cast("boolean").as("__t__"),
        col(okCol).cast("boolean").as("__ok__"))
    val cells = base.groupBy(col(groupCol), col("__s__")).agg(
      sum(when(col("__t__") && col("__ok__"), 1L).otherwise(0L))
        .as("__a__"),
      sum(when(col("__t__") && !col("__ok__"), 1L).otherwise(0L))
        .as("__b__"),
      sum(when(!col("__t__") && col("__ok__"), 1L).otherwise(0L))
        .as("__c__"),
      sum(when(!col("__t__") && !col("__ok__"), 1L).otherwise(0L))
        .as("__d__"))
      .withColumn("__ni__",
        col("__a__") + col("__b__") + col("__c__") + col("__d__"))
    val fat = cells.filter(col("__ni__") >= 2)
    val niD = col("__ni__").cast("double")
    val term = struct(col("__s__").as("s"),
      (dec(col("__a__")) * dec(col("__d__"))).cast("double")
        .divide(niD).as("ad"),
      (dec(col("__b__")) * dec(col("__c__"))).cast("double")
        .divide(niD).as("bc"),
      ((dec(col("__a__")) + dec(col("__b__"))) *
        (dec(col("__a__")) + dec(col("__c__")))).cast("double")
        .divide(niD).as("e"),
      try_divide(((dec(col("__a__")) + dec(col("__b__"))) *
        (dec(col("__c__")) + dec(col("__d__"))) *
        (dec(col("__a__")) + dec(col("__c__"))) *
        (dec(col("__b__")) + dec(col("__d__")))).cast("double"),
        niD * niD * (niD - 1.0)).as("v"))
    val per = fat.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_strata"),
        sum(col("__ni__")).as("__nfat__"),
        sum(col("__a__")).as("__asum__"),
        sort_array(collect_list(term)).as("__terms__"))
    def fsum(f: String) = aggregate(col("__terms__"), lit(0.0),
      (acc, s) => acc + s.getField(f))
    val thin = cells.groupBy(col(groupCol))
      .agg(sum(when(col("__ni__") < 2, 1L).otherwise(0L)).as("n_thin"))
    val diff = col("__asum__").cast("double") - fsum("e")
    val chi2 = try_divide(diff * diff, fsum("v"))
    thin.join(per, Seq(groupCol), "left")
      .select(col(groupCol),
        coalesce(col("n_strata"), lit(0L)).as("n_strata"),
        col("n_thin"),
        coalesce(col("__nfat__"), lit(0L)).as("n"),
        when(fsum("bc") > 0, round(try_divide(fsum("ad"), fsum("bc")),
          6)).as("or_mh"),
        when(fsum("v") > 0, round(chi2, 6)).as("chi2"),
        when(fsum("v") > 0, chi2 * lit(1000000.0) >=
          lit(critMicro.toDouble)).as("significant"))
  }

  /** χ² goodness-of-fit against a TARGET mixture per group — the QA
    * step after [[graft.ops.Corpus.sampleMixture]]/epochPlan: "did the
    * sampled corpus actually land on the planned source/length/lang
    * shares?" ([[chiSquared]] asks whether two observed factors are
    * independent; this asks whether ONE observed factor matches a
    * DECLARED distribution). Target shares arrive as exact micro
    * integers and need not sum to 1e6 — expected counts normalize by
    * the exact integer total `E_c = n·t_c/Σt`. Every target category
    * contributes (a vanished category is evidence); categories OUTSIDE
    * the target are excluded from the test and reported as
    * `n_unplanned`. The |target| float terms fold in category-sorted
    * order on both engines; df = |target|−1 is fixed by the plan, so
    * the verdict threshold is a compile-time constant from
    * [[chi2Crit95]] (callers with >30 categories pass `chiCrit`).
    *
    * Shape: one (group, category) partial-aggregable collapse, a
    * |target|-term fold per group — rows shuffle once. Returns
    * (group, n, n_unplanned, chi2, significant). */
  def chi2GoodnessOfFit(df: DataFrame, groupCol: String,
      catCol: String, targetMicro: Map[String, Long],
      chiCrit: Double = Double.NaN): DataFrame = {
    require(targetMicro.nonEmpty && targetMicro.values.forall(_ > 0),
      "target shares must be positive micro integers")
    val cats = targetMicro.keys.toSeq.sorted
    val tTot = targetMicro.values.sum
    val crit = if (chiCrit.isNaN) chi2Crit95.get(cats.size - 1)
      else Some(chiCrit)
    require(crit.isDefined, s"no 95% critical value for df " +
      s"${cats.size - 1}; pass chiCrit explicitly")
    val critMicro = math.round(crit.get * 1e6)
    val inTarget = col("__c__").isin(cats: _*)
    val base = df.filter(col(catCol).isNotNull)
      .select(col(groupCol), col(catCol).cast("string").as("__c__"))
    val counts = base.groupBy(col(groupCol)).agg(
      sum(when(inTarget, 1L).otherwise(0L)).as("n"),
      sum(when(inTarget, 0L).otherwise(1L)).as("n_unplanned"))
    // per-category observed counts as a map (only target categories)
    val om = base.filter(inTarget)
      .groupBy(col(groupCol), col("__c__"))
      .agg(count(lit(1)).as("__o__"))
      .groupBy(col(groupCol))
      .agg(map_from_entries(collect_list(struct(col("__c__"),
        col("__o__")))).as("__om__"))
    counts.join(om, Seq(groupCol), "left")
      .select(col(groupCol), col("n"), col("n_unplanned"),
        when(col("n") > 0, round(chi2GofFold(cats, targetMicro, tTot),
          6)).as("chi2"),
        when(col("n") > 0, chi2GofFold(cats, targetMicro, tTot) *
          lit(1000000.0) >= lit(critMicro.toDouble)).as("significant"))
  }

  /** The (category-sorted) χ² fold shared by [[chi2GoodnessOfFit]]'s
    * rounded readout and its verdict: `Σ (o_c − E_c)²/E_c` with
    * `E_c = n·t_c/Σt` — the `n·t_c` product exact in decimal before
    * the one double division. */
  private def chi2GofFold(cats: Seq[String],
      targetMicro: Map[String, Long], tTot: Long): Column =
    aggregate(typedLit(cats), lit(0.0), (acc, c) => {
      val o = coalesce(element_at(col("__om__"), c), lit(0L))
        .cast("double")
      val e = (col("n").cast("decimal(38,0)") *
        element_at(typedLit(targetMicro), c).cast("decimal(38,0)"))
        .cast("double") / lit(tTot.toDouble)
      acc + (o - e) * (o - e) / e
    })

  /** Wilson score interval per group — the error bars every eval pass
    * rate needs before "model B is better" means anything (the naive
    * ±z√(p(1−p)/n) Wald bars collapse to zero width at p = 0 or 1,
    * exactly where eval suites live). Both bounds come from the exact
    * integer (n, k) through one fixed expression tree — identical
    * doubles on both engines. Returns (group, n, k, rate, lo, hi);
    * groups come from the data, so n ≥ 1 always. */
  def wilsonInterval(df: DataFrame, groupCol: String, okCol: String,
      z: Double = 1.959964): DataFrame = {
    val z2 = z * z
    val per = df.filter(col(okCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(okCol).cast("boolean"), 1L).otherwise(0L))
          .as("k"))
    val nD = col("n").cast("double")
    val p = try_divide(col("k").cast("double"), nD)
    val denom = lit(1.0) + lit(z2) / nD
    val center = (p + lit(z2) / (lit(2.0) * nD)) / denom
    val hw = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      lit(z2) / (lit(4.0) * nD * nD)) / denom
    per.select(col(groupCol), col("n"), col("k"),
      round(p, 6).as("rate"),
      round(center - hw, 6).as("lo"),
      round(center + hw, 6).as("hi"))
  }

  /** Best filter threshold per group — the decision [[prCurve]] feeds:
    * the score `s` maximizing F1 of "keep iff score ≥ s", with ties
    * broken toward the LOWEST threshold (equal F1, keep more data).
    * F1 compares as `2·tp/(tp+fp+P)` — one double division per distinct
    * score from exact integer cumulative counts, identical on both
    * engines, and the argmax is a struct max (never a global sort).
    * Scores must be integral (quantize upstream — the prCurve
    * contract). All-negative groups have F1 = 0 everywhere and return
    * the lowest score with recall null.
    *
    * Shape: one (group, score) partial-aggregable collapse, cumulative
    * windows over the quantization-BOUNDED score grid, one struct-max
    * per group — rows shuffle once. Returns (group, threshold, tp, fp,
    * fn, precision, recall, f1). */
  def bestThreshold(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    requireIntegral(df, scoreCol, "bestThreshold")
    val perScore = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(groupCol), col(scoreCol).cast("long").as("__s__"))
      .agg(sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
        .as("__pos__"),
        sum(when(col(labelCol).cast("boolean"), 0L).otherwise(1L))
          .as("__neg__"))
    val wDesc = Window.partitionBy(col(groupCol))
      .orderBy(col("__s__").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy(col(groupCol))
    val cum = perScore
      .withColumn("__tp__", sum(col("__pos__")).over(wDesc))
      .withColumn("__fp__", sum(col("__neg__")).over(wDesc))
      .withColumn("__P__", sum(col("__pos__")).over(tot))
    val f1 = try_divide((col("__tp__") * 2).cast("double"),
      (col("__tp__") + col("__fp__") + col("__P__")).cast("double"))
    cum.withColumn("__f1__", f1)
      .groupBy(col(groupCol))
      .agg(max(struct(col("__f1__").as("f"), (-col("__s__")).as("ns"),
        col("__tp__").as("tp"), col("__fp__").as("fp"),
        col("__P__").as("p"))).as("__b__"))
      .select(col(groupCol),
        (-col("__b__.ns")).as("threshold"),
        col("__b__.tp").as("tp"), col("__b__.fp").as("fp"),
        (col("__b__.p") - col("__b__.tp")).as("fn"),
        round(try_divide(col("__b__.tp").cast("double"),
          (col("__b__.tp") + col("__b__.fp")).cast("double")), 6)
          .as("precision"),
        round(try_divide(col("__b__.tp").cast("double"),
          col("__b__.p").cast("double")), 6).as("recall"),
        round(col("__b__.f"), 6).as("f1"))
  }

  /** Group-sequential A/B monitor per group — the peeking-safe readout:
    * eval dashboards look at every interim, and a fixed-z test peeked K
    * times inflates false positives several-fold. Each interim `k` of
    * `totalInterims` compares the CUMULATIVE two-proportion z² against
    * the O'Brien–Fleming-style boundary `z_α·√(K/k)` (the textbook OBF
    * approximation — early looks need overwhelming evidence, the final
    * look pays almost no penalty). Interims must be integral 1..K
    * (quantize upstream). Cumulative counts are exact integer window
    * sums; z² is assembled in doubles from them ([[anovaF]]'s posture):
    * `z² = (p_A−p_B)² / (p̄(1−p̄)(1/N_A+1/N_B))`, null while either arm
    * is empty or p̄ is degenerate. `decided` latches: once any interim
    * ≤ k crossed, the experiment is stopped — later rows report the
    * decision, not a fresh test.
    *
    * Shape: one (group, interim) partial-aggregable collapse, windows
    * over the K-bounded interim grid — rows shuffle once. Returns
    * (group, interim, n_a, n_b, z2, z_bound, crossed, decided). */
  def groupSequential(df: DataFrame, groupCol: String,
      interimCol: String, treatedCol: String, okCol: String,
      totalInterims: Int, zAlpha: Double = 1.959964): DataFrame = {
    requireIntegral(df, interimCol, "groupSequential")
    require(totalInterims >= 1, "need totalInterims >= 1")
    val base = df.filter(col(interimCol).isNotNull &&
        col(treatedCol).isNotNull && col(okCol).isNotNull &&
        col(interimCol) >= 1 && col(interimCol) <= totalInterims)
      .select(col(groupCol), col(interimCol).cast("long").as("__k__"),
        col(treatedCol).cast("boolean").as("__t__"),
        col(okCol).cast("boolean").as("__ok__"))
    val per = base.groupBy(col(groupCol), col("__k__")).agg(
      sum(when(col("__t__"), 1L).otherwise(0L)).as("__na__"),
      sum(when(col("__t__") && col("__ok__"), 1L).otherwise(0L))
        .as("__ka__"),
      sum(when(!col("__t__"), 1L).otherwise(0L)).as("__nb__"),
      sum(when(!col("__t__") && col("__ok__"), 1L).otherwise(0L))
        .as("__kb__"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__k__"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = per
      .withColumn("__NA__", sum(col("__na__")).over(w))
      .withColumn("__KA__", sum(col("__ka__")).over(w))
      .withColumn("__NB__", sum(col("__nb__")).over(w))
      .withColumn("__KB__", sum(col("__kb__")).over(w))
    val naD = col("__NA__").cast("double")
    val nbD = col("__NB__").cast("double")
    val pA = try_divide(col("__KA__").cast("double"), naD)
    val pB = try_divide(col("__KB__").cast("double"), nbD)
    val pBar = try_divide((col("__KA__") + col("__KB__")).cast("double"),
      (col("__NA__") + col("__NB__")).cast("double"))
    val den = pBar * (lit(1.0) - pBar) *
      (lit(1.0) / naD + lit(1.0) / nbD)
    val z2 = try_divide((pA - pB) * (pA - pB), den)
    val bound = lit(zAlpha) *
      sqrt(lit(totalInterims.toDouble) / col("__k__").cast("double"))
    val crossed = when(col("__NA__") > 0 && col("__NB__") > 0 &&
      den > 0, z2 >= bound * bound)
    val wAll = Window.partitionBy(col(groupCol)).orderBy(col("__k__"))
      .rowsBetween(Window.unboundedPreceding, 0)
    cum.withColumn("__cr__", crossed)
      .withColumn("decided",
        max(when(col("__cr__"), 1).otherwise(0)).over(wAll) === 1)
      .select(col(groupCol), col("__k__").as("interim"),
        col("__NA__").as("n_a"), col("__NB__").as("n_b"),
        when(col("__NA__") > 0 && col("__NB__") > 0 && den > 0,
          round(z2, 6)).as("z2"),
        round(bound, 6).as("z_bound"),
        col("__cr__").as("crossed"),
        col("decided"))
  }

  /** Experiment power plan per group — "how many units per arm before
    * the test can SEE the effect we care about?", answered from the
    * observed baseline rate (the design-time companion to
    * [[groupSequential]]: run this BEFORE launch, that one after).
    * For each minimum detectable effect δ (absolute, micro units):
    * `n = ⌈(z_α√(2p̄(1−p̄)) + z_β√(p₁(1−p₁)+p₂(1−p₂)))² / δ²⌉` with
    * `p₁` the observed baseline, `p₂ = p₁+δ`, `p̄` their mean — the
    * standard two-proportion formula, every input an exact integer or
    * a literal, one fixed expression tree. Defaults are 95% two-sided
    * (z_α = 1.959964) at 80% power (z_β = 0.841621). `n_per_arm` is
    * null when the target rate leaves [0, 1].
    *
    * Shape: one boolean collapse, a |mdes|-row literal explode per
    * group — rows shuffle once. Returns (group, mde_micro, n_baseline,
    * baseline_rate, target_rate, n_per_arm). */
  def powerPlan(df: DataFrame, groupCol: String, okCol: String,
      mdesMicro: Seq[Long], zAlpha: Double = 1.959964,
      zBeta: Double = 0.841621): DataFrame = {
    require(mdesMicro.nonEmpty && mdesMicro.forall(_ > 0),
      "mdesMicro must be positive")
    val per = df.filter(col(okCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_baseline"),
        sum(when(col(okCol).cast("boolean"), 1L).otherwise(0L))
          .as("__k__"))
    val p1 = try_divide(col("__k__").cast("double"),
      col("n_baseline").cast("double"))
    val delta = col("mde_micro").cast("double") / lit(1000000.0)
    val p2 = p1 + delta
    val pBar = (p1 + p2) / lit(2.0)
    val s = lit(zAlpha) * sqrt(lit(2.0) * pBar * (lit(1.0) - pBar)) +
      lit(zBeta) * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))
    per.withColumn("mde_micro",
        explode(typedLit(mdesMicro.sorted.toArray)))
      .select(col(groupCol), col("mde_micro"), col("n_baseline"),
        round(p1, 6).as("baseline_rate"),
        when(p2 <= 1.0, round(p2, 6)).as("target_rate"),
        when(p2 <= 1.0, ceil(s * s / (delta * delta)))
          .as("n_per_arm"))
  }

  /** Quantile treatment effects per group — "did the treatment move
    * the TAIL, not just the mean?" ([[welchTTest]] answers means; a
    * latency fix that only helps p90 or a filter that only truncates
    * the worst 10% is invisible there). For each probability p the
    * EXACT lower nearest-rank quantile of each arm comes from the
    * quantization-bounded value histogram by integer
    * cross-multiplication (`cum·1e6 ≥ p_micro·n` — the
    * [[quantileBuckets]] discipline, never a percentile approximation),
    * and the effect is the exact integer difference. Values must be
    * integral (quantize upstream).
    *
    * Shape: one (group, arm, value) partial-aggregable collapse,
    * cumulative windows over the per-arm value grid, a |probs| literal
    * explode — rows shuffle once, nothing data-sized survives. Returns
    * (group, prob_micro, n_treated, n_control, q_treated, q_control,
    * diff); arms absent from a group leave nulls. */
  def quantileTreatmentEffect(df: DataFrame, groupCol: String,
      treatedCol: String, valueCol: String,
      probsMicro: Seq[Long] = Seq(250000L, 500000L, 750000L, 900000L))
      : DataFrame = {
    requireIntegral(df, valueCol, "quantileTreatmentEffect")
    require(probsMicro.nonEmpty &&
      probsMicro.forall(p => p > 0 && p <= 1000000L),
      "probsMicro must lie in (0, 1e6]")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df
      .filter(col(treatedCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol), col(treatedCol).cast("boolean").as("__t__"),
        col(valueCol).cast("long").as("__v__"))
    val hist = base.groupBy(col(groupCol), col("__t__"), col("__v__"))
      .agg(count(lit(1)).as("__c__"))
    val w = Window.partitionBy(col(groupCol), col("__t__"))
      .orderBy(col("__v__"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy(col(groupCol), col("__t__"))
    val cum = hist
      .withColumn("__cum__", sum(col("__c__")).over(w))
      .withColumn("__n__", sum(col("__c__")).over(tot))
    val qs = cum
      .withColumn("prob_micro", explode(typedLit(probsMicro.sorted
        .toArray)))
      .filter(dec(col("__cum__")) * dec(lit(1000000L)) >=
        dec(col("prob_micro")) * dec(col("__n__")))
      .groupBy(col(groupCol), col("__t__"), col("prob_micro"))
      .agg(min(col("__v__")).as("__q__"), max(col("__n__")).as("__nn__"))
    val t = qs.filter(col("__t__"))
      .select(col(groupCol), col("prob_micro"),
        col("__nn__").as("n_treated"), col("__q__").as("q_treated"))
    val c = qs.filter(!col("__t__"))
      .select(col(groupCol), col("prob_micro"),
        col("__nn__").as("n_control"), col("__q__").as("q_control"))
    t.join(c, Seq(groupCol, "prob_micro"), "full")
      .select(col(groupCol), col("prob_micro"),
        col("n_treated"), col("n_control"),
        col("q_treated"), col("q_control"),
        (col("q_treated") - col("q_control")).as("diff"))
  }

  /** Brown–Forsythe (median-based Levene) test per group — "do the
    * variants even have comparable SPREAD?", the assumption check that
    * belongs BEFORE [[anovaF]] (its mean comparison assumes variance
    * homogeneity; heteroscedastic arms silently inflate its false
    * positives) and a finding in its own right (a treatment that
    * widens the distribution without moving the mean is invisible to
    * every mean test). The deviation base is the per-variant exact
    * LOWER MEDIAN (integer cross-multiplication over the value grid —
    * the median form is the robust Brown–Forsythe variant), the
    * absolute deviations are exact integers, and the F statistic on
    * them is literally [[anovaF]] — one op composed of two, sharing
    * its verdict discipline. `fCrit` as there (F(k−1, ∞) at 95% by
    * default).
    *
    * Shape: one (group, variant, value) collapse, windows over the
    * per-variant value grid, one broadcast median join-back, then
    * anovaF's single moment collapse. Returns anovaF's schema:
    * (group, n, k, f_stat, significant). */
  def leveneTest(df: DataFrame, groupCol: String, variantCol: String,
      valueCol: String, fCrit: Double = 2.996): DataFrame = {
    requireIntegral(df, valueCol, "leveneTest")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df
      .filter(col(variantCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol), col(variantCol).cast("string")
        .as("__var__"), col(valueCol).cast("long").as("__v__"))
    val hist = base.groupBy(col(groupCol), col("__var__"), col("__v__"))
      .agg(count(lit(1)).as("__c__"))
    val w = Window.partitionBy(col(groupCol), col("__var__"))
      .orderBy(col("__v__"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy(col(groupCol), col("__var__"))
    val med = hist
      .withColumn("__cum__", sum(col("__c__")).over(w))
      .withColumn("__n__", sum(col("__c__")).over(tot))
      .filter(dec(col("__cum__")) * 2 >= dec(col("__n__")))
      .groupBy(col(groupCol), col("__var__"))
      .agg(min(col("__v__")).as("__med__"))
    val z = base.join(broadcast(med), Seq(groupCol, "__var__"))
      .select(col(groupCol), col("__var__"),
        abs(col("__v__") - col("__med__")).as("__z__"))
    anovaF(z, groupCol, "__var__", "__z__", fCrit)
  }

  /** Dunn's post-hoc test per group — the step AFTER [[kruskalWallis]]
    * flags an omnibus difference: WHICH variant pairs differ? Pairwise
    * z on the POOLED midranks (not per-pair re-ranking — that breaks
    * the family guarantee), tie-corrected
    * `σ² = (N(N+1) − Σ(t³−t)/(N−1))/12 · (1/n_i + 1/n_j)`, with the
    * caller-supplied Bonferroni critical value `zCrit` (α/(k(k−1))
    * two-sided — e.g. 2.394 for k = 3 at α = 0.05; the [[anovaF]]
    * fCrit contract). Doubled midranks keep every moment an exact
    * decimal; z is assembled in doubles from them (the doubling
    * cancels: mean differences double, variance quadruples). z is
    * SIGNED — positive means variant_a ranks higher. Null when the
    * tie-corrected variance is 0 (all pooled values equal).
    *
    * Shape: one pooled midrank pass ([[kruskalWallis]]'s), one
    * (group, variant) moment collapse, one label-bounded pair join —
    * rows shuffle once. Returns (group, variant_a, variant_b, n_a,
    * n_b, z, significant). */
  def dunnTest(df: DataFrame, groupCol: String, variantCol: String,
      valueCol: String, zCrit: Double = 2.394): DataFrame = {
    requireIntegral(df, valueCol, "dunnTest")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df
      .filter(col(variantCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol), col(variantCol).cast("string")
        .as("__var__"), col(valueCol).cast("long").as("__v__"))
    val ranks = midranks2(base, groupCol, "__v__")
    val perVar = base.join(ranks, Seq(groupCol, "__v__"))
      .groupBy(col(groupCol), col("__var__"))
      .agg(count(lit(1)).as("__nv__"),
        sum(dec(col("__rank2__"))).as("__r2__"))
    val stats = ranks.groupBy(col(groupCol))
      .agg(sum(col("__t__")).as("__N__"),
        sum(dec(col("__t__")) * dec(col("__t__")) * dec(col("__t__")) -
          dec(col("__t__"))).as("__ts__"))
    val a = perVar.alias("a")
    val b = perVar.alias("b")
    val pairs = a.join(b, col(s"a.$groupCol") === col(s"b.$groupCol") &&
        col("a.__var__") < col("b.__var__"))
      .select(col(s"a.$groupCol").as(groupCol),
        col("a.__var__").as("variant_a"),
        col("b.__var__").as("variant_b"),
        col("a.__nv__").as("n_a"), col("b.__nv__").as("n_b"),
        col("a.__r2__").as("__ra__"), col("b.__r2__").as("__rb__"))
      .join(stats, Seq(groupCol))
    val nD = col("__N__").cast("double")
    val vb = (dec(col("__N__")) * dec(col("__N__") + 1)).cast("double") /
      lit(12.0) -
      col("__ts__").cast("double") / (lit(12.0) * (nD - lit(1.0)))
    val mA = try_divide(col("__ra__").cast("double"),
      col("n_a").cast("double"))
    val mB = try_divide(col("__rb__").cast("double"),
      col("n_b").cast("double"))
    val z = try_divide(mA - mB,
      sqrt(lit(4.0) * vb * (lit(1.0) / col("n_a").cast("double") +
        lit(1.0) / col("n_b").cast("double"))))
    pairs.select(col(groupCol), col("variant_a"), col("variant_b"),
      col("n_a"), col("n_b"),
      when(vb > 0, round(z, 6)).as("z"),
      when(vb > 0, z * z >= lit(zCrit) * lit(zCrit)).as("significant"))
  }

  /** Friedman test per group — the k-model omnibus for CONTINUOUS
    * metrics on a shared task set ([[cochranQ]] handles pass/fail; this
    * handles scores): values rank WITHIN each block (task), so one
    * wildly-scaled task cannot dominate, and the question is "does ANY
    * model consistently rank better?". Doubled midranks within each
    * block keep every moment exact; the tie-safe Conover form
    * `χ² = (k−1)·Σ_j(R_j − n(k+1)/2)² / (A − C)` is assembled ENTIRELY
    * in decimal (the doubling cancels between numerator and
    * denominator), so both the statistic's one division and the
    * χ²(k−1) verdict cross-multiplication are exact — no float can
    * flip a borderline call. Blocks not scored by all k models are
    * dropped and reported ([[cochranQ]]'s contract); χ² is null when
    * every block is internally tied (A = C).
    *
    * Shape: one (group, block, value) collapse, midrank windows over
    * tiny per-block partitions (k rows each — one shuffle on the block
    * key), k-bounded treatment moments — rows shuffle once. Returns
    * (group, k, n_blocks, n_incomplete, chi2, significant). */
  def friedmanTest(df: DataFrame, groupCol: String, blockCol: String,
      treatmentCol: String, valueCol: String,
      critByDf: Map[Int, Double] = chi2Crit95): DataFrame = {
    requireIntegral(df, valueCol, "friedmanTest")
    val critMicro: Map[Int, Long] =
      critByDf.map { case (k, v) => k -> math.round(v * 1e6) }
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.filter(col(blockCol).isNotNull &&
        col(treatmentCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol), col(blockCol).as("__blk__"),
        col(treatmentCol).cast("string").as("__trt__"),
        col(valueCol).cast("long").as("__v__"))
    val kPer = base.groupBy(col(groupCol))
      .agg(countDistinct(col("__trt__")).as("__k__"))
    // ONE block-keyed exchange carries everything: the block size (the
    // completeness gate), and the doubled midrank as
    // rank_asc + (bs − rank_desc + 1) = 2·#less + #tied + 1 — min-tie
    // ranks from two sorts over the SAME partitioning, no per-value
    // histogram and no join-back
    val wBlk = Window.partitionBy(col(groupCol), col("__blk__"))
    // NOT persisted despite three consumers: measured (r13) — persisting
    // the windowed table costs +24% wall / 3× task time at sf0.1, the
    // same InMemoryRelation-defeats-exchange-reuse effect documented on
    // [[krippendorffAlpha]]/[[cochranQ]]; ReusedExchange already shares
    // the one block-keyed shuffle and the re-run window sorts are
    // cheaper than the materialization barrier.
    val ranked = base
      .withColumn("__bs__", count(lit(1)).over(wBlk))
      .withColumn("__r2__",
        rank().over(wBlk.orderBy(col("__v__").asc)) +
          (col("__bs__") - rank().over(wBlk.orderBy(col("__v__").desc))
            + 1))
      .join(broadcast(kPer), Seq(groupCol))
    val dropped = ranked
      .groupBy(col(groupCol), col("__blk__"))
      .agg(max(when(col("__bs__") =!= col("__k__"), 1L).otherwise(0L))
        .as("__inc__"))
      .groupBy(col(groupCol))
      .agg(sum(col("__inc__")).as("n_incomplete"))
    val rr = ranked.filter(col("__bs__") === col("__k__"))
    val perTrt = rr.groupBy(col(groupCol), col("__trt__"))
      .agg(sum(dec(col("__r2__"))).as("__rj__"),
        count(lit(1)).as("__nb__"))
    val perG = rr.groupBy(col(groupCol))
      .agg(sum(dec(col("__r2__")) * dec(col("__r2__"))).as("__a2__"),
        countDistinct(col("__blk__")).as("n_blocks"))
    // S2 = Σ_j (R2_j − n(k+1))²: exact decimal, order-free
    val s2 = perTrt
      .join(perG.select(col(groupCol), col("n_blocks").as("__n__")),
        Seq(groupCol))
      .join(kPer.select(col(groupCol), col("__k__").as("__kk__")),
        Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(sum((col("__rj__") - dec(col("__n__")) *
        dec(col("__kk__") + 1)) * (col("__rj__") - dec(col("__n__")) *
        dec(col("__kk__") + 1))).as("__s2__"))
    val c2 = dec(col("n_blocks")) * dec(col("__k__")) *
      dec(col("__k__") + 1) * dec(col("__k__") + 1)
    val den = col("__a2__") - c2
    val num = (dec(col("__k__")) - 1) * col("__s2__")
    val crit = element_at(typedLit(critMicro),
      (col("__k__") - 1).cast("int"))
    dropped.join(kPer, Seq(groupCol))
      .join(perG, Seq(groupCol), "left")
      .join(s2, Seq(groupCol), "left")
      .select(col(groupCol), col("__k__").as("k"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        col("n_incomplete"),
        when(den > 0, round(try_divide(num.cast("double"),
          den.cast("double")), 6)).as("chi2"),
        when(den > 0 && crit.isNotNull,
          num * dec(lit(1000000L)) >= dec(crit) * den)
          .as("significant"))
  }

  /** Rank effect sizes per group — Cliff's δ and Vargha–Delaney A for
    * each variant against the control: [[rankSumTest]] says WHETHER the
    * distributions differ, these say HOW MUCH, scale-free ("probability
    * a random treated beats a random control") — significance without
    * magnitude is the huge-N trap, where p < 0.05 can mean nothing.
    * Pair counts come from a RUNNING control CDF over the merged value
    * grid (one union + one group-keyed window — LINEAR in the grid,
    * never grid² and never rows²: a variant cell at v beats exactly
    * `cdf(<v)` control values, loses to `N_c − cdf(≤v)`, ties the
    * rest): `gt/lt/ties` are exact decimal products,
    * `δ = (gt−lt)/(n_v·n_c)` and `A = (gt + ties/2)/(n_v·n_c)` are
    * single divisions, and the Romano magnitude label
    * (negligible/small/medium/large at 0.147/0.33/0.474) is decided by
    * exact integer cross-multiplication — no float picks the bucket.
    * Values must be integral (quantize upstream).
    *
    * Shape: one (group, variant, value) collapse, one union + one
    * window over the merged grid, |variants| output rows — rows
    * shuffle once. Returns (group, variant, n_variant, n_control,
    * delta, vda, magnitude). */
  def rankEffectSize(df: DataFrame, groupCol: String,
      variantCol: String, valueCol: String,
      control: String): DataFrame = {
    requireIntegral(df, valueCol, "rankEffectSize")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df
      .filter(col(variantCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol), col(variantCol).cast("string")
        .as("__var__"), col(valueCol).cast("long").as("__v__"))
    val cells = base.groupBy(col(groupCol), col("__var__"), col("__v__"))
      .agg(count(lit(1)).as("__n__"))
    // merged grid: control cells sort BEFORE variant cells at equal v,
    // so the running control mass at a variant cell is cdf(≤ v)
    val merged = cells.withColumn("__side__",
        when(col("__var__") === control, 0).otherwise(1))
      .withColumn("__cw__",
        when(col("__side__") === 0, col("__n__")).otherwise(0L))
    val wRun = Window.partitionBy(col(groupCol))
      .orderBy(col("__v__").asc, col("__side__").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col(groupCol))
    val withCdf = merged
      .withColumn("__le__", sum(col("__cw__")).over(wRun))
      .withColumn("__nc__", sum(col("__cw__")).over(wAll))
    // ties need the control count AT v: equi join back to the control
    // cells (grid-sized, group+value keyed)
    val ctlAt = cells.filter(col("__var__") === control)
      .select(col(groupCol), col("__v__"), col("__n__").as("__eq__"))
    val per = withCdf.filter(col("__side__") === 1)
      .join(ctlAt, Seq(groupCol, "__v__"), "left")
      .withColumn("__eq__", coalesce(col("__eq__"), lit(0L)))
      .groupBy(col(groupCol), col("__var__").as("variant"))
      .agg(sum(dec(col("__n__")) * dec(col("__le__") - col("__eq__")))
          .as("__gt__"),
        sum(dec(col("__n__")) * dec(col("__nc__") - col("__le__")))
          .as("__lt__"),
        sum(dec(col("__n__")) * dec(col("__eq__"))).as("__ti__"))
    val nPairs = col("__gt__") + col("__lt__") + col("__ti__")
    val diff = col("__gt__") - col("__lt__")
    val absDiff = when(diff < 0, -diff).otherwise(diff)
    def atLeast(milli: Long) =
      absDiff * dec(lit(1000L)) >= dec(lit(milli)) * nPairs
    val nV = base.filter(col("__var__") =!= control)
      .groupBy(col(groupCol), col("__var__").as("variant"))
      .agg(count(lit(1)).as("n_variant"))
    val nC = base.filter(col("__var__") === control)
      .groupBy(col(groupCol)).agg(count(lit(1)).as("n_control"))
    nV.join(nC, Seq(groupCol))
      .join(per, Seq(groupCol, "variant"), "left")
      .select(col(groupCol), col("variant"), col("n_variant"),
        col("n_control"),
        round(try_divide(diff.cast("double"), nPairs.cast("double")),
          6).as("delta"),
        // doubled form keeps the half-tie weight exact:
        // A = (2·gt + ties) / (2·pairs)
        round(try_divide((col("__gt__") * 2 + col("__ti__"))
          .cast("double"), (nPairs * 2).cast("double")), 6).as("vda"),
        when(nPairs > 0,
          when(atLeast(474L), "large")
            .when(atLeast(330L), "medium")
            .when(atLeast(147L), "small")
            .otherwise("negligible")).as("magnitude"))
  }

  /** Equivalence / non-inferiority test per group (two-proportion
    * TOST) — the INVERSE question of every other test here: "is the
    * candidate the SAME as the baseline within ±δ?" Failing to reject
    * "different" is NOT evidence of sameness (underpowered tests fail
    * at everything); TOST demands positive evidence that the
    * difference lies inside the margin — the correct gate for "the
    * cheaper/faster model is not worse". Two one-sided z tests on the
    * unpooled standard error, from exact integer moments through one
    * fixed expression tree: `non_inferior` iff `(diff+δ)/se ≥ z_α`
    * (candidate not worse by more than δ), `equivalent` iff
    * additionally `(δ−diff)/se ≥ z_α`. Defaults: one-sided 95%
    * (z_α = 1.644854), margin in micro units. Verdicts are null while
    * either arm is empty or the standard error is 0.
    *
    * Shape: one boolean collapse — rows shuffle once, |groups| output
    * rows. Returns (group, n_baseline, n_candidate, rate_baseline,
    * rate_candidate, diff, non_inferior, equivalent). */
  def equivalenceTest(df: DataFrame, groupCol: String,
      candidateCol: String, okCol: String, marginMicro: Long,
      zAlpha: Double = 1.644854): DataFrame = {
    require(marginMicro > 0, "margin must be positive micro units")
    val delta = marginMicro.toDouble / 1e6
    val per = df.filter(col(candidateCol).isNotNull &&
        col(okCol).isNotNull)
      .groupBy(col(groupCol)).agg(
        sum(when(!col(candidateCol).cast("boolean"), 1L).otherwise(0L))
          .as("n_baseline"),
        sum(when(!col(candidateCol).cast("boolean") &&
          col(okCol).cast("boolean"), 1L).otherwise(0L)).as("__kb__"),
        sum(when(col(candidateCol).cast("boolean"), 1L).otherwise(0L))
          .as("n_candidate"),
        sum(when(col(candidateCol).cast("boolean") &&
          col(okCol).cast("boolean"), 1L).otherwise(0L)).as("__kc__"))
    val nb = col("n_baseline").cast("double")
    val nc = col("n_candidate").cast("double")
    val pb = try_divide(col("__kb__").cast("double"), nb)
    val pc = try_divide(col("__kc__").cast("double"), nc)
    val diff = pc - pb
    val se = sqrt(pb * (lit(1.0) - pb) / nb +
      pc * (lit(1.0) - pc) / nc)
    val testable = col("n_baseline") > 0 && col("n_candidate") > 0 &&
      se > 0
    val zLo = (diff + lit(delta)) / se
    val zHi = (lit(delta) - diff) / se
    per.select(col(groupCol), col("n_baseline"), col("n_candidate"),
      round(pb, 6).as("rate_baseline"),
      round(pc, 6).as("rate_candidate"),
      when(col("n_baseline") > 0 && col("n_candidate") > 0,
        round(diff, 6)).as("diff"),
      when(testable, zLo >= lit(zAlpha)).as("non_inferior"),
      when(testable, zLo >= lit(zAlpha) && zHi >= lit(zAlpha))
        .as("equivalent"))
  }

  /** Off-policy value estimate per group (IPS + SNIPS) — "how good
    * would the NEW routing policy have been on last month's logged
    * traffic?", answered without serving it: inverse-propensity
    * scoring over the logged (action, propensity, reward) triples,
    * counting only rows where the target policy agrees with the logged
    * action. IPS is unbiased but high-variance; SNIPS (self-normalized)
    * trades a little bias for stability — report both, plus the
    * effective sample size of the matched weights ((Σw)²/Σw²): an ESS
    * of 30 on a million matched rows means the estimate rests on ~30
    * rows, whatever n says. Per-row ratios quantize to exact integer
    * floor divisions (`r_milli·1e6 div p_micro`, ≤ 1 milli-unit error
    * per row), so every aggregate is an order-free exact decimal sum —
    * no float accumulation across rows. Rewards in milli, propensities
    * in micro (both integral; quantize upstream), propensities must be
    * positive.
    *
    * Shape: one partial-aggregable collapse — rows shuffle once,
    * |groups| output rows. Rows with null fields or non-positive
    * propensities (unusable logging artifacts) are excluded. Returns
    * (group, n, n_match, ips, snips, ess_matched). */
  def offPolicyValue(df: DataFrame, groupCol: String, matchCol: String,
      propensityMicroCol: String, rewardMilliCol: String): DataFrame = {
    requireIntegral(df, propensityMicroCol, "offPolicyValue")
    requireIntegral(df, rewardMilliCol, "offPolicyValue")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.filter(col(matchCol).isNotNull &&
        col(propensityMicroCol) > 0 &&
        col(rewardMilliCol).isNotNull)
      .select(col(groupCol), col(matchCol).cast("boolean").as("__m__"),
        col(propensityMicroCol).cast("long").as("__p__"),
        col(rewardMilliCol).cast("long").as("__r__"))
    val term = expr("(__r__ * 1000000) div __p__")
    val w = expr("1000000000000 div __p__")
    val per = base.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(when(col("__m__"), 1L).otherwise(0L)).as("n_match"),
      sum(when(col("__m__"), dec(term)).otherwise(lit(0)
        .cast("decimal(38,0)"))).as("__st__"),
      sum(when(col("__m__"), dec(w)).otherwise(lit(0)
        .cast("decimal(38,0)"))).as("__sw__"),
      sum(when(col("__m__"), dec(w) * dec(w)).otherwise(lit(0)
        .cast("decimal(38,0)"))).as("__sw2__"))
    per.select(col(groupCol), col("n"), col("n_match"),
      round(try_divide(col("__st__").cast("double"),
        (col("n") * 1000L).cast("double")), 6).as("ips"),
      when(col("__sw__") > 0,
        round(try_divide((col("__st__") * 1000).cast("double"),
          col("__sw__").cast("double")), 6)).as("snips"),
      when(col("__sw2__") > 0,
        round(try_divide((col("__sw__") * col("__sw__"))
          .cast("double"), col("__sw2__").cast("double")), 6))
        .as("ess_matched"))
  }

  /** Doubly-robust off-policy estimate per group — [[offPolicyValue]]
    * hardened with a reward model: `V_DR = (1/n)·Σ [q̂_i +
    * match_i·(r_i − q̂_i)/p_i]` where q̂ is the caller's predicted
    * reward UNDER THE TARGET POLICY's action. Unbiased if EITHER the
    * propensities or the reward model is right (hence doubly robust),
    * and the IPS correction now rides the residual `r − q̂`, so a
    * decent model collapses the variance that makes plain IPS
    * unusable at small match rates. Same exact-integer quantization
    * discipline as IPS: the residual correction floors to
    * `(r−q̂)·1e6 div p` (sign-symmetric floor via negation — Spark's
    * `div` truncates toward zero, so the NEGATED magnitude is floored
    * and restored), every sum order-free exact decimal. Also returns
    * the plain direct-method estimate (model only) so the correction's
    * size is visible. Rewards/predictions in milli, propensities in
    * micro; non-positive propensities excluded.
    *
    * Shape: one partial-aggregable collapse — rows shuffle once.
    * Returns (group, n, n_match, dm, dr, correction). */
  def doublyRobustValue(df: DataFrame, groupCol: String,
      matchCol: String, propensityMicroCol: String,
      rewardMilliCol: String, predictedMilliCol: String): DataFrame = {
    requireIntegral(df, propensityMicroCol, "doublyRobustValue")
    requireIntegral(df, rewardMilliCol, "doublyRobustValue")
    requireIntegral(df, predictedMilliCol, "doublyRobustValue")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.filter(col(matchCol).isNotNull &&
        col(propensityMicroCol) > 0 &&
        col(rewardMilliCol).isNotNull &&
        col(predictedMilliCol).isNotNull)
      .select(col(groupCol), col(matchCol).cast("boolean").as("__m__"),
        col(propensityMicroCol).cast("long").as("__p__"),
        col(rewardMilliCol).cast("long").as("__r__"),
        col(predictedMilliCol).cast("long").as("__q__"))
    // sign-symmetric floor: quantize |resid|·1e6 div p, restore sign —
    // identical on both engines for either sign of the residual
    val corr = expr("""CASE WHEN __r__ >= __q__
      THEN ((__r__ - __q__) * 1000000) div __p__
      ELSE -(((__q__ - __r__) * 1000000) div __p__) END""")
    val per = base.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(when(col("__m__"), 1L).otherwise(0L)).as("n_match"),
      sum(dec(col("__q__"))).as("__sq__"),
      sum(when(col("__m__"), dec(corr)).otherwise(lit(0)
        .cast("decimal(38,0)"))).as("__sc__"))
    val nD = (col("n") * 1000L).cast("double")
    per.select(col(groupCol), col("n"), col("n_match"),
      round(try_divide(col("__sq__").cast("double"), nD), 6).as("dm"),
      round(try_divide((col("__sq__") + col("__sc__")).cast("double"),
        nD), 6).as("dr"),
      round(try_divide(col("__sc__").cast("double"), nD), 6)
        .as("correction"))
  }

  /** Theil–Sen robust slope per group — the weighted median of all
    * pairwise slopes (y_j−y_i)/(x_j−x_i) over x_j > x_i. The robust
    * sibling of the per-key OLS trend: a single wild segment can drag
    * OLS arbitrarily, but Theil–Sen tolerates ~29% contamination, and
    * [[mannKendall]] is its natural significance companion (same
    * pair structure).
    *
    * Scale shape: rows NEVER pair. The input collapses to the distinct
    * (x, y) cell grid with multiplicities first (exactly
    * [[kendallTau]]'s trick), the pair join runs over cells with
    * `b.x > a.x`, and each cell pair carries weight n_a·n_b — so a
    * billion-row group with a bounded quantization grid joins
    * |grid|²/2 cell pairs, not n²/2 row pairs. The weighted median
    * then needs no second pass over pairs: slopes collapse to
    * (group, slope) weight sums, a cumulative-weight window ordered by
    * slope (|distinct slopes| rows per group, grid-bounded) picks the
    * smallest slope whose doubled cumulative weight reaches the total
    * (the lower weighted median — deterministic under even totals).
    *
    * Determinism: x and y are required integral, so every slope is one
    * IEEE double division of exactly-represented longs — bit-identical
    * in any engine — and pair weights accumulate in decimal(38,0)
    * (order-free exact addition; no float sum ever forms). Groups
    * whose x is constant (no pairs) keep their row with a null slope.
    * Returns (group, n, n_pairs, slope). */
  def theilSen(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    requireIntegral(df, xCol, "theilSen")
    requireIntegral(df, yCol, "theilSen")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol), col(xCol).cast("long").as("__x__"),
        col(yCol).cast("long").as("__y__"))
    val cells = base.groupBy(col(groupCol), col("__x__"), col("__y__"))
      .agg(count(lit(1)).as("__n__"))
    val a = cells.alias("a")
    val b = cells.alias("b")
    val slopes = a.join(b, col(s"a.$groupCol") === col(s"b.$groupCol") &&
        col("b.__x__") > col("a.__x__"))
      .select(col(s"a.$groupCol").as(groupCol),
        ((col("b.__y__") - col("a.__y__")).cast("double") /
          (col("b.__x__") - col("a.__x__")).cast("double")).as("__s__"),
        (dec(col("a.__n__")) * dec(col("b.__n__"))).as("__w__"))
      .groupBy(col(groupCol), col("__s__"))
      .agg(sum(col("__w__")).as("__w__"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__s__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col(groupCol))
    val med = slopes
      .withColumn("__cum__", sum(col("__w__")).over(w))
      .withColumn("__tot__", sum(col("__w__")).over(tot))
      .filter(col("__cum__") * 2 >= col("__tot__"))
      .groupBy(col(groupCol))
      .agg(min(col("__s__")).as("__slope__"),
        max(col("__tot__")).as("__np__"))
    base.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
      .join(med, Seq(groupCol), "left")
      .select(col(groupCol), col("n"),
        coalesce(col("__np__"), lit(0).cast("decimal(38,0)"))
          .cast("long").as("n_pairs"),
        round(col("__slope__"), 6).as("slope"))
  }

  /** Bradley–Terry strength estimation from pairwise outcomes — the
    * aggregation behind arena-style model leaderboards (Bradley & Terry
    * '52; the MM fixed point is Zermelo '29 / Hunter AoS'04): given
    * (winner, loser) rows, estimate each item's strength `p_i` under
    * `P(i beats j) = p_i/(p_i+p_j)` by `rounds` minorization steps
    * `p_i ← W_i / Σ_{j≠i} n_ij/(p_i+p_j)` (W_i total wins, n_ij
    * matches between i and j), each followed by sum-normalization so
    * strengths read as shares. A fixed round count with deterministic
    * per-item iteration order (items sorted) replaces convergence
    * checks — the [[graft.ops.Clustering]] posture: reproducible
    * cross-engine, no data-dependent stopping.
    *
    * Scale shape: the outcome stream — billions of comparisons —
    * collapses map-side to the (winner, loser, count) pair table in
    * ONE partial-aggregable exchange; everything after runs on the
    * driver over at most `items²` rows (a leaderboard's item count is
    * model-scale, not data-scale — the k-means-centroid discipline;
    * guarded at 4096 items). Zero-win items converge to exactly 0.
    * Returns (item, wins, matches, p rounded 6, rank by descending
    * rounded p, item tie-break). */
  def bradleyTerry(pairs: DataFrame, winnerCol: String, loserCol: String,
      rounds: Int = 8): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = pairs.sparkSession
    val pc = pairs
      .groupBy(col(winnerCol).cast("string").as("__w__"),
        col(loserCol).cast("string").as("__l__"))
      .agg(count(lit(1)).as("__n__"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val items = (pc.map(_._1) ++ pc.map(_._2)).distinct.sorted
    require(items.length <= 4096,
      s"bradleyTerry is for model-scale item sets, got ${items.length}")
    val idx = items.zipWithIndex.toMap
    val m = items.length
    val wins = Array.fill(m)(0L)
    val matches = Array.fill(m)(0L)
    // symmetric match counts, accumulated per ordered (i, j)
    val nij = scala.collection.mutable.Map.empty[(Int, Int), Long]
    for ((w, l, n) <- pc) {
      val (i, j) = (idx(w), idx(l))
      wins(i) += n; matches(i) += n; matches(j) += n
      nij((i, j)) = nij.getOrElse((i, j), 0L) + n
      nij((j, i)) = nij.getOrElse((j, i), 0L) + n
    }
    val opponents = Array.tabulate(m)(i =>
      (0 until m).filter(j => j != i && nij.contains((i, j))).toArray)
    var p = Array.fill(m)(1.0 / m)
    for (_ <- 1 to rounds) {
      val raw = Array.tabulate(m) { i =>
        if (wins(i) == 0L) 0.0
        else {
          var den = 0.0
          for (j <- opponents(i)) den += nij((i, j)).toDouble / (p(i) + p(j))
          if (den == 0.0) 0.0 else wins(i).toDouble / den
        }
      }
      var s = 0.0
      for (i <- 0 until m) s += raw(i)
      p = if (s == 0.0) raw else raw.map(_ / s)
    }
    import spark.implicits._
    val rows = items.indices.map(i =>
      (items(i), wins(i), matches(i), math.round(p(i) * 1e6) / 1e6))
    val ranked = rows.sortBy { case (it, _, _, pr) => (-pr, it) }
      .zipWithIndex
      .map { case ((it, w, n, pr), r) => (it, w, n, pr, r + 1) }
    ranked.toDF("item", "wins", "matches", "p", "rank")
      .select(col("item"), col("wins"), col("matches"), col("p"),
        col("rank").cast("int").as("rank"))
  }
}
