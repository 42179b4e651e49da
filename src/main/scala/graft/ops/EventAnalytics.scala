package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Event-sequence analytics operators: as-of (point-in-time) join, ordered
  * step funnels, cohort retention. These extend the OLAP browser's verb set
  * with the time-ordered analyses an event log needs and a star schema
  * cannot express; like the rest of `graft.ops` every computation is
  * engine-independent arithmetic so the DuckDB oracle replays it exactly
  * (DuckDB's native `ASOF JOIN` is the q90 oracle).
  */
object EventAnalytics {

  /** AS-OF JOIN: attach to every left row the single most recent right row
    * with `rightTsCol <= leftTsCol` in the same key group — the
    * point-in-time lookup (trades→latest quote, event→latest config,
    * features→most recent label).
    *
    * Spark has no asof operator, and the naive encoding — an inequality
    * join plus per-left-row argmax — plans as `BroadcastNestedLoopJoin`
    * (or an exploding range sort-merge): O(|L|·|R|) per key. This
    * implementation instead tags and UNIONS the two sides and computes a
    * running `last(_, ignoreNulls)` over `(key, ts, side)` — ONE shuffle
    * on the key columns, one per-key ordered scan with O(1) carried state,
    * zero row amplification; the same shape kdb's `aj` and Flink temporal
    * joins use. Right rows sort before left rows at equal ts, so an
    * exactly-simultaneous right row IS matched (`>=` semantics, matching
    * DuckDB `ASOF`).
    *
    * The matched right columns ride in ONE struct, so they are taken
    * atomically from the same right row (per-column `last(ignoreNulls)`
    * would stitch different rows when a value column holds nulls).
    *
    * At 100 TB: the key partitioning is the only correct distribution for
    * asof; the window never buffers the right side. A hot key costs its
    * own row count — linear, nothing quadratic. No rank filter exists to
    * prune map-side (every left row produces output), which is inherent
    * to the operator, not this plan.
    *
    * Null keys: Spark's window partitioning groups null keys TOGETHER,
    * so a null-key left row can match a null-key right row — SQL join
    * equality (and DuckDB ASOF) would never match them. Filter null keys
    * upstream if SQL semantics are required.
    *
    * @param valueCols right columns to carry (must not collide with left
    *                  column names)
    * @param tieCol    unique right column breaking `(key, ts)` ties
    *                  deterministically — the LARGEST value wins
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTsCol: String, rightTsCol: String, valueCols: Seq[String],
      matchedTsCol: String = "matched_ts",
      tieCol: Option[String] = None): DataFrame = {
    val leftOut = left.columns.toSeq
    require(valueCols.forall(right.columns.contains(_)),
      s"valueCols must exist in right: $valueCols vs ${right.columns.toSeq}")
    require(!leftOut.contains(matchedTsCol) &&
      valueCols.forall(!leftOut.contains(_)),
      "matched columns must not collide with left columns")
    val lNonKey = leftOut.filterNot(keyCols.contains)
    val rowStruct = struct(
      (col(rightTsCol).as("__mts__") +:
        valueCols.map(c => col(c).as(c))): _*)
    val rowType = StructType(
      right.select(rowStruct).schema.head.dataType match {
        case st: StructType => st.fields
        case other => throw new IllegalArgumentException(other.toString)
      })
    // a null right timestamp is meaningless for asof and would sort FIRST
    // (nulls-first asc), poisoning every left row until a real right
    // arrives — drop such rows up front
    val rSide = right.filter(col(rightTsCol).isNotNull).select(
      (keyCols.map(col) ++ Seq(
        col(rightTsCol).cast(left.schema(leftTsCol).dataType).as("__ts__"),
        lit(0).as("__side__"),
        tieCol.map(col).getOrElse(lit(0L)).cast("long").as("__tie__"),
        rowStruct.as("__row__")) ++
        lNonKey.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val lSide = left.select(
      (keyCols.map(col) ++ Seq(
        col(leftTsCol).as("__ts__"),
        lit(1).as("__side__"),
        lit(Long.MaxValue).as("__tie__"),
        lit(null).cast(rowType).as("__row__")) ++
        lNonKey.map(col)): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__ts__").asc, col("__side__").asc, col("__tie__").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rSide.unionByName(lSide)
      .withColumn("__m__", last(col("__row__"), ignoreNulls = true).over(w))
      .filter(col("__side__") === 1)
      .select((leftOut.map(col) :+
        col("__m__.__mts__").as(matchedTsCol)) ++
        valueCols.map(c => col(s"__m__.$c").as(c)): _*)
  }

  /** RANGE (interval) JOIN: every left row paired with every right
    * interval `[startCol, endCol)` of the same key that contains its
    * `tsCol` — trades→quote-validity windows, events→sessions,
    * reads→genomic regions.
    *
    * Spark plans the naive `l.ts >= r.start AND l.ts < r.end` encoding as
    * `BroadcastNestedLoopJoin` — O(|L|·|R|) per key. This implementation
    * buckets time instead: each interval explodes to the `⌈len/bucket⌉`
    * buckets it covers, each left row computes its single bucket, and the
    * pair meets in an EQUI-join on (key…, bucket) followed by the exact
    * containment filter. A (left, interval) pair can meet in at most one
    * bucket (the left row's), so no dedup is needed. Fan-out is bounded
    * by interval-length/bucket — pick `bucket` near the typical interval
    * length so each interval ships a handful of copies; the join itself
    * is then broadcast or shuffled by Catalyst/AQE like any equi-join,
    * with skew handling intact. Intervals with `end <= start` are empty
    * by definition and dropped.
    *
    * Bucketing uses `floor(ts / bucket)` in double precision, which is
    * boundary-exact while |ts| stays well under 2^53 (epoch MICROsecond
    * timestamps are ~2×10^15 — three orders of magnitude of headroom;
    * epoch nanoseconds are not safe — divide them down first). */
  def rangeJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, startCol: String, endCol: String,
      bucket: Long): DataFrame = {
    require(bucket > 0, s"bucket width must be positive, got $bucket")
    require(left.columns.toSet.intersect(right.columns.toSet)
      .subsetOf(keyCols.toSet),
      "left/right column names must be disjoint apart from the keys")
    val rb = right
      .filter(col(endCol) > col(startCol))
      .withColumn("__b__", explode(sequence(
        floor(col(startCol) / bucket).cast("long"),
        floor((col(endCol) - 1) / bucket).cast("long"))))
    val lb = left.withColumn("__b__",
      floor(col(tsCol) / bucket).cast("long"))
    lb.join(rb, keyCols :+ "__b__", "inner")
      .filter(col(tsCol) >= col(startCol) && col(tsCol) < col(endCol))
      .drop("__b__")
  }

  /** Ordered-step funnel: for each entity the earliest completion time of
    * every step in `steps`, where step k must occur STRICTLY AFTER the
    * matched step k-1 event (greedy earliest-match — the standard product
    * funnel semantic, and the unique minimal matching). Returns one row
    * per entity that completed step 1: the per-step times (null once the
    * funnel stalls) and `steps_completed`.
    *
    * Shape: one filtered partial aggregation per step chained by
    * per-entity equi-joins. Each step's scan prunes to its event type via
    * predicate pushdown; every `min` has map-side partials; nothing
    * buffers an entity's history (contrast collect-and-scan funnel UDAFs,
    * which hold the full per-user event list in memory and get no partial
    * aggregation). k-1 extra shuffles for a k-step funnel, each over the
    * (entity, ts) pairs of ONE event type — at 100 TB the narrow
    * per-step projections, not the raw log, pay the exchanges.
    */
  def funnel(events: DataFrame, entityCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val s1 = events.filter(col(typeCol) === steps.head)
      .groupBy(col(entityCol)).agg(min(col(tsCol)).as("t1"))
    val full = steps.zipWithIndex.tail.foldLeft(s1) { case (prev, (st, i)) =>
      val next = events.filter(col(typeCol) === st)
        .select(col(entityCol), col(tsCol))
        .join(prev.select(col(entityCol), col(s"t$i")), Seq(entityCol))
        .filter(col(tsCol) > col(s"t$i"))
        .groupBy(col(entityCol)).agg(min(col(tsCol)).as(s"t${i + 1}"))
      prev.join(next, Seq(entityCol), "left")
    }
    full.withColumn("steps_completed",
      steps.indices
        .map(i => when(col(s"t${i + 1}").isNotNull, 1).otherwise(0))
        .reduce(_ + _))
  }

  /** Weekly cohort retention: cohort = Monday of the entity's first-ever
    * event week; for each (cohort_week, week_offset) cell, the number of
    * distinct entities active exactly that many weeks later. Two
    * partial-aggregable aggregations joined on the entity key — the
    * first-event table is |entities| rows, the retention matrix is
    * O(weeks²) cells. Exact `count_distinct` is safe because the output
    * cardinality is the week grid, not the data; swap in
    * `approx_count_distinct` for day-grain grids at extreme scale.
    * `cohort_week` is emitted as an ISO `yyyy-MM-dd` string so the value
    * is engine- and timezone-representation-independent.
    */
  def cohortRetention(events: DataFrame, entityCol: String,
      tsCol: String): DataFrame = {
    val week = date_trunc("week", col(tsCol))
    val first = events.groupBy(col(entityCol))
      .agg(min(week).as("__cw__"))
    events.select(col(entityCol), week.as("__w__"))
      .join(first, Seq(entityCol))
      .groupBy(
        date_format(col("__cw__"), "yyyy-MM-dd").as("cohort_week"),
        (datediff(to_date(col("__w__")), to_date(col("__cw__"))) / 7)
          .cast("int").as("week_offset"))
      .agg(countDistinct(col(entityCol)).as("n_active"))
  }

  /** Volume-anomaly detection: flag the (group, hour) buckets whose event
    * count deviates from the group's mean by more than `z` standard
    * deviations — the rate-spike / outage signal over an event log.
    *
    * The z-score test is evaluated WITHOUT computing a mean, a variance,
    * or a square root: with `m` buckets, bucket count `x`, sum `S` and
    * sum-of-squares `SS` per group, `(x - S/m)² > z²·(SS - S²/m)/m`
    * multiplies through by `m²` into the all-integer form
    * `(m·x - S)²·zDen² > zNum²·(m·SS - S²)` — exact, so two engines agree
    * on every boundary bucket where float sqrt/division would flip the
    * flag by one ulp (`z = zNum/zDen` admits non-integer thresholds).
    * Arithmetic runs in decimal(38,0): the squared terms hold to corpus
    * sums of ~10^18 (10^12 events/hour fleet-wide), far past long range.
    *
    * Shape: one partial-aggregable aggregation collapses the log to the
    * (group, hour) grid — the only exchange that sees data-sized input;
    * the per-group moment table is |groups| rows and broadcast-joins
    * back. Population variance (the grid is complete, not a sample). */
  def anomalousBuckets(events: DataFrame, groupCol: String, tsCol: String,
      bucketMicros: Long = 3600000000L, zNum: Long = 3, zDen: Long = 1,
      flagCol: String = "anomalous"): DataFrame = {
    require(bucketMicros > 0 && zNum > 0 && zDen > 0,
      "bucketMicros, zNum, zDen must be positive")
    val dec = "decimal(38,0)"
    val grid = events.groupBy(col(groupCol),
        floor(unix_micros(col(tsCol)) / bucketMicros).as("bucket"))
      .agg(count(lit(1)).as("n"))
    val moments = grid.groupBy(col(groupCol)).agg(
      count(lit(1)).cast(dec).as("__m__"),
      sum(col("n")).cast(dec).as("__s__"),
      sum(col("n") * col("n")).cast(dec).as("__ss__"))
    val dev = col("__m__") * col("n").cast(dec) - col("__s__")
    val lhs = dev * dev * lit(zDen * zDen).cast(dec)
    val rhs = lit(zNum * zNum).cast(dec) *
      (col("__m__") * col("__ss__") - col("__s__") * col("__s__"))
    grid.join(broadcast(moments), Seq(groupCol))
      .select(col(groupCol), col("bucket"), col("n"), (lhs > rhs).as(flagCol))
  }

  /** PREQUENTIAL variant of [[anomalousBuckets]]: bucket `k` is judged
    * against the moments of buckets `1..k` only — the online semantics a
    * stream can actually compute (no future buckets exist yet), and the
    * batch twin of [[graft.streaming.Streaming.anomalousBucketsStream]]
    * (batch ≡ stream under per-key in-order bucket arrival, asserted in
    * StreamingSpec). Same all-integer z² test in decimal(38,0); the
    * cumulative moments come from one per-group ordered window,
    * hash-partitioned by group (the capPerKey shape — no global sort). */
  def anomalousBucketsPrequential(events: DataFrame, groupCol: String,
      tsCol: String, bucketMicros: Long = 3600000000L,
      zNum: Long = 3, zDen: Long = 1,
      flagCol: String = "anomalous"): DataFrame = {
    require(bucketMicros > 0 && zNum > 0 && zDen > 0,
      "bucketMicros, zNum, zDen must be positive")
    val dec = "decimal(38,0)"
    val grid = events.groupBy(col(groupCol),
        floor(unix_micros(col(tsCol)) / bucketMicros).as("bucket"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.select(col(groupCol), col("bucket"), col("n"),
      count(lit(1)).over(w).cast(dec).as("__m__"),
      sum(col("n")).over(w).cast(dec).as("__s__"),
      sum(col("n") * col("n")).over(w).cast(dec).as("__ss__"))
    val dev = col("__m__") * col("n").cast(dec) - col("__s__")
    val lhs = dev * dev * lit(zDen * zDen).cast(dec)
    val rhs = lit(zNum * zNum).cast(dec) *
      (col("__m__") * col("__ss__") - col("__s__") * col("__s__"))
    cum.select(col(groupCol), col("bucket"), col("n"),
      (lhs > rhs).as(flagCol))
  }

  /** Gap-filled (dense) per-key time grid: one row for EVERY bucket in
    * the key's observed [min, max] span, zero-filled where the log is
    * silent — downstream rate math (moving averages, anomaly baselines,
    * chart axes) breaks on a sparse grid because absent buckets read as
    * "no data" instead of "zero events".
    *
    * Shape: the log collapses to the (key, bucket) grid in one
    * partial-aggregable pass; each key's span generates its buckets with
    * `explode(sequence(lo, hi))` — fan-out bounded by span/bucket, i.e.
    * the OUTPUT size, never the input; the observed grid left-joins back
    * on (key, bucket). Nothing data-sized shuffles twice. */
  def densify(events: DataFrame, groupCol: String, tsCol: String,
      bucketMicros: Long = 3600000000L): DataFrame = {
    require(bucketMicros > 0, "bucketMicros must be positive")
    val grid = events.groupBy(col(groupCol),
        floor(unix_micros(col(tsCol)) / bucketMicros).as("bucket"))
      .agg(count(lit(1)).as("n"))
    val dense = grid.groupBy(col(groupCol))
      .agg(min(col("bucket")).as("__lo__"), max(col("bucket")).as("__hi__"))
      .select(col(groupCol),
        explode(sequence(col("__lo__"), col("__hi__"))).as("bucket"))
    dense.join(grid, Seq(groupCol, "bucket"), "left")
      .select(col(groupCol), col("bucket"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Autocorrelation function of each group's bucketed event-count
    * series at lags 1..`maxLag` — the seasonality detector (a daily
    * cycle shows as a peak at lag 24 on hourly buckets; white noise
    * hovers near 0): Pearson r between the zero-filled series and its
    * lag-shifted self, one row per (group, lag). Missing buckets COUNT
    * AS ZERO via [[densify]] — computing ACF only over observed buckets
    * silently deletes the silence that drives the correlation.
    *
    * Shape: one bucketed pre-aggregation, the densify grid, a `maxLag`-
    * way bounded explode, and ONE self-equi-join on (group, bucket+lag)
    * — all partial-aggregable, hash-partitioned on the group key; a
    * 1000× longer history costs 1000× rows, nothing quadratic. Moments
    * are exact 64-bit integers; only the final
    * `num / sqrt(dx·dy)` (identical IEEE shape in the oracle) is float.
    * r is null when either side has zero variance. */
  def acf(events: DataFrame, groupCol: String, tsCol: String,
      maxLag: Int = 3, bucketMicros: Long = 3600000000L): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val dense = densify(events, groupCol, tsCol, bucketMicros)
    val a = dense.select(col(groupCol), col("bucket"), col("n").as("x"),
      explode(sequence(lit(1), lit(maxLag))).as("lag"))
    val b = dense.select(col(groupCol).as("__g__"),
      col("bucket").as("__b__"), col("n").as("y"))
    val m = a.join(b, col(groupCol) === col("__g__") &&
        col("__b__") === col("bucket") + col("lag"))
      .groupBy(col(groupCol), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
    val dx = col("n_pairs") * col("sxx") - col("sx") * col("sx")
    val dy = col("n_pairs") * col("syy") - col("sy") * col("sy")
    val num = col("n_pairs") * col("sxy") - col("sx") * col("sy")
    m.select(col(groupCol), col("lag"), col("n_pairs"),
      when(dx > 0 && dy > 0,
        num.cast("double") /
          sqrt(dx.cast("double") * dy.cast("double"))).as("r"))
  }

  /** Seasonal-baseline anomaly detection per group — the diurnal
    * companion to [[anomalousBuckets]] (which compares every bucket to
    * ONE global mean and therefore flags every healthy midnight as an
    * anomaly on a diurnal service): each hourly bucket compares to the
    * mean of ITS OWN hour-of-day across the series, so "3am looks like
    * other 3ams" is the null hypothesis. The baseline mean stays an
    * exact rational (num, den); a bucket flags when
    * `|n·den − num| ≥ thresholdAbs·den` — strictly-crossed integer
    * arithmetic, no float mean. Buckets with no observed events count
    * as zero via [[densify]], in the baseline AND as candidates (a
    * dead 9am on a busy service must flag).
    *
    * Shape: events collapse to the span-sized grid; the 24-row-per-group
    * baseline joins back — broadcastable at any scale. Returns (group,
    * bucket, hour_of_day, n, base_num, base_den, is_anomaly). */
  def seasonalAnomalies(events: DataFrame, groupCol: String,
      tsCol: String, thresholdAbs: Long,
      bucketMicros: Long = 3600000000L,
      periodBuckets: Int = 24): DataFrame = {
    require(thresholdAbs >= 0, "thresholdAbs must be >= 0")
    require(periodBuckets >= 1, "periodBuckets must be >= 1")
    val dense = densify(events, groupCol, tsCol, bucketMicros)
      .withColumn("hour_of_day", pmod(col("bucket"), lit(periodBuckets.toLong)))
    val base = dense.groupBy(col(groupCol).as("__g__"),
        col("hour_of_day").as("__h__"))
      .agg(sum(col("n")).as("base_num"), count(lit(1)).as("base_den"))
    dense.join(broadcast(base), col(groupCol) === col("__g__") &&
        col("hour_of_day") === col("__h__"))
      .select(col(groupCol), col("bucket"), col("hour_of_day"), col("n"),
        col("base_num"), col("base_den"),
        (abs(col("n") * col("base_den") - col("base_num")) >=
          lit(thresholdAbs) * col("base_den")).as("is_anomaly"))
  }

  /** Offline CUSUM change-point localization per group — the "WHEN did
    * this series shift?" companion to [[anomalousBuckets]]'s "which
    * buckets are outliers?": the classic AMOC statistic
    * `S_b = Σ_{i≤b} (x_i − x̄)` over the [[densify]] zero-filled bucket
    * series, with the change-point estimate at `argmax |S_b|` (a level
    * shift makes |S| a tent peaking at the shift; white noise keeps it
    * near 0). Kept exact by scaling with the bucket count B:
    * `cusum_scaled_b = Σ_{i≤b} (x_i·B − total)` — all 64-bit integers,
    * no float mean. `S` at the last bucket is 0 by construction.
    *
    * Shape: the event table collapses map-side to the bucket grid; both
    * windows run over that SPAN-sized table (a year of hourly buckets is
    * 8,760 rows per group), partitioned by group — never over raw
    * events. Returns (group, bucket, n, cusum_scaled, is_peak) with
    * `is_peak` marking the argmax-|S| row (earliest on ties). */
  def cusumDrift(events: DataFrame, groupCol: String, tsCol: String,
      bucketMicros: Long = 3600000000L): DataFrame = {
    val dense = densify(events, groupCol, tsCol, bucketMicros)
    val tot = dense.groupBy(col(groupCol))
      .agg(sum(col("n")).as("__total__"), count(lit(1)).as("__nb__"))
    val wc = Window.partitionBy(col(groupCol)).orderBy(col("bucket").asc)
    val wp = Window.partitionBy(col(groupCol))
      .orderBy(abs(col("cusum_scaled")).desc, col("bucket").asc)
    dense.join(tot, Seq(groupCol))
      .withColumn("cusum_scaled",
        sum(col("n") * col("__nb__") - col("__total__")).over(wc))
      .withColumn("is_peak", row_number().over(wp) === 1)
      .select(col(groupCol), col("bucket"), col("n"),
        col("cusum_scaled"), col("is_peak"))
  }

  /** Time-weighted average per key over IRREGULAR samples — the metrics
    * readout where arithmetic mean lies (a gauge sampled every second
    * while ramping and once an hour while stable would average the ramp
    * 3600× too heavily): zero-order hold, each value weighted by how
    * long it held, `Σ v_i·(t_{i+1}−t_i) / (t_last − t_first)`; the last
    * sample holds nothing. The value column must be INTEGRAL (quantize
    * upstream — the prCurve posture) so the weighted sum is an exact
    * 64-bit integer and engines agree bit-for-bit; `idCol` breaks
    * timestamp ties deterministically (equal-ts runs contribute zero
    * width regardless, but WHICH value bridges to the next distinct
    * timestamp must not depend on shuffle order).
    *
    * Shape: one key-partitioned sort window (lead) + one partial-
    * aggregable groupBy sharing the key partitioning; a hot key costs
    * its own row count. Returns (key, n_samples, span_us, twa_num,
    * twa). */
  def timeWeightedAvg(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String): DataFrame = {
    val dt = df.schema(valueCol).dataType
    require(dt == org.apache.spark.sql.types.LongType ||
      dt == org.apache.spark.sql.types.IntegerType,
      s"timeWeightedAvg needs an integral value column; '$valueCol' is " +
        s"$dt — quantize upstream (e.g. floor(v*1000 + 0.5))")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__us__").asc, col(idCol).asc)
    df.select(col(keyCol), unix_micros(col(tsCol)).as("__us__"),
        col(idCol), col(valueCol).cast("long").as("__v__"))
      .withColumn("__nus__", lead(col("__us__"), 1).over(w))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_samples"),
        (max(col("__us__")) - min(col("__us__"))).as("span_us"),
        sum(when(col("__nus__").isNotNull,
          col("__v__") * (col("__nus__") - col("__us__")))
          .otherwise(lit(0L))).as("twa_num"))
      .withColumn("twa", when(col("span_us") > 0,
        col("twa_num").cast("double") / col("span_us").cast("double")))
  }

  /** Interval coalescing (gaps-and-islands): merge each key's
    * overlapping-or-touching `[start, end)` intervals into maximal
    * disjoint islands — session spans from raw visit intervals,
    * maintenance-window union, covered-time computation. Two intervals
    * merge when the next `start <= running max end` (touching counts as
    * merged; pass micros, all-integer, so both engines agree on every
    * boundary).
    *
    * Shape: per-key sort, running `max(end)` over the PRECEDING frame,
    * island id as a running sum of new-island flags, then one grouped
    * aggregation — two key-partitioned windows + one partial-aggregable
    * groupBy sharing a single hash partitioning on the key; a hot key
    * costs its own row count, nothing quadratic. Returns one row per
    * island: key, island ordinal, island start/end, merged-interval
    * count. Empty intervals (`end <= start`) are dropped up front. */
  def coalesceIntervals(df: DataFrame, keyCols: Seq[String],
      startCol: String, endCol: String): DataFrame = {
    val order = Seq(col(startCol).asc, col(endCol).asc)
    val wPrev = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(col(endCol) > col(startCol))
      .withColumn("__newisland__",
        when(col(startCol) <= max(col(endCol)).over(wPrev), 0L)
          .otherwise(1L))
      .withColumn("__island__", sum(col("__newisland__")).over(wRun))
      .groupBy((keyCols.map(col) :+ col("__island__")): _*)
      .agg(min(col(startCol)).as("island_start"),
        max(col(endCol)).as("island_end"),
        count(lit(1)).as("n_merged"))
      .select((keyCols.map(col) :+ col("__island__").as("island")) ++
        Seq(col("island_start"), col("island_end"), col("n_merged")): _*)
  }

  /** Per-key exponentially-weighted moving average of `valueCol` in
    * `(tsCol, idCol)` order: `ewma ← ewma·(1−α) + x·α`, seeded with the
    * key's FIRST value (no zero-init bias). α must be an exactly
    * representable double (0.25, 0.5) and the fold is a fixed
    * left-to-right reduction over the key's time-sorted history, so the
    * result is bit-identical across engines and layouts — an unordered
    * float aggregation would hash-diverge.
    *
    * Shape: one key-partitioned `collect_list` + per-key ordered fold —
    * state is bounded by the KEY's history (per-user event counts, the
    * production growth mode where users grow with the log and per-user
    * history stays flat), not by the corpus. For unbounded per-key
    * histories use the streaming twin shape (O(1) running state) instead
    * of this batch formulation. Returns key, n_events, last ts, ewma. */
  def ewma(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    val t = struct(col(tsCol).as("ts"), col(idCol).as("id"),
      col(valueCol).cast("double").as("v"))
    df.groupBy(col(keyCol))
      .agg(sort_array(collect_list(t)).as("__h__"),
        count(lit(1)).as("n_events"))
      .select(col(keyCol), col("n_events"),
        element_at(col("__h__"), -1).getField("ts").as("last_ts"),
        aggregate(
          slice(col("__h__"), lit(2), size(col("__h__")) - 1),
          element_at(col("__h__"), 1).getField("v"),
          (acc, e) => acc * lit(1.0 - alpha) +
            e.getField("v") * lit(alpha)).as("ewma"))
  }

  /** Holt's linear (double-exponential) smoothing per key — [[ewma]]'s
    * trend-aware sibling: level `l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1})`
    * and trend `b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}`, initialized the
    * textbook way (`l₁ = y₁`, `b₁ = y₂−y₁`). Returns the final state
    * and the one-step-ahead forecast `l+b` per key — the cheap
    * trend-following baseline [[forecastAccuracy]] scores and
    * [[trend]]'s OLS slope sanity-checks.
    *
    * Shape: one per-key collapse; the fold runs over the key's OWN
    * time-sorted history (the [[ewma]] posture — per-key state is
    * series-length-bounded, keys scale out). Float recursion is
    * inherently ordered; both engines replay the identical
    * (t-sorted) fold. Keys with a single point report null
    * trend/forecast. */
  def holt(df: DataFrame, keyCol: String, tCol: String,
      valueCol: String, alpha: Double, beta: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0,1], got $beta")
    val t = struct(col(tCol).as("t"),
      col(valueCol).cast("double").as("v"))
    val g = df.groupBy(col(keyCol))
      .agg(sort_array(collect_list(t)).as("__h__"),
        count(lit(1)).as("n"))
    val y1 = element_at(col("__h__"), 1).getField("v")
    val y2 = element_at(col("__h__"), 2).getField("v")
    val folded = aggregate(
      slice(col("__h__"), lit(2), size(col("__h__")) - 1),
      struct(y1.as("l"), (y2 - y1).as("b")),
      (acc, e) => {
        val nl = lit(alpha) * e.getField("v") +
          lit(1.0 - alpha) * (acc("l") + acc("b"))
        struct(nl.as("l"),
          (lit(beta) * (nl - acc("l")) +
            lit(1.0 - beta) * acc("b")).as("b"))
      })
    g.select(col(keyCol), col("n"),
      when(col("n") >= 2, round(folded("l"), 6))
        .otherwise(round(y1, 6)).as("level"),
      when(col("n") >= 2, round(folded("b"), 6)).as("trend"),
      when(col("n") >= 2, round(folded("l") + folded("b"), 6))
        .as("forecast"))
  }

  /** Additive seasonal decomposition per key — the classical
    * `y = trend + seasonal + remainder` split (centered moving-average
    * trend over one `period`, phase-mean seasonal normalized to sum 0):
    * the first thing to run on any periodic series before [[cusumDrift]]
    * or [[seasonalAnomalies]], because a level shift and a seasonal
    * swing look identical until they are separated.
    *
    * Exactness: the MA numerator is the exact integer
    * `Σ w2_j·y_{t+j}` with doubled weights (w2 = 1 at the half-sample
    * endpoints of an even period, 2 inside — so odd periods are the
    * plain mean), emitted as one per-target partial-aggregable
    * collapse; detrended values ride as the exact integer
    * `2p·y − num2`; phase means and the phase-mean centering fold in
    * fixed order in doubles FROM those integers. Trend (and remainder)
    * are null at the `⌊p/2⌋` edge points and anywhere the window is
    * incomplete (gaps surface as nulls, never as a silently-shorter
    * window).
    *
    * Input contract: ONE row per (key, t) on a dense integral grid
    * ([[acf]] posture). Shape: one p-way explode + collapse on the
    * GRID (O(p·span) rows), one (key, phase ≤ p) collapse, one p-row
    * per-key fold; no windows over raw rows. Returns
    * `(key, t, value, trend, seasonal, remainder)`. */
  def seasonalDecompose(df: DataFrame, keyCol: String, tCol: String,
      valueCol: String, period: Int): DataFrame = {
    require(period >= 2 && period <= 1000,
      s"period must be in [2, 1000]; got $period")
    Seq(tCol, valueCol).foreach(
      graft.ops.Profiling.requireIntegral(df, _, "seasonalDecompose"))
    val p = period
    val h = p / 2
    val even = p % 2 == 0
    val offs: Seq[(Int, Long)] =
      if (even) (-h to h).map(j =>
        (j, if (j == -h || j == h) 1L else 2L))
      else (-h to h).map(j => (j, 2L))
    val twoP = 2L * p
    val base = df.select(col(keyCol).as("__k__"),
      col(tCol).cast("long").as("__t__"),
      col(valueCol).cast("long").as("__y__"))
    val offsets = array(offs.map { case (j, w2) =>
      struct(lit(j.toLong).as("j"), lit(w2).as("w2")) }: _*)
    val contrib = base
      .select(col("__k__"), explode(offsets).as("__o__"),
        col("__t__"), col("__y__"))
      .select(col("__k__"),
        (col("__t__") - col("__o__.j")).as("__t__"),
        (col("__o__.w2") * col("__y__")).as("__c__"),
        col("__o__.w2").as("__w__"))
    val tr = contrib.groupBy(col("__k__"), col("__t__"))
      .agg(sum(col("__c__")).as("__num2__"),
        sum(col("__w__")).as("__wsum__"))
    val withTrend = base.join(tr, Seq("__k__", "__t__"), "left")
      .withColumn("__full__", col("__wsum__") === twoP)
      .withColumn("__detr2p__",
        when(col("__full__"), lit(twoP) * col("__y__") - col("__num2__")))
    val phase = withTrend.filter(col("__full__"))
      .groupBy(col("__k__"), pmod(col("__t__"), lit(p.toLong)).as("__ph__"))
      .agg(sum(col("__detr2p__").cast("decimal(38,0)")).as("__sd__"),
        count(lit(1)).as("__cnt__"))
      .withColumn("__sj__", col("__sd__").cast("double") /
        (col("__cnt__").cast("double") * twoP.toDouble))
    val sbar = phase.groupBy(col("__k__"))
      .agg((aggregate(
        sort_array(collect_list(struct(col("__ph__").as("ph"),
          col("__sj__").as("s")))),
        lit(0.0), (a, x) => a + x("s")) /
        count(lit(1)).cast("double")).as("__sbar__"))
    val seas = phase.join(sbar, Seq("__k__"))
      .select(col("__k__").as("__sk__"), col("__ph__").as("__sph__"),
        (col("__sj__") - col("__sbar__")).as("__seas__"))
    val trendD = col("__num2__").cast("double") / lit(twoP.toDouble)
    withTrend
      .join(seas, withTrend("__k__") === col("__sk__") &&
        pmod(withTrend("__t__"), lit(p.toLong)) === col("__sph__"),
        "left")
      .select(withTrend("__k__").as(keyCol), col("__t__").as(tCol),
        col("__y__").as(valueCol),
        when(col("__full__"), round(trendD, 6)).as("trend"),
        round(col("__seas__"), 6).as("seasonal"),
        when(col("__full__") && col("__seas__").isNotNull,
          round(col("__y__").cast("double") - trendD - col("__seas__"),
            6)).as("remainder"))
  }

  /** First-order Markov transition counts over each entity's event-type
    * sequence (next-action modeling, funnel discovery, bot detection by
    * transition signature): consecutive `(from, to)` state pairs in
    * `(tsCol, idCol)` order per entity, aggregated to
    * `(from_state, to_state, n_trans, n_from)` — the conditional
    * probability `P(to|from) = n_trans / n_from` carried as an EXACT
    * integer pair (the [[Corpus.ngramLmCounts]] discipline: no float
    * division, counts merge associatively across shards).
    *
    * Shape: one key-partitioned `lag` window + two partial-aggregable
    * aggregations; output is |states|²-bounded, tiny at any corpus
    * size. */
  def markovTransitions(events: DataFrame, entityCol: String,
      tsCol: String, idCol: String, stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val pairs = events
      .withColumn("__from__", lag(col(stateCol), 1).over(w))
      .filter(col("__from__").isNotNull)
      .select(col("__from__").as("from_state"),
        col(stateCol).as("to_state"))
    val trans = pairs.groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n_trans"))
    val totals = pairs.groupBy(col("from_state"))
      .agg(count(lit(1)).as("n_from"))
    trans.join(totals, Seq("from_state"))
      .select(col("from_state"), col("to_state"),
        col("n_trans"), col("n_from"))
  }

  /** Per-entity journey log-probability under the corpus's own
    * first-order transition model — the anomalous-journey detector
    * ([[markovTransitions]] builds the model; this SCORES each entity
    * against it): an account whose click-path is a chain of
    * rarely-followed transitions (scraper, broken client, fraud
    * automation) surfaces with a far-below-typical average step
    * log-probability. Each observed step a→b contributes
    * `ln(c(a→b)/c(a))` in the source-scorecard micro-nat posture
    * (round to 6 dp, carry as ×10⁶ integers) so the per-entity sum is
    * order-free and engine-exact; every observed pair has c ≥ 1, so no
    * smoothing is needed when scoring the corpus against itself.
    *
    * Shape: one entity-partitioned lag window builds the step stream;
    * the |states|²-bounded model broadcasts back onto it; one partial-
    * aggregable per-entity collapse. Returns (entity, n_steps,
    * logprob_micro, avg_logprob_micro). */
  def pathLogProb(events: DataFrame, entityCol: String, tsCol: String,
      idCol: String, stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val pairs = events
      .withColumn("__from__", lag(col(stateCol), 1).over(w))
      .filter(col("__from__").isNotNull)
      .select(col(entityCol), col("__from__").as("from_state"),
        col(stateCol).as("to_state"))
    val trans = pairs.groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("__nt__"))
    val totals = pairs.groupBy(col("from_state"))
      .agg(count(lit(1)).as("__nf__"))
    val model = trans.join(totals, Seq("from_state"))
      .select(col("from_state"), col("to_state"),
        round(round(log(col("__nt__").cast("double") /
          col("__nf__").cast("double")), 6) * 1e6).cast("long")
          .as("__lp__"))
    pairs.join(broadcast(model), Seq("from_state", "to_state"))
      .groupBy(col(entityCol))
      .agg(count(lit(1)).as("n_steps"),
        sum(col("__lp__")).as("logprob_micro"))
      .withColumn("avg_logprob_micro",
        col("logprob_micro").cast("double") /
          col("n_steps").cast("double"))
  }

  /** Position-bias-corrected engagement (COEC — clicks over expected
    * clicks): raw CTR rewards whatever was shown at rank 1; COEC divides
    * each item's clicks by the clicks EXPECTED from where it was shown
    * (Σ over its impressions of the global per-position CTR), so an
    * item that out-clicks its slots scores > 1 wherever it was ranked —
    * the standard position-debiased relevance signal for ranker
    * training data. Per-position CTRs carry as round-half-up micro
    * units (the micro-nat posture: per-position rounding, then exact
    * integer Σ impressions×ctr_micro per item), so the expected-click
    * sum is order-free and engine-exact; the final `clicks·10⁶ / ec`
    * is the only float.
    *
    * Shape: two partial-aggregable groupBys — (position) for the
    * bias model (|positions| rows, broadcast back) and (item, position)
    * collapsed to items. Returns (item, n_impr, n_clicks, ec_micro,
    * coec); coec is null for an item with zero expected clicks. */
  def coec(df: DataFrame, itemCol: String, posCol: String,
      clickCol: String): DataFrame = {
    val ip = df.groupBy(col(itemCol), col(posCol).as("__pos__"))
      .agg(count(lit(1)).as("__n__"),
        sum(when(col(clickCol), 1L).otherwise(0L)).as("__c__"))
    val posCtr = ip.groupBy(col("__pos__"))
      .agg(round(lit(1e6) * sum(col("__c__")).cast("double") /
        sum(col("__n__")).cast("double")).cast("long").as("__ctr_mic__"))
    ip.join(broadcast(posCtr), Seq("__pos__"))
      .groupBy(col(itemCol))
      .agg(sum(col("__n__")).as("n_impr"),
        sum(col("__c__")).as("n_clicks"),
        sum(col("__n__") * col("__ctr_mic__")).as("ec_micro"))
      .withColumn("coec", when(col("ec_micro") > 0,
        col("n_clicks").cast("double") * 1e6 /
          col("ec_micro").cast("double")))
  }

  /** Markov removal-effect attribution — the data-driven alternative to
    * [[attribution]]'s last-touch rule: build the first-order journey
    * chain (START → touches → CONV/NULL), compute the conversion
    * probability by `iters` absorption power steps, then re-compute it
    * with each channel REMOVED (its inbound traffic absorbed by NULL);
    * a channel's credit is its removal effect
    * `1 − P_removed/P_full`, normalized to shares. Last-touch over-
    * credits closers; removal effects pay the assist chain.
    *
    * Journey contract: per entity, touches in (ts, id) order strictly
    * BEFORE the first `convType` event (all touches when none);
    * converting entities with no touches contribute START→CONV (their
    * conversions owe no channel). Transition counts are exact
    * integers; probabilities and the fixed-`iters` value iteration run
    * driver-side over the REGISTRY-bounded chain ([[graft.ops.Corpus.rakeWeights]]
    * posture) with state-sorted left folds — the oracle replays the
    * identical unrolled steps. Returns one row per touch type:
    * `(channel, n_in, p_full, p_removed, removal_effect, share)` —
    * share null when no channel has positive effect. */
  def markovAttribution(events: DataFrame, entityCol: String,
      tsCol: String, idCol: String, typeCol: String, convType: String,
      touchTypes: Seq[String], iters: Int = 20): DataFrame = {
    require(touchTypes.nonEmpty && touchTypes.size <= 1000,
      s"touchTypes must be a bounded registry; got ${touchTypes.size}")
    require(iters >= 1 && iters <= 200, s"iters in [1,200]; got $iters")
    require(!touchTypes.contains(convType),
      "convType cannot also be a touch type")
    val spark = events.sparkSession
    val ev = events.select(col(entityCol).as("__e__"),
      col(tsCol).cast("long").as("__ts__"),
      col(idCol).cast("long").as("__id__"),
      col(typeCol).cast("string").as("__t__"))
    val conv = ev.filter(col("__t__") === convType)
      .groupBy(col("__e__"))
      .agg(min(struct(col("__ts__"), col("__id__"))).as("__c__"))
      .select(col("__e__"), col("__c__.__ts__").as("__cts__"),
        col("__c__.__id__").as("__cid__"))
    val touches = ev.filter(col("__t__").isin(touchTypes: _*))
      .join(conv, Seq("__e__"), "left")
      .filter(col("__cts__").isNull ||
        col("__ts__") < col("__cts__") ||
        (col("__ts__") === col("__cts__") && col("__id__") < col("__cid__")))
    val w = Window.partitionBy(col("__e__"))
      .orderBy(col("__ts__").asc, col("__id__").asc)
    val seq0 = touches
      .withColumn("__prev__", lag(col("__t__"), 1).over(w))
      .withColumn("__next__", lead(col("__t__"), 1).over(w))
    val mid = seq0.select(
      coalesce(col("__prev__"), lit("START")).as("from_state"),
      col("__t__").as("to_state"))
    val last = seq0.filter(col("__next__").isNull)
      .select(col("__t__").as("from_state"),
        when(col("__cts__").isNotNull, lit("CONV")).otherwise(lit("NULL"))
          .as("to_state"))
    // converters with no prior touch: START → CONV
    val bare = conv.join(
        touches.select(col("__e__")).distinct(), Seq("__e__"),
        "left_anti")
      .select(lit("START").as("from_state"), lit("CONV").as("to_state"))
    val trans = mid.unionAll(last).unionAll(bare)
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        r.getLong(2))).sortBy(_._1)
    val fromTotals = trans.groupBy(_._1._1)
      .map { case (k, v) => k -> v.map(_._2).sum }
    // p in (from, to)-sorted order; value iteration with sorted folds
    val probs = trans.map { case ((f, t), n) =>
      (f, t, n.toDouble / fromTotals(f).toDouble) }
    val states = (probs.map(_._1) ++ probs.map(_._2)).distinct.sorted
    def absorb(removed: Option[String]): Double = {
      var v: Map[String, Double] =
        states.map(s => s -> (if (s == "CONV") 1.0 else 0.0)).toMap
      for (_ <- 1 to iters) {
        val nv = states.map { s =>
          if (s == "CONV") s -> 1.0
          else if (s == "NULL" || removed.contains(s)) s -> 0.0
          else {
            val terms = probs.filter(_._1 == s)
            if (terms.isEmpty) s -> 0.0
            else s -> terms.foldLeft(0.0) { (a, e) =>
              a + e._3 * (if (removed.contains(e._2)) 0.0 else v(e._2))
            }
          }
        }.toMap
        v = nv
      }
      v.getOrElse("START", 0.0)
    }
    val pFull = absorb(None)
    val effects = touchTypes.sorted.map { c =>
      val pc = absorb(Some(c))
      val eff = if (pFull > 0) 1.0 - pc / pFull else 0.0
      (c, pc, math.max(eff, 0.0))
    }
    val effSum = effects.foldLeft(0.0)((a, e) => a + e._3)
    val inbound = trans.groupBy(_._1._2)
      .map { case (k, v) => k -> v.map(_._2).sum }
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    import spark.implicits._
    effects.map { case (c, pc, eff) =>
      (c, inbound.getOrElse(c, 0L), r6(pFull), r6(pc), r6(eff),
        if (effSum > 0) Some(r6(eff / effSum)) else None)
    }.toDF("channel", "n_in", "p_full", "p_removed", "removal_effect",
      "share")
  }

  /** Last-touch attribution: each conversion event is credited to the
    * most recent PRECEDING touch event (view/click/…) of the same
    * entity — the as-of join is exactly the right primitive, so this
    * composes [[asofJoin]] (conversions probe, touches reference) and
    * aggregates credited value per touch type. Conversions with no prior
    * touch report as type `"(none)"` — dropped conversions would
    * silently understate revenue. One key shuffle end to end.
    *
    * Returns one row per touch type: conversions credited and total
    * credited value. Pass an INTEGER value column (e.g. milli-scaled)
    * when hash-exact cross-engine totals matter — a double sum is
    * partition-order-dependent. */
  def attribution(events: DataFrame, entityCol: String, tsCol: String,
      idCol: String, typeCol: String, valueCol: String,
      convType: String, touchTypes: Seq[String]): DataFrame = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    val conv = events.filter(col(typeCol) === convType)
      .select(col(entityCol), col(tsCol), col(idCol), col(valueCol))
    val touch = events.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(entityCol), col(tsCol).as("__tts__"),
        col(idCol).as("__tid__"), col(typeCol).as("touch_type"))
    asofJoin(conv, touch, Seq(entityCol), tsCol, "__tts__",
        Seq("touch_type"), matchedTsCol = "__mts__",
        tieCol = Some("__tid__"))
      .withColumn("touch_type",
        coalesce(col("touch_type"), lit("(none)")))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col(valueCol)).as("value_sum"))
  }

  /** Traffic-concentration profile — "which share of events comes from
    * the top decile of entities": per-entity counts bucketed into
    * `nBuckets` rank deciles (heaviest first, id tie-break), each
    * decile reporting its exact entity and event counts. The
    * whale/bot-concentration diagnostic behind per-key quota decisions
    * ([[graft.ops.Corpus.capPerKey]]'s cap is chosen FROM this view).
    *
    * Shape: one partial-aggregable count collapses the log to
    * |entities| rows — but at event scale |entities| is itself a
    * data-scale table (10⁹ users at 100× is not driver-scale), so a
    * global `ntile` window (which sorts the WHOLE table in one task —
    * ntile gets no WindowGroupLimit pruning) is banned here. Instead
    * the exact global rank is computed distributed: range-repartition
    * by (count desc, entity asc), per-partition `row_number`, plus a
    * |partitions|-row offset prefix sum collected on the driver (the
    * [[graft.ops.Corpus.vocabCoverage]] shape). ANSI `NTILE(k)` is then
    * pure arithmetic on that rank — over n rows the first `n mod k`
    * buckets take ⌈n/k⌉ rows, the rest ⌊n/k⌋ — so the output is
    * bit-identical to the window form while every partition sorts only
    * its own range slice. PlanSpec asserts no single-partition exchange
    * and no Window survive in the physical plan.
    * Returns (decile, n_entities, n_events). */
  def concentrationProfile(events: DataFrame, entityCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val spark = events.sparkSession
    val per = events.groupBy(col(entityCol))
      .agg(count(lit(1)).as("__n__"))
    val sorted = Caches.registerDf(per
      .repartitionByRange(col("__n__").desc, col(entityCol).asc)
      .sortWithinPartitions(col("__n__").desc, col(entityCol).asc)
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
      .orderBy(col("__n__").desc, col(entityCol).asc)
    val ranked = sorted.join(offDf, Seq("__pid__"))
      .select(col("__n__"),
        (col("__off__") + row_number().over(w)).as("__rank__"))
    // ANSI ntile arithmetic on the exact rank: with n rows and k
    // buckets, base = n/k and the first rem = n%k buckets hold base+1
    // rows (all of Spark, DuckDB, and the standard agree)
    val base = total / nBuckets
    val rem = total % nBuckets
    val cut = rem * (base + 1)
    // `div`, not `/`: Spark's Divide returns DOUBLE, whose rounding can
    // cross an integer boundary at large ranks; div is exact on longs
    val decile =
      if (base == 0L) col("__rank__") // fewer rows than buckets
      else when(col("__rank__") <= cut,
          expr(s"(__rank__ - 1) div ${base + 1L}") + 1L)
        .otherwise(lit(rem) +
          expr(s"(__rank__ - ${cut + 1L}) div $base") + 1L)
    ranked.select(decile.cast("int").as("decile"), col("__n__"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_entities"), sum(col("__n__")).as("n_events"))
  }

  /** EXACT rolling active entities — daily actives plus the W-day
    * rolling distinct (DAU/WAU): a sketch-free rolling distinct is
    * impossible with plain window frames (distinct does not decompose
    * over sliding windows), so each (entity, day) presence EXPLODES to
    * the W window-days it contributes to and the count per window-day
    * is a plain distinct — fan-out is W × |active (entity, day)| pairs,
    * bounded and predictable (W is a small constant), the standard
    * exact formulation. Swap an HLL-per-day union at extreme scale,
    * same grid shape.
    *
    * Returns one row per observed window-end day: (day, dau, wau) —
    * `dau` the day's own distinct entities (0-filled days absent, as
    * only observed days ground a window), `wau` the distinct over
    * `[day − W + 1, day]`. */
  def rollingActiveUsers(events: DataFrame, entityCol: String,
      tsCol: String, windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val dayUs = 86400000000L
    // floor(), not cast-to-long: the cast truncates toward zero, so a
    // pre-1970 timestamp would bucket off-by-one vs the oracle's floor
    // division (and vs every sibling day-bucket op in this file)
    val pres = events.select(col(entityCol).as("__e__"),
        floor(unix_micros(col(tsCol)) / dayUs).cast("long").as("__day__"))
      .distinct()
    val dau = pres.groupBy(col("__day__").as("day"))
      .agg(countDistinct(col("__e__")).as("dau"))
    val wau = pres
      .select(col("__e__"), explode(sequence(col("__day__"),
        col("__day__") + (windowDays - 1))).as("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("__e__")).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"))
  }

  /** Sketch-backed rolling actives — the extreme-scale swap for
    * [[rollingActiveUsers]]. The exact form explodes |entity-days| × W
    * presence rows through the shuffle; at 100 TB event logs that
    * explode dominates the job. Here each day is first collapsed to ONE
    * mergeable Datasketches HLL sketch of its entities (`hll_sketch_agg`
    * — bounded 2^lgK registers regardless of cardinality), the W-day
    * fan-out then explodes only the |days| × W *sketch* table, and per
    * window-end day the sketches merge with `hll_union_agg`. Shuffle
    * volume drops from entity-days × W id rows to days × W ≈ KB-sized
    * sketch blobs; relative error is ~1.04/√(2^lgK) (≈0.8% at the
    * lgK=14 default).
    *
    * `dau` stays EXACT (one partial-aggregable distinct-per-day pass —
    * that one is not the bottleneck); only the rolling distinct, which
    * does not decompose over frames, is sketched. Output
    * `(day, dau, wau_approx)` over the same observed-day set as the
    * exact twin, so the two line up row-for-row for the q30-style
    * tolerance gate. */
  def rollingActiveUsersApprox(events: DataFrame, entityCol: String,
      tsCol: String, windowDays: Int, lgK: Int = 14): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4, 21], got $lgK")
    val dayUs = 86400000000L
    val byDay = events.select(col(entityCol).as("__e__"),
      floor(unix_micros(col(tsCol)) / dayUs).cast("long").as("__day__"))
    // one pass: exact per-day distinct + the day's HLL sketch (duplicate
    // entities within a day are absorbed by the sketch, no distinct
    // needed on the sketch path)
    val daySk = byDay.groupBy(col("__day__"))
      .agg(countDistinct(col("__e__")).as("dau"),
        hll_sketch_agg(col("__e__"), lit(lgK)).as("__sk__"))
    val wau = daySk
      .select(col("__sk__"), explode(sequence(col("__day__"),
        col("__day__") + (windowDays - 1))).as("day"))
      .groupBy(col("day"))
      .agg(hll_sketch_estimate(
        hll_union_agg(col("__sk__"), lit(false))).as("wau_approx"))
    daySk.select(col("__day__").as("day"), col("dau"))
      .join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau_approx"))
  }

  /** Inter-arrival profile + bot flag: per entity, exact summary
    * statistics of the gaps between consecutive events (count, min,
    * max, sum — all mergeable integers; mean = sum/n is the caller's
    * division) and a `bot` flag for entities firing faster than humans
    * sustain: `n_gaps >= minEvents AND min_gap <= maxMinGapUs` — the
    * machine-traffic signature (scripted clients keep sub-second
    * minimum gaps over long runs; humans don't).
    *
    * Shape: one key-partitioned lag window + one partial-aggregable
    * grouped pass sharing the same hash partitioning; a hot entity
    * costs its own history, and the output is |entities|-sized. */
  def interArrivalProfile(events: DataFrame, entityCol: String,
      tsCol: String, idCol: String, minEvents: Long,
      maxMinGapUs: Long): DataFrame = {
    require(minEvents >= 1 && maxMinGapUs >= 0, "bad interArrival params")
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    events
      .withColumn("__gap__", col(tsCol) - lag(col(tsCol), 1).over(w))
      .filter(col("__gap__").isNotNull)
      .groupBy(col(entityCol))
      .agg(count(lit(1)).as("n_gaps"), min(col("__gap__")).as("min_gap"),
        max(col("__gap__")).as("max_gap"), sum(col("__gap__")).as("sum_gap"))
      .withColumn("bot",
        col("n_gaps") >= minEvents && col("min_gap") <= maxMinGapUs)
  }

  /** Time-to-conversion: per entity, the delay from its FIRST touch
    * (any of `touchTypes`) to its FIRST `convType` event — the
    * funnel-latency metric [[funnel]]'s step counts don't give.
    * Entities that converted before any touch (organic/dark-channel
    * conversions) report `organic = true` with their negative delay
    * rather than vanishing or clamping — dropping them overstates
    * channel effectiveness. Entities with only one side are omitted
    * (no delay exists).
    *
    * Shape: two filtered partial-aggregable `min` passes + one
    * |entities|-row equi-join — the log never self-joins. */
  def timeToConversion(events: DataFrame, entityCol: String,
      tsCol: String, typeCol: String, touchTypes: Seq[String],
      convType: String): DataFrame = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    val touch = events.filter(col(typeCol).isin(touchTypes: _*))
      .groupBy(col(entityCol)).agg(min(col(tsCol)).as("first_touch"))
    val conv = events.filter(col(typeCol) === convType)
      .groupBy(col(entityCol)).agg(min(col(tsCol)).as("first_conv"))
    touch.join(conv, Seq(entityCol))
      .withColumn("delay_us", col("first_conv") - col("first_touch"))
      .withColumn("organic", col("delay_us") < 0)
  }

  /** Top event-type PATHS: each entity's first `maxSteps` states in
    * `(tsCol, idCol)` order joined into one path string, counted across
    * entities, top-k by `(count desc, path asc)` — the product-analytics
    * "common journeys" view ([[funnel]] asks about ONE ordered pattern;
    * this discovers which patterns exist). Truncation to the first
    * `maxSteps` steps is the standard unbounded-path cure.
    *
    * Shape: one per-entity `collect_list` (state bounded by the KEY's
    * history — the [[ewma]] discipline) + a partial-aggregable path
    * count, then `TakeOrderedAndProject` for the top-k (each shard
    * forwards only its own top-k candidates — the path table never
    * single-partitions; an unpartitioned rank window here would drag
    * EVERY distinct path through one task). The rank column is a window
    * over the k surviving rows only. Returns (path, n_entities, rank). */
  def topPaths(events: DataFrame, entityCol: String, tsCol: String,
      idCol: String, stateCol: String, maxSteps: Int,
      topK: Int): DataFrame = {
    require(maxSteps >= 1 && topK >= 1, "maxSteps and topK must be >= 1")
    val t = struct(col(tsCol).as("ts"), col(idCol).as("id"),
      col(stateCol).cast("string").as("s"))
    val paths = events.groupBy(col(entityCol))
      .agg(sort_array(collect_list(t)).as("__h__"))
      .select(array_join(
        transform(slice(col("__h__"), 1, maxSteps), e => e.getField("s")),
        ">").as("path"))
    val counts = paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n_entities"))
    val top = counts
      .orderBy(col("n_entities").desc, col("path").asc).limit(topK)
    val w = Window.orderBy(col("n_entities").desc, col("path").asc)
    top.withColumn("rank", row_number().over(w))
  }

  /** Per-key linear-trend detection (volume drift, quality decay, score
    * creep per source) via ordinary-least-squares sufficient statistics:
    * slope over `(x, y)` carried as the EXACT integer rational
    * `slope = slope_num / slope_den` with
    * `slope_num = n·Σxy − Σx·Σy`, `slope_den = n·Σx² − (Σx)²` — no
    * float division, so the rising/falling verdict is bit-identical
    * across engines, layouts, and shard merge orders (a float `slope`
    * would ulp-flip near-zero trends). Inputs must be integral (scale
    * values to milli-units upstream); sums run in decimal(38,0) so
    * 100 TB row counts cannot overflow.
    *
    * Shape: ONE partial-aggregable grouped pass (five sums — the
    * classic mergeable-moments trick: shard aggregates combine by
    * addition, the regression never rescans). Output per key:
    * n, slope_num, slope_den, `rising` (null when all x equal —
    * slope undefined — rather than a false flat). */
  /** Embargoed temporal train/test split — the time-series hygiene rule
    * (de Prado's purged split): a UNIT (user, account, series) goes to
    * `train` only if its entire history ends before the split point, to
    * `test` only if it starts at or after split + embargo; anything
    * straddling the boundary or inside the embargo gap is quarantined
    * as `embargo` (the rows a naive random split would leak through —
    * a unit with events on both sides carries future information into
    * training). Returns per unit: n_events, first/last timestamp, and
    * the split label.
    *
    * Scale shape: ONE partial-aggregable pass (min/max/count per unit);
    * the label is per-row Column math on the aggregate. */
  def embargoSplit(ev: DataFrame, unitCol: String, tsCol: String,
      splitUs: Long, embargoUs: Long): DataFrame = {
    require(embargoUs >= 0, "embargo must be non-negative")
    ev.groupBy(col(unitCol))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("first_us"), max(col(tsCol)).as("last_us"))
      .withColumn("split",
        when(col("last_us") < splitUs, "train")
          .when(col("first_us") >= splitUs + embargoUs, "test")
          .otherwise("embargo"))
  }

  /** CUPED variance-reduced experiment readout (Deng et al., WSDM'13 —
    * the adjustment every large experiment platform applies): for
    * per-unit rows (variant, pre-period covariate x, experiment metric
    * y), the adjusted variant mean is
    * `mean(y_v) − θ·(mean(x_v) − mean(x))` with
    * `θ = cov(x,y)/var(x)` POOLED across variants — pre-period signal
    * can't be caused by treatment, so subtracting its explained
    * component shrinks variance without bias. Both columns must be
    * integral (quantize upstream): every moment is an exact integer sum,
    * θ and each mean are single exact-ratio divisions, and the adjusted
    * mean is one fixed multiply-subtract — engine-exact before the 6dp
    * rounding. Zero pre-period variance degrades to θ = 0 (no
    * adjustment), not a NaN.
    *
    * Returns per variant: n, mean_x, mean_y, adj_mean + the constant
    * theta. Scale shape: ONE partial-aggregable pass for the pooled
    * moments (single-row broadcast) + ONE for the per-variant sums;
    * output is |variants| rows. */
  def cuped(units: DataFrame, variantCol: String, xCol: String,
      yCol: String): DataFrame = {
    Seq(xCol, yCol).foreach { c =>
      val t = units.schema(c).dataType
      require(Seq("long", "int", "smallint", "tinyint").contains(t.typeName),
        s"cuped needs integral metric columns; '$c' is $t")
    }
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val x = col(xCol).cast(dec)
    val y = col(yCol).cast(dec)
    val pooled = units.agg(
      count(lit(1)).cast(dec).as("__n__"),
      sum(x).as("__sx__"), sum(y).as("__sy__"),
      sum(x * y).cast(dec).as("__sxy__"),
      sum(x * x).cast(dec).as("__sxx__"))
    val varNum = col("__n__") * col("__sxx__") - col("__sx__") * col("__sx__")
    val covNum = col("__n__") * col("__sxy__") - col("__sx__") * col("__sy__")
    val theta = when(varNum === 0, lit(0.0))
      .otherwise(covNum.cast("double") / varNum.cast("double"))
    val perVariant = units.groupBy(col(variantCol))
      .agg(count(lit(1)).cast(dec).as("__nv__"),
        sum(x).as("__sxv__"), sum(y).as("__syv__"))
    val meanXAll = col("__sx__").cast("double") / col("__n__").cast("double")
    val meanXv = col("__sxv__").cast("double") / col("__nv__").cast("double")
    val meanYv = col("__syv__").cast("double") / col("__nv__").cast("double")
    perVariant.crossJoin(broadcast(pooled))
      .withColumn("__theta__", theta)
      .select(col(variantCol), col("__nv__").cast("long").as("n"),
        round(meanXv, 6).as("mean_x"), round(meanYv, 6).as("mean_y"),
        round(meanYv - col("__theta__") * (meanXv - meanXAll), 6)
          .as("adj_mean"),
        round(col("__theta__"), 6).as("theta"))
  }

  def trend(df: DataFrame, keyCol: String, xCol: String,
      yCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val x = col(xCol).cast(dec)
    val y = col(yCol).cast(dec)
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).cast(dec).as("__n__"),
        sum(x).as("__sx__"), sum(y).as("__sy__"),
        sum(x * x).as("__sxx__"), sum(x * y).as("__sxy__"))
      .select(col(keyCol), col("__n__").cast("long").as("n"),
        (col("__n__") * col("__sxy__") - col("__sx__") * col("__sy__"))
          .cast(dec).as("slope_num"),
        (col("__n__") * col("__sxx__") - col("__sx__") * col("__sx__"))
          .cast(dec).as("slope_den"))
      .withColumn("rising",
        when(col("slope_den") === 0, lit(null).cast("boolean"))
          .otherwise(col("slope_num") > 0))
  }

  /** Debounce: collapse each key's event BURSTS — maximal chains where
    * consecutive gaps are `<= cooldown` — to their first event (retry
    * storms, double-clicks, sensor chatter; the dedup that exact-match
    * dedup cannot do because burst payloads differ). Burst boundaries
    * are gaps-and-islands on the integer timestamp: a gap
    * `> cooldown` from the PREVIOUS event (kept or not) starts a new
    * burst — all-integer comparisons, so both engines agree on every
    * boundary gap.
    *
    * Shape: one key-partitioned `lag` window (island flags), a running
    * sum on the SAME partitioning (no second exchange —
    * hash(key) co-locates (key, burst)), then a partial-aggregable
    * `min(struct(ts, id))` per burst — the skew-safe keep-first shape
    * ([[graft.ops.Dedup.removeDupSpans]] discipline): a hot key's rows
    * combine map-side, never sort in one task. Returns one row per
    * burst: key, burst ordinal, first ts/id, burst size. */
  def debounce(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, cooldownUs: Long): DataFrame = {
    require(cooldownUs >= 0, s"cooldown must be >= 0, got $cooldownUs")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("__prev__", lag(col(tsCol), 1).over(w))
      .withColumn("__nb__",
        when(col("__prev__").isNull ||
          col(tsCol) - col("__prev__") > cooldownUs, 1L).otherwise(0L))
      .withColumn("__burst__", sum(col("__nb__")).over(wRun))
      .groupBy(col(keyCol), col("__burst__"))
      .agg(min(struct(col(tsCol), col(idCol))).as("__first__"),
        count(lit(1)).as("n_events"))
      .select(col(keyCol), col("__burst__").as("burst"),
        col("__first__").getField(tsCol).as("first_ts"),
        col("__first__").getField(idCol).as("first_id"),
        col("n_events"))
  }

  /** Exact pairwise AUDIENCE OVERLAP between event types (or campaigns,
    * features, cohorts): for every unordered type pair, the distinct
    * entities seen in both, plus each side's distinct audience — the
    * exact integers behind Jaccard/containment ("do purchasers also use
    * search?"), the planning twin of the sketched
    * [[graft.ops.Sketches.overlapEstimate]].
    *
    * Shape: distinct (type, entity) pairs first (partial-aggregable —
    * an entity firing 10⁸ identical events collapses map-side), then a
    * per-entity self-join whose fan-out is bounded by |types|² per
    * entity (types are a small set by contract), then one
    * |types|²-sized count. Entity ids ride the one shuffle; event
    * payloads never do. */
  def audienceOverlap(events: DataFrame, typeCol: String,
      entityCol: String): DataFrame = {
    val pres = events.select(col(typeCol).cast("string").as("__t__"),
      col(entityCol).as("__e__")).distinct()
    val sizes = pres.groupBy(col("__t__")).agg(count(lit(1)).as("__n__"))
    val a = pres.select(col("__t__").as("type_a"), col("__e__"))
    val b = pres.select(col("__t__").as("type_b"), col("__e__"))
    a.join(b, Seq("__e__"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(sizes.select(col("__t__").as("type_a"),
        col("__n__").as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("__t__").as("type_b"),
        col("__n__").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
        col("n_b"))
  }

  /** Per-key burstiness — the Fano factor (variance-to-mean ratio) of
    * the key's per-bucket event counts across its ACTIVE SPAN (first to
    * last bucket inclusive; silent buckets count as zeros): ≈1 for a
    * Poisson-ish organic actor, ≫1 for bursty scripted traffic, ≈0 for
    * metronomic bots — the rate-pattern bot signal next to
    * [[interArrivalProfile]]. With B span buckets and counts c_i
    * (Σc = n): `fano = (B·Σc² − n²) / (B·n)` — the exact integer pair
    * rides out, division is presentation.
    *
    * Shape: one partial-aggregable (key, bucket) count, then one
    * partial-aggregable per-key fold of (Σc, Σc², min, max) — two
    * shuffles on the key, nothing wide, output |keys| rows. Returns
    * (key, n_events, n_buckets, fano_num, fano_den, fano rounded 6). */
  def burstiness(events: DataFrame, keyCol: String, tsCol: String,
      bucketUs: Long): DataFrame = {
    require(bucketUs >= 1, s"bucket width must be >= 1 us, got $bucketUs")
    val perBucket = events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("__k__"),
        // floor(), not `div`: truncation buckets pre-1970 timestamps
        // off-by-one vs the oracle's floor division (the q164 posture)
        floor(unix_micros(col(tsCol)) / bucketUs).cast("long").as("__b__"))
      .groupBy(col("__k__"), col("__b__"))
      .agg(count(lit(1)).as("__c__"))
    perBucket.groupBy(col("__k__"))
      .agg(sum(col("__c__")).as("n_events"),
        sum(col("__c__") * col("__c__")).as("__s2__"),
        (max(col("__b__")) - min(col("__b__")) + 1).as("n_buckets"))
      .select(col("__k__").as(keyCol), col("n_events"), col("n_buckets"),
        (col("n_buckets") * col("__s2__") -
          col("n_events") * col("n_events")).as("fano_num"),
        (col("n_buckets") * col("n_events")).as("fano_den"),
        round((col("n_buckets") * col("__s2__") -
          col("n_events") * col("n_events")).cast("double") /
          (col("n_buckets") * col("n_events")).cast("double"), 6)
          .as("fano"))
  }

  /** Item–item co-occurrence with pointwise mutual information over
    * (key, item) presence — the co-engagement signal behind
    * item-to-item recommendation and distributional association mining:
    * `pmi(a,b) = ln(n_ab·N / (n_a·n_b))` over distinct keys, where N
    * counts the keys surviving the activity cap. Positive PMI = the
    * pair co-occurs more than independent popularity predicts.
    *
    * Scale shape: the pair fan-out of a key with n items is n(n−1)/2,
    * so `maxItemsPerKey` drops hyperactive keys BEFORE the self-join
    * (the standard practice — a crawler hitting every item carries no
    * association signal and alone would dominate the pair volume);
    * after the cap, volume is ≤ C(cap, 2)·|keys| and every aggregate
    * is partial (map-side combine). Marginals and N are computed on
    * the SAME capped key set, keeping the contingency table
    * consistent. Only ids and counts shuffle.
    *
    * Returns (item_a, item_b, n_ab, n_a, n_b, n_keys, pmi): the exact
    * integer contingency plus the rounded-6 PMI (division and log are
    * presentation; the integers are the engine-identical truth). */
  def cooccurrencePmi(df: DataFrame, keyCol: String, itemCol: String,
      maxItemsPerKey: Int = 100, minPairCount: Long = 1): DataFrame = {
    require(maxItemsPerKey >= 2, s"cap must allow pairs, got $maxItemsPerKey")
    val ki = df.select(col(keyCol).as("__k__"), col(itemCol).as("__i__"))
      .filter(col("__k__").isNotNull && col("__i__").isNotNull)
      .distinct()
    val kept = ki.join(
      ki.groupBy(col("__k__")).agg(count(lit(1)).as("__n__"))
        .filter(col("__n__") <= maxItemsPerKey).select(col("__k__")),
      Seq("__k__"))
    val nKeys = kept.select(col("__k__")).distinct()
      .agg(count(lit(1)).as("n_keys"))
    val marg = kept.groupBy(col("__i__")).agg(count(lit(1)).as("__m__"))
    val pairs = kept.select(col("__k__"), col("__i__").as("item_a"))
      .join(kept.select(col("__k__"), col("__i__").as("item_b")),
        Seq("__k__"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
    // no broadcast hint on the marginals: |items| is unbounded (unlike
    // audienceOverlap's enum-typed sizes) — AQE broadcasts when small
    pairs
      .join(marg.select(col("__i__").as("item_a"),
        col("__m__").as("n_a")), Seq("item_a"))
      .join(marg.select(col("__i__").as("item_b"),
        col("__m__").as("n_b")), Seq("item_b"))
      .crossJoin(broadcast(nKeys))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n_keys"),
        round(log((col("n_ab") * col("n_keys")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")), 6).as("pmi"))
  }

  /** Kaplan-Meier survival table over right-censored unit durations —
    * the honest answer to "how long until churn/conversion" when many
    * units haven't converted yet (a naive mean over converters only is
    * survivorship bias by construction; [[timeToConversion]] feeds this
    * its durations). Input is one row per unit: an integral
    * `durationCol` (e.g. whole days to the event or to the observation
    * cutoff) and a boolean `eventCol` (true = the event was observed at
    * that duration, false = censored there).
    *
    * Every count is exact: `n_risk(t)` = units still under observation
    * entering t (total minus everything that left strictly before),
    * `n_event`/`n_censored` are plain integer counts, and the survival
    * estimate Π_{t'≤t} (1 − d/n) is a LEFT FOLD over the per-duration
    * factors in t order — both engines multiply the same doubles in the
    * same order, so the export is bit-identical (a cumulative-product
    * window via exp(Σ ln) would not be).
    *
    * Shape: one partial-aggregable per-duration collapse, one global
    * ordered window over the |distinct durations| rows (bounded by the
    * observation range in duration units — days over years is
    * thousands, a single task is the right plan), and the factor list
    * rides back as one broadcast row; the O(T²) prefix refold is over
    * that same bounded T. Returns
    * `(t, n_risk, n_event, n_censored, survival)` ordered by `t`. */
  /** Per-entity bot/automation signals — the traffic-hygiene gate
    * before any behavioral analytics (a scraper hammering one endpoint
    * poisons funnels, retention, and co-occurrence alike; filter first,
    * like [[graft.ops.TextAnalysis]] quality rules filter text before
    * training). Signals per entity, all exact integers: event count,
    * distinct active minutes, PEAK events in any single minute (burst
    * rate — humans don't click 30 times in one minute), distinct event
    * types (single-type high-volume streams are pings, not sessions),
    * and milli-scaled events-per-active-minute (`n·1000 div minutes`,
    * integer division). The verdict is two cross-multiplied rules:
    * `peak_per_minute ≥ peakPerMinute`, or `n_events ≥ minEvents` with
    * a single event type.
    *
    * Shape: one per-(entity, minute) partial-aggregable collapse feeds
    * the per-entity rollup, plus one distinct-type count keyed the same
    * — two log-sized hash aggregations on the entity key joined at
    * |entities| rows; no windows, no self-joins, AQE handles a hot
    * entity (which is exactly what a bot is).
    *
    * Returns `(entity, n_events, active_minutes, peak_per_minute,
    * n_types, epm_milli, bot)`. */
  def botSignals(events: DataFrame, entityCol: String, tsCol: String,
      typeCol: String, peakPerMinute: Long = 30L,
      minEvents: Long = 20L): DataFrame = {
    require(peakPerMinute >= 1 && minEvents >= 1,
      "thresholds must be >= 1")
    val base = events.select(col(entityCol).as("__e__"),
      expr(s"unix_micros(`$tsCol`) div 60000000").as("__min__"),
      col(typeCol).as("__t__"))
    val perMin = base.groupBy(col("__e__"), col("__min__"))
      .agg(count(lit(1)).as("__c__"))
    val roll = perMin.groupBy(col("__e__"))
      .agg(sum(col("__c__")).as("n_events"),
        count(lit(1)).as("active_minutes"),
        max(col("__c__")).as("peak_per_minute"))
    val types = base.groupBy(col("__e__"))
      .agg(countDistinct(col("__t__")).as("n_types"))
    roll.join(types, "__e__")
      .select(col("__e__").as(entityCol), col("n_events"),
        col("active_minutes"), col("peak_per_minute"), col("n_types"),
        expr("n_events * 1000 div active_minutes").as("epm_milli"),
        (col("peak_per_minute") >= peakPerMinute ||
          (col("n_events") >= minEvents && col("n_types") === 1))
          .as("bot"))
  }

  /** Kaplan–Meier product-limit survival over right-censored durations.
    *
    * Scale bound (r14 audit, VERDICT_r13 #7): every global construct
    * here — the `Window.orderBy(t)` risk-set prefix sum, the
    * `collect_list` factor broadcast, and the per-row filtered fold —
    * runs over the DISTINCT-duration grid (`perT`), never the event
    * rows: the window input is one row per distinct `t`, which is also
    * the op's OUTPUT size. The survival curve itself is |grid|-sized,
    * so a grid too big for one window task is a curve too big to be the
    * deliverable — quantize durations upstream (days/hours buckets, the
    * standard survival-analysis grid) when raw resolution is
    * micro-timestamps. Same bound applies to [[nelsonAalen]],
    * [[logRank]] and [[hazardRatio]], which share the grid shape. */
  def kaplanMeier(durations: DataFrame, durationCol: String,
      eventCol: String): DataFrame = {
    val base = durations.select(col(durationCol).cast("long").as("t"),
      col(eventCol).cast("boolean").as("__e__"))
    val perT = base.groupBy(col("t")).agg(
      sum(when(col("__e__"), 1L).otherwise(0L)).as("n_event"),
      sum(when(col("__e__"), 0L).otherwise(1L)).as("n_censored"))
    val total = base.agg(count(lit(1)).as("__n__"))
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val atRisk = perT.crossJoin(broadcast(total))
      .withColumn("n_risk", col("__n__") -
        coalesce(sum(col("n_event") + col("n_censored")).over(w), lit(0L)))
      .select(col("t"), col("n_risk"), col("n_event"), col("n_censored"))
    val factors = atRisk
      .agg(sort_array(collect_list(struct(col("t").as("ft"),
        (lit(1.0) - col("n_event").cast("double") / col("n_risk"))
          .as("f")))).as("__fs__"))
    atRisk.crossJoin(broadcast(factors))
      .select(col("t"), col("n_risk"), col("n_event"), col("n_censored"),
        round(aggregate(
          filter(col("__fs__"), s => s.getField("ft") <= col("t")),
          lit(1.0), (a, s) => a * s.getField("f")), 6).as("survival"))
  }

  /** Nelson–Aalen cumulative hazard over right-censored durations —
    * the additive companion to [[kaplanMeier]]'s product-limit
    * survival: `H(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ`. The hazard view is what
    * reliability/churn models consume directly (its slope IS the
    * instantaneous risk; plateaus read as "the danger has passed"),
    * and at small risk sets it is numerically steadier than −ln(KM).
    *
    * Same exact-integer risk-set grid as KM (windows over DISTINCT
    * times, never rows); the float fold runs time-sorted on both
    * engines. Returns `(t, n_risk, n_event, n_censored, cum_hazard)`
    * rounded to 6. */
  def nelsonAalen(durations: DataFrame, durationCol: String,
      eventCol: String): DataFrame = {
    graft.ops.Profiling.requireIntegral(durations, durationCol,
      "nelsonAalen")
    val base = durations.select(col(durationCol).cast("long").as("t"),
      col(eventCol).cast("boolean").as("__e__"))
    val perT = base.groupBy(col("t")).agg(
      sum(when(col("__e__"), 1L).otherwise(0L)).as("n_event"),
      sum(when(col("__e__"), 0L).otherwise(1L)).as("n_censored"))
    val total = base.agg(count(lit(1)).as("__n__"))
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val atRisk = perT.crossJoin(broadcast(total))
      .withColumn("n_risk", col("__n__") -
        coalesce(sum(col("n_event") + col("n_censored")).over(w), lit(0L)))
      .select(col("t"), col("n_risk"), col("n_event"), col("n_censored"))
    val steps = atRisk
      .agg(sort_array(collect_list(struct(col("t").as("ft"),
        (col("n_event").cast("double") / col("n_risk").cast("double"))
          .as("h")))).as("__hs__"))
    atRisk.crossJoin(broadcast(steps))
      .select(col("t"), col("n_risk"), col("n_event"), col("n_censored"),
        round(aggregate(
          filter(col("__hs__"), s => s.getField("ft") <= col("t")),
          lit(0.0), (a, s) => a + s.getField("h")), 6).as("cum_hazard"))
  }

  /** Restricted mean survival time — `RMST(τ) = ∫₀^τ S(u) du`, the
    * area under the [[kaplanMeier]] curve up to the horizon τ: "average
    * days retained in the first τ days", the single-number effect
    * readout survival analysts prefer when proportional hazards is
    * dubious (it is a plain mean of a truncated variable, so
    * differences are directly interpretable — unlike a hazard ratio).
    *
    * Exactness: the survival steps are KM's (6dp, the published
    * contract); the step integral folds time-sorted on both engines.
    * Returns one row: `(n, n_events, tau, rmst)`. */
  def rmst(durations: DataFrame, durationCol: String, eventCol: String,
      tau: Long): DataFrame = {
    require(tau > 0, s"tau must be > 0; got $tau")
    val km = kaplanMeier(durations, durationCol, eventCol)
    val g = km.agg(
      sort_array(collect_list(struct(col("t"),
        col("survival").as("s")))).as("__l__"),
      sum(col("n_event")).as("n_events"),
      sum(col("n_event") + col("n_censored")).as("n"))
    val folded = aggregate(col("__l__"),
      struct(lit(0L).as("pt"), lit(1.0).as("ps"), lit(0.0).as("acc")),
      (a, e) => struct(e.getField("t").as("pt"),
        e.getField("s").as("ps"),
        (a("acc") + a("ps") *
          (least(e.getField("t"), lit(tau)) -
            least(a("pt"), lit(tau))).cast("double")).as("acc")))
    g.select(col("n"), col("n_events"), lit(tau).as("tau"),
      round(folded("acc") + folded("ps") *
        greatest(lit(tau) - folded("pt"), lit(0L)).cast("double"), 6)
        .as("rmst"))
  }

  /** Two-group log-rank test over right-censored durations — "did the
    * treatment arm survive LONGER?" as a whole-curve hypothesis test,
    * the significance companion to [[kaplanMeier]]'s estimate (eyeballing
    * two KM curves is exactly the peeking trap [[graft.ops.Profiling.groupSequential]]
    * exists for). At every distinct event time the observed treated
    * events are compared to their hypergeometric expectation under
    * "arms identical": `O−E = Σ_t (d₁t − d_t·n₁t/n_t)` with variance
    * `V = Σ_t d_t·(n₁t/n_t)·(1−n₁t/n_t)·(n_t−d_t)/(n_t−1)` and
    * `χ² = (O−E)²/V` against χ²(1). Arms other than `control` pool as
    * the treatment arm.
    *
    * Exactness: risk sets and event counts are exact integers off the
    * distinct-time grid (windows over the GRID, never the rows — the
    * [[kaplanMeier]] shape); the per-time float terms are single
    * divisions of exact integers folded in time order on both engines
    * ([[graft.ops.Profiling.kruskalWallis]] discipline), and the
    * verdict compares `χ²·1e6` in the same doubles. Returns one row:
    * `(n_treated, n_control, n_events, o_minus_e, variance, chi2,
    * significant)` — χ² null when V = 0 (no comparison time has both
    * arms at risk). */
  def logRank(durations: DataFrame, durationCol: String,
      eventCol: String, armCol: String, control: String,
      chiCrit: Double = 3.841): DataFrame = {
    graft.ops.Profiling.requireIntegral(durations, durationCol, "logRank")
    val critMicro = math.round(chiCrit * 1e6)
    val base = durations.select(col(durationCol).cast("long").as("t"),
      col(eventCol).cast("boolean").as("__e__"),
      (col(armCol).cast("string") =!= control).as("__trt__"))
    val perT = base.groupBy(col("t")).agg(
      sum(when(col("__trt__") && col("__e__"), 1L).otherwise(0L))
        .as("d1"),
      sum(when(!col("__trt__") && col("__e__"), 1L).otherwise(0L))
        .as("d0"),
      sum(when(col("__trt__"), 1L).otherwise(0L)).as("a1"),
      sum(when(!col("__trt__"), 1L).otherwise(0L)).as("a0"))
    val tot = base.agg(
      sum(when(col("__trt__"), 1L).otherwise(0L)).as("__n1__"),
      sum(when(!col("__trt__"), 1L).otherwise(0L)).as("__n0__"))
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = perT.crossJoin(broadcast(tot))
      .withColumn("__r1__",
        col("__n1__") - coalesce(sum(col("a1")).over(w), lit(0L)))
      .withColumn("__r0__",
        col("__n0__") - coalesce(sum(col("a0")).over(w), lit(0L)))
      .filter(col("d1") + col("d0") > 0) // only event times contribute
    val d = (col("d1") + col("d0")).cast("double")
    val n1 = col("__r1__").cast("double")
    val n = (col("__r1__") + col("__r0__")).cast("double")
    val oe = col("d1").cast("double") - d * try_divide(n1, n)
    val v = when(col("__r1__") + col("__r0__") > 1,
      d * try_divide(n1, n) * (lit(1.0) - try_divide(n1, n)) *
        try_divide(n - d, n - 1.0)).otherwise(lit(0.0))
    val folded = risk.agg(
      sum(col("d1") + col("d0")).as("n_events"),
      aggregate(
        sort_array(collect_list(struct(col("t").as("ft"),
          oe.as("oe"), v.as("v")))),
        struct(lit(0.0).as("o"), lit(0.0).as("vv")),
        (acc, x) => struct((acc("o") + x("oe")).as("o"),
          (acc("vv") + x("v")).as("vv"))).as("__f__"))
    folded.crossJoin(broadcast(tot))
      .select(col("__n1__").as("n_treated"), col("__n0__").as("n_control"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        round(col("__f__.o"), 6).as("o_minus_e"),
        round(col("__f__.vv"), 6).as("variance"),
        when(col("__f__.vv") > 0,
          round(col("__f__.o") * col("__f__.o") / col("__f__.vv"), 6))
          .as("chi2"),
        when(col("__f__.vv") > 0,
          col("__f__.o") * col("__f__.o") / col("__f__.vv") *
            lit(1000000.0) >= lit(critMicro.toDouble))
          .as("significant"))
  }

  /** Pike hazard-ratio estimate with CI over right-censored durations —
    * the EFFECT SIZE beside [[logRank]]'s verdict (a significant χ²
    * with HR 1.02 and one with HR 3 are different findings):
    * `HR = (O₁/E₁)/(O₀/E₀)` from the same hypergeometric risk-set
    * expectations, with the standard log-rank-based interval
    * `exp((O₁−E₁)/V ± z/√V)`. Same exact-integer grid, same
    * time-sorted float folds; returns one row
    * `(n_treated, n_control, o1, e1, o0, e0, hazard_ratio, hr_lo,
    * hr_hi)` — nulls when either arm saw no expected events. */
  def hazardRatio(durations: DataFrame, durationCol: String,
      eventCol: String, armCol: String, control: String,
      zCrit: Double = 1.959964): DataFrame = {
    graft.ops.Profiling.requireIntegral(durations, durationCol,
      "hazardRatio")
    val base = durations.select(col(durationCol).cast("long").as("t"),
      col(eventCol).cast("boolean").as("__e__"),
      (col(armCol).cast("string") =!= control).as("__trt__"))
    val perT = base.groupBy(col("t")).agg(
      sum(when(col("__trt__") && col("__e__"), 1L).otherwise(0L))
        .as("d1"),
      sum(when(!col("__trt__") && col("__e__"), 1L).otherwise(0L))
        .as("d0"),
      sum(when(col("__trt__"), 1L).otherwise(0L)).as("a1"),
      sum(when(!col("__trt__"), 1L).otherwise(0L)).as("a0"))
    val tot = base.agg(
      sum(when(col("__trt__"), 1L).otherwise(0L)).as("__n1__"),
      sum(when(!col("__trt__"), 1L).otherwise(0L)).as("__n0__"))
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = perT.crossJoin(broadcast(tot))
      .withColumn("__r1__",
        col("__n1__") - coalesce(sum(col("a1")).over(w), lit(0L)))
      .withColumn("__r0__",
        col("__n0__") - coalesce(sum(col("a0")).over(w), lit(0L)))
      .filter(col("d1") + col("d0") > 0)
    val d = (col("d1") + col("d0")).cast("double")
    val n1 = col("__r1__").cast("double")
    val n = (col("__r1__") + col("__r0__")).cast("double")
    val e1 = d * try_divide(n1, n)
    val e0 = d * try_divide(col("__r0__").cast("double"), n)
    val v = when(col("__r1__") + col("__r0__") > 1,
      d * try_divide(n1, n) * (lit(1.0) - try_divide(n1, n)) *
        try_divide(n - d, n - 1.0)).otherwise(lit(0.0))
    val folded = risk.agg(
      sum(col("d1")).as("o1"), sum(col("d0")).as("o0"),
      aggregate(
        sort_array(collect_list(struct(col("t").as("ft"),
          e1.as("e1"), e0.as("e0"), v.as("v")))),
        struct(lit(0.0).as("e1"), lit(0.0).as("e0"), lit(0.0).as("vv")),
        (acc, x) => struct((acc("e1") + x("e1")).as("e1"),
          (acc("e0") + x("e0")).as("e0"),
          (acc("vv") + x("v")).as("vv"))).as("__f__"))
    val fe1 = col("__f__.e1"); val fe0 = col("__f__.e0")
    val fv = col("__f__.vv")
    val ok = fe1 > 0 && fe0 > 0 && col("o0") > 0
    val hr = try_divide(col("o1").cast("double") / fe1,
      col("o0").cast("double") / fe0)
    val lnCenter = try_divide(col("o1").cast("double") - fe1, fv)
    val hw = lit(zCrit) / sqrt(fv)
    folded.crossJoin(broadcast(tot))
      .select(col("__n1__").as("n_treated"),
        col("__n0__").as("n_control"),
        coalesce(col("o1"), lit(0L)).as("o1"), round(fe1, 6).as("e1"),
        coalesce(col("o0"), lit(0L)).as("o0"), round(fe0, 6).as("e0"),
        when(ok, round(hr, 6)).as("hazard_ratio"),
        when(ok && fv > 0, round(exp(lnCenter - hw), 6)).as("hr_lo"),
        when(ok && fv > 0, round(exp(lnCenter + hw), 6)).as("hr_hi"))
  }

  /** Mann–Kendall trend test per key — the nonparametric companion to
    * [[trend]]'s OLS slope (OLS asks "what is the line"; MK asks "is
    * there a MONOTONIC drift at all", immune to outlier magnitude and
    * to any monotone transform of the value):
    * `S = Σ_{x_i<x_j} sign(y_j − y_i)` over all time-ordered pairs,
    * with the classic tie-corrected variance
    * `Var·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)` and the ±1
    * continuity-corrected normal verdict decided by the integer
    * cross-multiplication `(|S|−1)²·18·1e6 ≥ zc²·1e6·Var·18` in
    * decimal(38,0) — no float can flip a borderline call.
    *
    * Input contract: ONE row per (key, x) — pre-aggregate the series
    * upstream (the [[acf]] densify posture); x and y must be integral.
    * Shape: a per-key self equi-join with `x1 < x2` generates the
    * pairs — O(span²) per key like [[acf]], bounded by the SERIES
    * length (days/hours per key), never the event count; the tie term
    * is one partial-aggregable (key, y) histogram. Returns
    * (key, n, s, var18, rising, significant) — `rising` null when
    * S = 0. */
  def mannKendall(df: DataFrame, keyCol: String, xCol: String,
      yCol: String, zCrit: Double = 1.96): DataFrame = {
    Seq(xCol, yCol).foreach(
      graft.ops.Profiling.requireIntegral(df, _, "mannKendall"))
    val zc2Micro = math.round(zCrit * zCrit * 1e6)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val series = df.select(col(keyCol).as("__k__"),
      col(xCol).cast("long").as("__x__"),
      col(yCol).cast("long").as("__y__"))
    val a = series.alias("a")
    val b = series.alias("b")
    val pairs = a.join(b, col("a.__k__") === col("b.__k__") &&
        col("a.__x__") < col("b.__x__"))
      .groupBy(col("a.__k__").as("__k__"))
      .agg(sum(signum(col("b.__y__") - col("a.__y__")).cast("long"))
        .as("s"))
    val perKey = series.groupBy(col("__k__"))
      .agg(count(lit(1)).as("n"))
    val t = col("__t__")
    val ties = series.groupBy(col("__k__"), col("__y__"))
      .agg(count(lit(1)).as("__t__"))
      .groupBy(col("__k__"))
      .agg(sum(t * (t - 1) * (lit(2) * t + 5)).as("__ties__"))
    val n = col("n")
    def d(c: Column) = c.cast(dec)
    val var18 = d(n) * d(n - 1) * d(lit(2) * n + 5) -
      d(coalesce(col("__ties__"), lit(0L)))
    val sAbs = abs(coalesce(col("s"), lit(0L)))
    val lhs = d(sAbs - 1) * d(sAbs - 1) * lit(18L) * lit(1000000L)
    val rhs = lit(zc2Micro) * var18
    perKey.join(pairs, Seq("__k__"), "left")
      .join(ties, Seq("__k__"), "left")
      .select(col("__k__").as(keyCol), n,
        coalesce(col("s"), lit(0L)).as("s"),
        var18.cast("long").as("var18"),
        when(coalesce(col("s"), lit(0L)) =!= 0,
          coalesce(col("s"), lit(0L)) > 0).as("rising"),
        when(sAbs >= 1 && var18 > 0, lhs >= rhs)
          .otherwise(lit(false)).as("significant"))
  }

  /** Difference-in-differences readout — the causal workhorse when a
    * change launched WITHOUT randomization (a policy flipped for one
    * cohort at time T): the treatment group's pre→post mean shift minus
    * the control group's, which cancels any time trend both groups
    * share. `did = (m_t1 − m_t0) − (m_c1 − m_c0)`, with the four cell
    * moments (n, Σv, Σv²) exact integers (decimal(38,0), the
    * [[graft.ops.Profiling.welchTTest]] discipline) and the large-n
    * normal verdict `did² / Σ_cells s_i²/n_i ≥ zc²` assembled in
    * doubles FROM those moments — the oracle replays the identical
    * tree, so the verdict is engine-identical.
    *
    * Shape: ONE partial-aggregable groupBy collapses the log to the
    * four (variant, period) cells, which pivot through a single-row
    * broadcast. Requires an integral value column. Returns one row:
    * per-cell n and mean, did (round 6), significant (null when any
    * cell has n ≤ 1 or all four cells are constant). */
  def diffInDiff(df: DataFrame, variantCol: String, postCol: String,
      valueCol: String, treatment: String, control: String,
      zCrit: Double = 1.96): DataFrame = {
    graft.ops.Profiling.requireIntegral(df, valueCol, "diffInDiff")
    val zc2Micro = math.round(zCrit * zCrit * 1e6)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    def dd(c: Column) = c.cast(dec)
    val v = col(valueCol).cast("long")
    def cell(variant: String, post: Boolean, tag: String) = Seq(
      sum(when(col(variantCol) === variant &&
        col(postCol) === post, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(col(variantCol) === variant && col(postCol) === post,
        dd(v)).otherwise(dd(lit(0L)))).as(s"__s_$tag"),
      sum(when(col(variantCol) === variant && col(postCol) === post,
        dd(v) * dd(v)).otherwise(dd(lit(0L)))).as(s"__q_$tag"))
    val aggs = cell(treatment, post = false, "t0") ++
      cell(treatment, post = true, "t1") ++
      cell(control, post = false, "c0") ++
      cell(control, post = true, "c1")
    val m = df.filter(col(valueCol).isNotNull &&
        col(variantCol).isin(treatment, control))
      .agg(aggs.head, aggs.tail: _*)
    // try_divide, not `/`: ANSI Spark throws DIVIDE_BY_ZERO even for
    // doubles, and an EMPTY cell (n = 0) is a legitimate input —
    // null means, null verdict, never a killed job
    def mean(tag: String) =
      try_divide(col(s"__s_$tag").cast("double"),
        col(s"n_$tag").cast("double"))
    // s²/n = (nQ − S²) / (n²(n−1)) per cell, in doubles from the
    // exact moments (the rank-sum/Welch determinism discipline)
    def vn(tag: String) =
      try_divide((dd(col(s"n_$tag")) * col(s"__q_$tag") -
        col(s"__s_$tag") * col(s"__s_$tag")).cast("double"),
        col(s"n_$tag").cast("double") * col(s"n_$tag").cast("double") *
          (col(s"n_$tag") - 1).cast("double"))
    def ssPos(tag: String) =
      dd(col(s"n_$tag")) * col(s"__q_$tag") -
        col(s"__s_$tag") * col(s"__s_$tag")
    val did = mean("t1") - mean("t0") - (mean("c1") - mean("c0"))
    val varD = vn("t1") + vn("t0") + vn("c1") + vn("c0")
    val allCells = Seq("t0", "t1", "c0", "c1")
    val anyVar = allCells.map(tag => ssPos(tag) > 0).reduce(_ || _)
    val allBig = allCells.map(tag => col(s"n_$tag") > 1).reduce(_ && _)
    m.select(
      col("n_t0"), col("n_t1"), col("n_c0"), col("n_c1"),
      round(mean("t0"), 6).as("mean_t0"),
      round(mean("t1"), 6).as("mean_t1"),
      round(mean("c0"), 6).as("mean_c0"),
      round(mean("c1"), 6).as("mean_c1"),
      round(did, 6).as("did"),
      when(allBig && anyVar,
        try_divide(did * did, varD) * lit(1000000.0) >=
          lit(zc2Micro.toDouble))
        .as("significant"))
  }

  /** Forecast-accuracy scorecard per key — MAE, sMAPE and MASE of a
    * forecast column against actuals. MASE (Hyndman–Koehler 2006)
    * scales the model's MAE by the in-sample seasonal-naïve MAE
    * (|a_t − a_{t−season}|), so "MASE < 1 beats the naïve forecast"
    * reads identically across series of any magnitude — the
    * scale-free number a forecast-QA gate should alarm on (raw MAE
    * can't compare a views series to a revenue series).
    *
    * Exactness: absolute errors are exact integers; each row's sMAPE
    * term quantizes to the exact integer division
    * `2·10⁶·|a−f| div (|a|+|f|)` BEFORE summing (the
    * [[graft.ops.Profiling.offPolicyValue]] posture — order-free exact
    * sums), and the final ratios are single divisions rounded to 6.
    *
    * Input contract: ONE row per (key, t) on an integral time grid
    * (pre-aggregate upstream — the [[acf]]/[[mannKendall]] posture).
    * Shape: one per-key (t → t−season) equi self-join for the naïve
    * error + one partial-aggregable collapse; no windows, no explode.
    * Returns `(key, n, mae, smape, n_naive, mase)` — mase null when
    * the naïve MAE is 0 (constant/short series). */
  def forecastAccuracy(df: DataFrame, keyCol: String, tCol: String,
      actualCol: String, forecastCol: String, season: Int = 1)
      : DataFrame = {
    require(season >= 1, s"season must be >= 1; got $season")
    Seq(tCol, actualCol, forecastCol).foreach(
      graft.ops.Profiling.requireIntegral(df, _, "forecastAccuracy"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.select(col(keyCol).as("__k__"),
      col(tCol).cast("long").as("__t__"),
      col(actualCol).cast("long").as("__a__"),
      col(forecastCol).cast("long").as("__f__"))
    val err = abs(col("__a__") - col("__f__"))
    val denom = abs(col("__a__")) + abs(col("__f__"))
    val smapeTerm = when(denom > 0,
      expr("(2000000L * abs(__a__ - __f__)) div " +
        "(abs(__a__) + abs(__f__))")).otherwise(lit(0L))
    val per = base.groupBy(col("__k__"))
      .agg(count(lit(1)).as("n"), sum(dec(err)).as("__se__"),
        sum(smapeTerm).as("__ss__"))
    val naive = base.select(col("__k__"),
        (col("__t__") + season).as("__t__"), col("__a__").as("__prev__"))
      .join(base.select(col("__k__"), col("__t__"), col("__a__")),
        Seq("__k__", "__t__"))
      .groupBy(col("__k__"))
      .agg(count(lit(1)).as("n_naive"),
        sum(dec(abs(col("__a__") - col("__prev__")))).as("__sn__"))
    val mae = col("__se__").cast("double") / col("n").cast("double")
    per.join(naive, Seq("__k__"), "left")
      .select(col("__k__").as(keyCol), col("n"),
        round(mae, 6).as("mae"),
        round(col("__ss__").cast("double") /
          (col("n").cast("double") * 1000000.0), 6).as("smape"),
        coalesce(col("n_naive"), lit(0L)).as("n_naive"),
        when(col("n_naive") > 0 && col("__sn__") > 0,
          round(mae / (col("__sn__").cast("double") /
            col("n_naive").cast("double")), 6)).as("mase"))
  }

  /** Ljung–Box portmanteau test per key — "are these residuals white
    * noise?": `Q = n(n+2)·Σ_{k=1..L} ρ̂_k²/(n−k)` against χ²(L), the
    * standard residual-diagnostics gate after a fit ([[trend]],
    * [[ewma]]) and a seasonality detector in its own right
    * ([[acf]] shows the correlogram; this is its single-number test).
    *
    * Exactness: with S = Σx, Q₀ = Σx², the mean-centered
    * autocovariances scale to exact decimals —
    * `n²·c_k = n²·Σx_i x_{i+k} − n·S·(Σ_head + Σ_tail) + m_k·S²` and
    * `n²·c₀ = n²·Q₀ − n·S²` — so ρ̂_k = (n²c_k)/(n²c₀) is one double
    * division of exact integers per lag, and the Q fold runs in lag
    * order on both engines ([[graft.ops.Profiling.kruskalWallis]]
    * discipline). Verdict: `Q·1e6 ≥ crit(L)·1e6`, crit from
    * [[graft.ops.Profiling.chi2Crit95]] by default.
    *
    * Input contract: ONE row per (key, t) on a DENSE integral grid
    * (zero-fill with [[densify]] first — a gap would silently shorten
    * m_k and bias ρ̂ toward 0). Shape: one lag-exploded equi self-join
    * on (key, t+k) — O(L·n) rows, L ≤ 30 — plus one moment collapse;
    * windows never touch row-scale data. Returns
    * `(key, n, q_stat, significant)`, null verdict when n ≤ L or the
    * series is constant (c₀ = 0). */
  def ljungBox(df: DataFrame, keyCol: String, tCol: String,
      valueCol: String, maxLag: Int,
      critByDf: Map[Int, Double] = graft.ops.Profiling.chi2Crit95)
      : DataFrame = {
    require(maxLag >= 1 && maxLag <= 30,
      s"maxLag must be in [1, 30]; got $maxLag")
    val crit = critByDf.get(maxLag)
    Seq(tCol, valueCol).foreach(
      graft.ops.Profiling.requireIntegral(df, _, "ljungBox"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.select(col(keyCol).as("__k__"),
      col(tCol).cast("long").as("__t__"),
      col(valueCol).cast("long").as("__x__"))
    val mom = base.groupBy(col("__k__"))
      .agg(count(lit(1)).as("n"), sum(dec(col("__x__"))).as("__s__"),
        sum(dec(col("__x__")) * dec(col("__x__"))).as("__q0__"))
    val lags = explode(array((1 to maxLag).map(k => lit(k.toLong)): _*))
    val head = base.select(col("__k__"), col("__t__"),
      col("__x__").as("__xa__"), lags.as("__lag__"))
      .withColumn("__t__", col("__t__") + col("__lag__"))
    val joined = head.join(
      base.select(col("__k__"), col("__t__"), col("__x__").as("__xb__")),
      Seq("__k__", "__t__"))
    val perLag = joined.groupBy(col("__k__"), col("__lag__"))
      .agg(count(lit(1)).as("__m__"),
        sum(dec(col("__xa__")) * dec(col("__xb__"))).as("__sxy__"),
        sum(dec(col("__xa__"))).as("__sa__"),
        sum(dec(col("__xb__"))).as("__sb__"))
    val withMom = perLag.join(mom, Seq("__k__"))
    val nn = dec(col("n"))
    val ck = nn * nn * col("__sxy__") -
      nn * col("__s__") * (col("__sa__") + col("__sb__")) +
      dec(col("__m__")) * col("__s__") * col("__s__")
    val c0 = nn * nn * col("__q0__") - nn * col("__s__") * col("__s__")
    val rho = try_divide(ck.cast("double"), c0.cast("double"))
    val term = when(col("n") - col("__lag__") > 0,
      try_divide(rho * rho, (col("n") - col("__lag__")).cast("double")))
      .otherwise(lit(null).cast("double"))
    val folded = withMom
      .select(col("__k__"), col("n"), col("__lag__"), (c0 > 0).as("__v__"),
        term.as("__term__"))
      .groupBy(col("__k__"), col("n"))
      .agg(min(col("__v__")).as("__var__"),
        count(col("__term__")).as("__nlags__"),
        aggregate(
          sort_array(collect_list(struct(col("__lag__").as("k"),
            col("__term__").as("tm")))),
          lit(0.0), (a, x) => a + coalesce(x("tm"), lit(0.0)))
          .as("__sum__"))
    val q = col("n").cast("double") * (col("n") + 2).cast("double") *
      col("__sum__")
    val ok = col("__var__") && col("n") > maxLag &&
      col("__nlags__") === maxLag
    folded.select(col("__k__").as(keyCol), col("n"),
      when(ok, round(q, 6)).as("q_stat"),
      crit.map(c => when(ok, q * lit(1000000.0) >=
          lit(math.round(c * 1e6).toDouble))
        .as("significant"))
        .getOrElse(lit(null).cast("boolean").as("significant")))
  }

  /** RFM segmentation — the classic customer-value grid (Hughes 1994):
    * per entity, Recency (time units since last event, vs the corpus
    * max timestamp), Frequency (event count) and Monetary (exact value
    * sum), each scored into `nTiles` quantile tiles with the exact
    * integer rule `tile = 1 + (usersBelow·nTiles) div totalUsers` —
    * ties share a tile, no float percentile, no RNG. The recency score
    * is INVERTED (recent = high) so `555` reads "best customer" per
    * the standard convention; `rfm_code = 100·r + 10·f + m`.
    *
    * Shape: one partial-aggregable per-user collapse, then three
    * histogram windows over the DISTINCT-value grids (recency is
    * span-bounded, frequency/monetary grids are value-quantization
    * bounded — never a global sort of the user table) joined back by
    * value. Returns `(user, recency, frequency, monetary, r_score,
    * f_score, m_score, rfm_code)`. */
  def rfm(df: DataFrame, userCol: String, tsCol: String,
      valueCol: String, nTiles: Int = 5): DataFrame = {
    require(nTiles >= 2 && nTiles <= 9,
      s"nTiles must be in [2, 9]; got $nTiles")
    Seq(tsCol, valueCol).foreach(
      graft.ops.Profiling.requireIntegral(df, _, "rfm"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val per = df.groupBy(col(userCol).as("__u__"))
      .agg(max(col(tsCol).cast("long")).as("__last__"),
        count(lit(1)).as("frequency"),
        sum(dec(col(valueCol))).as("__mv__"))
    val tot = per.agg(count(lit(1)).as("__tot__"),
      max(col("__last__")).as("__gmax__"))
    val u = per.crossJoin(broadcast(tot))
      .select(col("__u__"), col("__tot__"),
        (col("__gmax__") - col("__last__")).as("recency"),
        col("frequency"), col("__mv__").cast("long").as("monetary"))
    def tiles(c: String, out: String): DataFrame = {
      val h = u.groupBy(col(c)).agg(count(lit(1)).as("__c__"),
        first(col("__tot__")).as("__t__"))
      val w = Window.orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, -1)
      h.withColumn("__cb__", coalesce(sum(col("__c__")).over(w), lit(0L)))
        .select(col(c),
          (lit(1L) + expr(s"(__cb__ * ${nTiles}L) div __t__")).as(out))
    }
    u.join(tiles("recency", "__rt__"), Seq("recency"))
      .join(tiles("frequency", "__ft__"), Seq("frequency"))
      .join(tiles("monetary", "__mt__"), Seq("monetary"))
      .select(col("__u__").as(userCol), col("recency"), col("frequency"),
        col("monetary"),
        (lit((nTiles + 1).toLong) - col("__rt__")).as("r_score"),
        col("__ft__").as("f_score"), col("__mt__").as("m_score"),
        ((lit((nTiles + 1).toLong) - col("__rt__")) * 100L +
          col("__ft__") * 10L + col("__mt__")).as("rfm_code"))
  }

  /** Item-item co-occurrence similarity — the classic "users who touched
    * A also touched B" recommender (Sarwar et al., WWW'01 item-based CF)
    * from an interaction log. Per ordered item pair:
    * `n_co` (distinct users touching both) and the squared-cosine score
    * `cos2_micro = n_co²·1e6 div (d_a·d_b)` — squaring keeps the score
    * an EXACT integer (cosine itself needs √(d_a·d_b); ranking by cos²
    * is order-identical since all terms are positive). Each item keeps
    * its `topK` neighbors by (cos2, n_co, neighbor id) — a total order.
    *
    * Scale shape: the pair explode is Σ_u k_u² over each user's
    * distinct-item count k_u — one bot user with 10⁶ items would emit
    * 10¹² pairs, so users with more than `maxItemsPerUser` distinct
    * items are dropped BEFORE the self-join (surfaced in the contract;
    * such accounts are catalog crawlers, not preference signal). The
    * top-k filter windows over the aggregated item-pair table (bounded
    * by co-occurring pairs, never raw events). */
  def itemCooccurrence(df: DataFrame, userCol: String, itemCol: String,
      topK: Int = 10, maxItemsPerUser: Long = 1000L): DataFrame = {
    require(topK > 0 && maxItemsPerUser > 0,
      s"topK and maxItemsPerUser must be > 0; got $topK, $maxItemsPerUser")
    val ui = df.select(col(userCol).cast("long").as("__u__"),
      col(itemCol).cast("long").as("__i__")).distinct()
    val kept = Caches.registerDf(
      ui.join(ui.groupBy("__u__").agg(count(lit(1)).as("__k__"))
          .filter(col("__k__") <= maxItemsPerUser)
          .select("__u__"),
        Seq("__u__"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val deg = kept.groupBy(col("__i__")).agg(count(lit(1)).as("__d__"))
    val pairs = kept.select(col("__u__"), col("__i__").as("__a__"))
      .join(kept.select(col("__u__"), col("__i__").as("__b__")), "__u__")
      .filter(col("__a__") < col("__b__"))
      .groupBy(col("__a__"), col("__b__"))
      .agg(count(lit(1)).as("n_co"))
    val sym = pairs.union(
      pairs.select(col("__b__").as("__a__"), col("__a__").as("__b__"),
        col("n_co")))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val scored = sym
      .join(deg.select(col("__i__").as("__a__"), col("__d__").as("__da__")),
        "__a__")
      .join(deg.select(col("__i__").as("__b__"), col("__d__").as("__db__")),
        "__b__")
      .select(col("__a__").as("item"), col("__b__").as("neighbor"),
        col("n_co"),
        (dec(col("n_co")) * dec(col("n_co")) * lit(1000000L))
          .as("__num__"),
        (dec(col("__da__")) * dec(col("__db__"))).as("__den__"))
      // IntegralDivide on the exact decimals truncates like DuckDB's //
      .select(col("item"), col("neighbor"), col("n_co"),
        expr("__num__ div __den__").as("cos2_micro"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("item"))
      .orderBy(col("cos2_micro").desc, col("n_co").desc, col("neighbor"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }
}
