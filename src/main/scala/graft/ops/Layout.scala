package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Physical-layout operators: multi-dimensional clustering for
  * min/max data skipping. A 100 TB table is read thousands of times per
  * write; laying files out so that point/range predicates on MULTIPLE
  * columns prune at the file-footer level (parquet min/max) is the
  * storage-side twin of predicate pushdown — the Delta/Iceberg Z-ORDER
  * technique, built here from public primitives: a Morton-interleave
  * expression + `repartitionByRange`.
  */
object Layout {

  /** Z-order (Morton) value of two non-negative coordinates: low 31 bits
    * of each, bit-interleaved (codegen'd
    * [[graft.functions.ZOrder2Expr]]). Rows close in BOTH dimensions get
    * close z values — range-partitioning by z therefore gives every file
    * a compact bounding box in (a, b) space, so parquet min/max footers
    * prune files for predicates on EITHER column. */
  def zorderValue(a: Column, b: Column): Column =
    graft.functions.NativeHashes.zorder2(a, b)

  /** Write `df` z-ordered on (`colA`, `colB`) into `nFiles` range
    * partitions: one pass, one range exchange (sampled boundaries — no
    * global sort), parquet footers then carry tight min/max for BOTH
    * columns per file. The z column itself is persisted too, so later
    * readers can push `z BETWEEN lo AND hi` for rectangle queries. */
  def zorderWrite(df: DataFrame, colA: String, colB: String,
      path: String, nFiles: Int, zCol: String = "__z__"): Unit =
    df.withColumn(zCol, zorderValue(col(colA), col(colB)))
      .repartitionByRange(nFiles, col(zCol))
      .sortWithinPartitions(col(zCol))
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Write `df` bucketed by `keyCol` into `nBuckets` buckets as managed
    * table `table` (Spark's hash-bucketing layout: file N holds exactly
    * the rows with `pmod(hash(key), nBuckets) = N`, recorded in the
    * catalog). Two tables bucketed the SAME way join (and aggregate)
    * with ZERO exchange — the shuffle is paid ONCE at write time and
    * amortized over every subsequent join, the co-located-join strategy
    * for fact tables that join on the same key daily at 100 TB.
    * `sortBy` the key too, so the join's sort is also pre-paid
    * per-bucket. LayoutSpec asserts the bucketed self/pair join plans
    * carry NO Exchange while the plain-parquet twin carries two. */
  def bucketWrite(df: DataFrame, keyCol: String, nBuckets: Int,
      table: String): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = df.sparkSession
    // an in-memory catalog forgets tables across sessions but leaves the
    // managed location on disk; the next CREATE then fails with
    // LOCATION_ALREADY_EXISTS — drop both the entry and any stale dir
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, keyCol).sortBy(keyCol)
      .format("parquet").saveAsTable(table)
  }

  /** Per-file (min, max) manifest of `cols` for the parquet table at
    * `path` — the stats table Delta/Iceberg persist at write time so a
    * reader can prune FILES before any scan task launches. Built with
    * one distributed pass grouped on `_metadata.file_path` (partial
    * min/max aggregate per file); on a table written by [[zorderWrite]]
    * the boxes are tight in both dimensions, which is the whole point of
    * the z-order layout. Collect it once per write and persist next to
    * the data, like the table formats do. */
  def manifest(spark: org.apache.spark.sql.SparkSession, path: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "manifest needs at least one column")
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(path)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Small-file compaction planner — the answer to the small-file
    * problem a long-lived 100 TB table accumulates (every incremental
    * write adds files; scan cost grows with FILE COUNT, not bytes, once
    * files are small). Files of `sizeCol` < `targetBytes` are grouped
    * into contiguous rewrite groups of ≈ target total size by
    * cumulative-size quantization in `fileCol` order:
    * `grp = floor(exclusive-prefix-sum / target)` — deterministic,
    * single-pass, and every group except possibly the last lands in
    * [target, 2·target) bytes. Files already ≥ target are left alone
    * (grp NULL, their own row). Returns one row per file:
    * (file, size, grp, grp_files, grp_bytes) — a rewrite job per grp.
    *
    * Scale shape: the global-order window runs on the MANIFEST, which is
    * metadata-sized (10⁵–10⁶ rows for a 100 TB table) — the same
    * driver-adjacent posture as [[manifest]]/[[prunedFiles]]; the data
    * itself is never touched. */
  def compactionPlan(manifestDf: DataFrame, fileCol: String,
      sizeCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(fileCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val small = manifestDf.filter(col(sizeCol) < targetBytes)
      .withColumn("__pre__",
        coalesce(sum(col(sizeCol)).over(w), lit(0L)))
      .withColumn("grp",
        floor(col("__pre__").cast("double") /
          lit(targetBytes).cast("double")).cast("long"))
      .drop("__pre__")
    val perGrp = small.groupBy(col("grp"))
      .agg(count(lit(1)).as("grp_files"), sum(col(sizeCol)).as("grp_bytes"))
    val smallOut = small.join(broadcast(perGrp), Seq("grp"))
      .select(col(fileCol), col(sizeCol), col("grp"),
        col("grp_files"), col("grp_bytes"))
    val bigOut = manifestDf.filter(col(sizeCol) >= targetBytes)
      .select(col(fileCol), col(sizeCol),
        lit(null).cast("long").as("grp"),
        lit(1L).as("grp_files"), col(sizeCol).cast("long").as("grp_bytes"))
    smallOut.unionAll(bigOut)
  }

  /** Manifest-pruned closed-range read: list the files whose `[min, max]`
    * box overlaps EVERY requested `col -> (lo, hi)` range (driver-side
    * decision over the kilobyte-sized manifest), then scan ONLY those
    * files and apply the exact predicate. Semantically identical to
    * filtering the full table — pruning can only drop files that contain
    * no qualifying rows — but the scan's task count shrinks with the
    * selectivity, BEFORE parquet row-group statistics even come into
    * play: at 100 TB this is the difference between launching a thousand
    * tasks and launching six. Returns the filtered DataFrame; the number
    * of surviving files is `prunedFiles(...).length`. */
  def prunedRead(spark: org.apache.spark.sql.SparkSession, path: String,
      manifestDf: DataFrame, ranges: Map[String, (Long, Long)]): DataFrame = {
    val files = prunedFiles(manifestDf, ranges)
    val base =
      if (files.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(files: _*)
    ranges.toSeq.sortBy(_._1).foldLeft(base) { case (df, (c, (lo, hi))) =>
      df.filter(col(c) >= lo && col(c) <= hi)
    }
  }

  /** Clustering-quality audit over a manifest: are the per-file
    * `[min_c, max_c]` boxes DISJOINT in file order (the property that
    * makes footer pruning effective — overlapping boxes mean a point
    * predicate hits multiple files and the layout has decayed under
    * appends)? Orders files by (min_c, max_c, file) and counts, for each
    * file, the overlap with its predecessor's running max. Returns one
    * row per file: (file, min, max, prev_max, overlaps) plus the table
    * verdict columns n_overlapping and clustered (zero overlaps). The
    * window runs on the metadata-sized manifest — the [[manifest]]
    * posture; the data is never touched. */
  def sortOrderAudit(manifestDf: DataFrame, c: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("min_v").asc, col("max_v").asc, col("file").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val scored = manifestDf
      .select(col("file"), col(s"min_$c").cast("long").as("min_v"),
        col(s"max_$c").cast("long").as("max_v"))
      .withColumn("prev_max", max(col("max_v")).over(w))
      .withColumn("overlaps",
        col("prev_max").isNotNull && col("min_v") <= col("prev_max"))
    val verdict = scored.agg(
      sum(when(col("overlaps"), 1L).otherwise(0L)).as("n_overlapping"))
    scored.crossJoin(broadcast(verdict))
      .withColumn("clustered", col("n_overlapping") === 0)
  }

  /** The driver-side pruning decision of [[prunedRead]]: files whose
    * per-column boxes intersect all the ranges. */
  def prunedFiles(manifestDf: DataFrame,
      ranges: Map[String, (Long, Long)]): Seq[String] = {
    require(ranges.nonEmpty, "prunedRead needs at least one range")
    val keep = ranges.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
      col(s"max_$c") >= lo && col(s"min_$c") <= hi
    }.reduce(_ && _)
    manifestDf.filter(keep).select(col("file"))
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Snapshot-versioned table writes — the time-travel primitive a
    * reproducible training run needs ("train on corpus AS OF v12" after
    * v13 landed): each write appends an immutable `v=N` directory, never
    * rewriting history, and reads pin a version or resolve the latest.
    * The directory name IS the commit (atomic at the FS rename level the
    * same way a Delta log entry is); no compaction runs here —
    * [[manifest]]/[[prunedRead]] apply per snapshot unchanged.
    *
    * Returns the version number just written. */
  def snapshotWrite(df: DataFrame, basePath: String): Int = {
    // number PAST any existing v= dir, committed or torn — a writer that
    // died mid-flight must not block (or be silently overwritten by)
    // the next commit
    val taken = Option(new java.io.File(basePath).listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toInt)
    val next = (taken :+ 0).max + 1
    df.write.mode("errorifexists").parquet(s"$basePath/v=$next")
    next
  }

  /** The committed versions under `basePath`, ascending. A `v=N`
    * directory counts as committed once its `_SUCCESS` marker exists —
    * a write that died mid-flight is invisible to readers. */
  def snapshotVersions(spark: org.apache.spark.sql.SparkSession,
      basePath: String): Seq[Int] = {
    val base = new java.io.File(basePath)
    Option(base.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v=") &&
        new java.io.File(f, "_SUCCESS").exists())
      .map(_.getName.stripPrefix("v=").toInt).sorted
  }

  /** Read a pinned snapshot (or the latest when `version` is None). */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession,
      basePath: String, version: Option[Int] = None): DataFrame = {
    val vs = snapshotVersions(spark, basePath)
    require(vs.nonEmpty, s"no committed snapshots under $basePath")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"unknown snapshot v=$v (have $vs)")
    spark.read.parquet(s"$basePath/v=$v")
  }

  /** Rendezvous (highest-random-weight) shard of a string key: the
    * STABLE alternative to `hash(key) mod n` for incremental corpus
    * layouts — growing `nShards` by one reassigns only ~1/(n+1) of the
    * keys (exactly the keys whose new shard wins the weight race), where
    * mod-n reshuffles almost everything and invalidates every
    * shard-local structure (bloom filters, dedup indexes, bucketed
    * files) built so far.
    *
    * Weight of (key, s) is `mix(polyHash(key + "#" + s))·64 + s`, where
    * `mix(h) = ((h² mod P)² mod P)` — the raw rolling hash is AFFINE in
    * the suffix character (`h = prefix·131 + c mod P`), so without the
    * nonlinear finisher the weights are ORDERED by shard index and every
    * key lands on the last shard; two modular squarings decorrelate them
    * (measured: uniform shard fill, 1/(n+1) movement on growth). The
    * `+ s` makes weights DISTINCT across shards, so the argmax needs no
    * tie-break rule to be engine-independent (mix(h) < 2³⁰, the ·64
    * shift cannot overflow). Pure per-row arithmetic inside codegen:
    * no shuffle, no lookup table, nothing to coordinate across 1000
    * executors. `nShards ≤ 64` guards the shift; the per-row cost is
    * O(nShards) hashes, so this is the layout-assignment primitive, not
    * a 10⁶-way partitioner. */
  def rendezvousShard(key: Column, nShards: Int): Column = {
    require(nShards >= 1 && nShards <= 64,
      s"nShards in [1, 64] (weight packing reserves 6 bits), got $nShards")
    val P = graft.functions.HashImpls.P
    aggregate(
      org.apache.spark.sql.functions.sequence(lit(0), lit(nShards - 1)),
      lit(Long.MinValue),
      (acc, s) => {
        val h = graft.functions.NativeHashes.poly_hash(
          concat(key, lit("#"), s.cast("string")))
        val h2 = (h * h) % P
        greatest(acc, ((h2 * h2) % P) * 64 + s)
      }) % 64
  }
}
