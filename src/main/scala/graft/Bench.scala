package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Headline benchmark over the query catalog.
  *
  * Contention-aware since round 7: the round-6 driver artifact showed
  * per-pass spreads up to 107x on the same query in the same JVM —
  * machine contention, not plan changes. A bench artifact must carry
  * enough evidence to DIAGNOSE that from the artifact alone, so each
  * pass now records
  *   - a fixed CPU-bound calibration time (same work every pass; any
  *     spread is the host, not the queries), and
  *   - /proc/loadavg at pass start.
  * Passes whose calibration exceeds 2x the best pass are contaminated.
  * Since r12 they are REPLACED, not merely flagged: extra full passes run
  * until `passes` clean ones exist, then the contaminated passes' samples
  * are dropped from the evidence and recorded (pass number + calibration)
  * under `dropped_contaminated_passes` — the artifact stays certifiable
  * AND visibly honest about the noise. Only when the retry budget runs
  * out do contaminated passes remain in the data, flagged in
  * `contaminated_passes` as before.
  */
object Bench {
  /** Fixed CPU-bound probe: ~100M multiply-adds through the same
    * whole-stage-codegen path the real queries use. Identical work every
    * time, no IO, so its per-pass time is a pure host-contention meter. */
  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    // mod keeps every intermediate well inside Long under ANSI mode:
    // id*2654435761 < 2.7e17 and the 1e8-term sum of <1e9 values < 1e17
    spark.range(0, 100000000L, 1, 8)
      .selectExpr("sum((id * 2654435761) % 1000000007) as s").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Stable fingerprint of the FINAL (post-AQE) physical plan. Enables
    * instant regression triage from the artifacts alone: identical
    * fingerprint + slower wall = environment; changed fingerprint = plan
    * regression. Expression IDs, plan ids, object addresses, JVM
    * hidden-class lambda names, higher-order-function variable counters,
    * AQE query-stage numbers and codegen stage ids are session-assigned
    * noise — normalized out so the same logical plan fingerprints
    * identically across JVMs and rounds.
    *
    * Canonicalized since r12 (the r11 artifact showed 7 fingerprints
    * flipping run-to-run): the text is built by a tree WALK rather than
    * `toString`, which lets structural noise be removed —
    *   - QueryStage wrappers are unwrapped to their materialized plans
    *     (stage NUMBERING follows materialization order),
    *   - ReusedExchange resolves to the exchange it reuses (reuse is a
    *     timing-dependent pick between equivalent plans), and
    *   - a BroadcastHashJoin's build-side token AND the position of its
    *     BroadcastExchange wrapper are neutralized: AQE flips
    *     BuildLeft/BuildRight on tiny symmetric joins by
    *     stage-completion order (q30's two 3-row aggregate sides),
    *     moving the exchange from one child to the other — equivalent
    *     executions, one fingerprint. A REAL strategy change (SMJ↔BHJ,
    *     different subtrees, a new shuffle) still changes the print. */
  private[graft] def planFingerprint(df: DataFrame): String = {
    val norm = planFingerprintText(df)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(norm.getBytes("UTF-8"))
    md.take(6).map(b => f"$b%02x").mkString
  }

  /** The normalized text [[planFingerprint]] hashes — exposed so a
    * changed fingerprint can be diffed directly
    * (SPARK_GRAFT_BENCH_DUMP_PLANS writes it beside the raw plan). */
  private[graft] def planFingerprintText(df: DataFrame): String = {
    import org.apache.spark.sql.execution.{InputAdapter, SortExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    def nodeText(p: SparkPlan): String = p.simpleString(25)
      .replaceAll("BuildLeft|BuildRight", "BuildSide")
    // under an EQUI-JOIN, the child-side machinery (broadcast vs
    // shuffle+sort, stage wrappers, AQE reads) is the runtime STRATEGY,
    // not the logical shape — strip it all so SMJ/BHJ/SHJ variants of
    // the same join print identically (AQE flips between them when a
    // build-side estimate straddles the broadcast threshold; q293's
    // vocab-sized duel table is the observed case)
    def unwrapJoinChild(p: SparkPlan): SparkPlan = p match {
      case q: QueryStageExec => unwrapJoinChild(q.plan)
      case r: ReusedExchangeExec => unwrapJoinChild(r.child)
      case w: WholeStageCodegenExec => unwrapJoinChild(w.child)
      case i: InputAdapter => unwrapJoinChild(i.child)
      case e: BroadcastExchangeExec => unwrapJoinChild(e.child)
      case e: ShuffleExchangeExec => unwrapJoinChild(e.child)
      case s: SortExec => unwrapJoinChild(s.child)
      case a: AQEShuffleReadExec => unwrapJoinChild(a.child)
      case other => other
    }
    val sb = new StringBuilder
    def walk(p: SparkPlan, depth: Int): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth)
      case q: QueryStageExec => walk(q.plan, depth)
      case r: ReusedExchangeExec => walk(r.child, depth)
      // codegen-region wrappers carry a timing-order id ("WholeStage-
      // Codegen (7)") and no semantics of their own — unwrap both
      case w: WholeStageCodegenExec => walk(w.child, depth)
      case i: InputAdapter => walk(i.child, depth)
      // exchanges are TRANSPARENT: their placement is a consequence of
      // the physical strategy picks AQE legitimately varies at runtime
      // (a bistable broadcast-threshold join adds/removes required
      // hash exchanges ABOVE itself too — q293). The optimized logical
      // plan has no exchanges either; shuffle-cost regressions are
      // wall-time's and ScaleStress's job to catch.
      case e: ShuffleExchangeExec => walk(e.child, depth)
      case e: BroadcastExchangeExec => walk(e.child, depth)
      case a: AQEShuffleReadExec => walk(a.child, depth)
      // equi-joins print a STRATEGY-NEUTRAL head (keys, type,
      // condition): which physical join AQE picked is wall-time's job
      // to report, not the fingerprint's — a bistable threshold pick
      // must not read as a plan regression
      case j @ (_: SortMergeJoinExec | _: ShuffledHashJoinExec |
          _: BroadcastHashJoinExec) =>
        val b = j.asInstanceOf[BaseJoinExec]
        sb.append("  " * depth).append(
          s"EquiJoin ${b.leftKeys.mkString("[", ", ", "]")}, " +
            s"${b.rightKeys.mkString("[", ", ", "]")}, ${b.joinType}, " +
            s"${b.condition}").append('\n')
        b.children.foreach(c => walk(unwrapJoinChild(c), depth + 1))
      case other =>
        sb.append("  " * depth).append(nodeText(other)).append('\n')
        other.children.foreach(walk(_, depth + 1))
    }
    walk(df.queryExecution.executedPlan, 0)
    normalizeFpText(sb.toString)
  }

  /** The session-noise regex chain shared by the primary (canonicalized)
    * and strict fingerprints: exprIds, lambda class names, stage/codegen
    * numbering, object addresses, snapshot versions, alias names.
    * `private[graft]` so PlanSpec can pin the canonicalization on
    * synthetic permuted plan texts (the run-to-run flips are too rare
    * to reproduce on demand — q103's took a full-catalog JVM). */
  private[graft] def normalizeFpText(raw: String): String = {
    val norm = raw
      // JVM hidden-class lambda names: Foo$$$Lambda$9529/0x00007f...@1a2b
      // — the index and address depend on class-LOAD ORDER, so the same
      // plan fingerprints differently between a subset run and a
      // full-catalog run without this
      .replaceAll("\\$+Lambda\\$?\\d*(/0x[0-9a-fA-F]+)?", "\\$\\$Lambda")
      // higher-order-function variables (lambda x_594#...) draw from a
      // session-global counter — same catalog position, different number
      .replaceAll("_\\d+#", "_#")
      .replaceAll("#\\d+L?", "#")         // exprId (incl. Long-suffixed)
      .replaceAll("plan_id=\\d+", "plan_id=")
      // AQE numbers query stages in MATERIALIZATION order and
      // whole-stage-codegen ids follow — both timing-dependent, the
      // operator tree is what matters
      .replaceAll("QueryStage \\d+", "QueryStage")
      .replaceAll("\\*\\(\\d+\\)", "*")
      .replaceAll("\\[id=\\d+\\]", "[id=]")   // codegen stage ids
      .replaceAll("@[0-9a-fA-F]{4,}", "@")    // object addresses
      .replaceAll("subquery\\d+", "subquery")
      .replaceAll("cte\\d+", "cte")
      .replaceAll(", \\d+ replicas\\)", ")")  // InMemoryRelation replica n
      // snapshot-versioned paths (Layout.snapshotWrite appends v=N per
      // run; the plan shape is identical across versions)
      .replaceAll("v=\\d+", "v=")
      // output alias NAMES: AQE exchange-reuse picks one of two
      // structurally-twin subtrees (a symmetric self-join's u-side vs
      // v-side) as the original run-to-run; the resolved subtree keeps
      // the ORIGINAL's aliases, so the same plan prints "AS u#" in one
      // run and "AS v#" in the next. Alias names are not plan shape
      // (renames are the correctness gate's job) — drop them.
      .replaceAll("AS [A-Za-z0-9_]+#", "AS #")
    // order-insensitive key/function segments: Catalyst's multi-
    // count_distinct rewrite (RewriteDistinctAggregates) enumerates the
    // distinct groups from expression-set iteration order, permuting
    // Expand projections, grouping keys and gid assignments run-to-run
    // (q307's __fa__/__fb__ pair is the observed case) — same plan,
    // shuffled lists. Sorting within those segments makes the print
    // permutation-proof without hiding content changes.
    norm.split("\n", -1).map(canonSegments).mkString("\n")
  }

  /** Sort top-level comma-separated tokens inside the order-arbitrary
    * segments of one plan line: `keys=[...]`, `functions=[...]`,
    * `hashpartitioning(...)`, and every top-level `[...]` group of an
    * `Expand` line (its gid assignments permute with the Catalyst
    * distinct-rewrite enumeration order). */
  private def canonSegments(line: String): String = {
    val opens = "([{"; val closes = ")]}"
    def sortSpan(str: String, start: Int): String = {
      var depth = 0; var i = start
      while (i < str.length) {
        val c = str(i)
        if (opens.indexOf(c) >= 0) depth += 1
        else if (closes.indexOf(c) >= 0) {
          depth -= 1
          if (depth == 0) {
            val inner = str.substring(start + 1, i)
            val parts = scala.collection.mutable.ArrayBuffer.empty[String]
            var d2 = 0; var last = 0
            var k = 0
            while (k < inner.length) {
              val ch = inner(k)
              if (opens.indexOf(ch) >= 0) d2 += 1
              else if (closes.indexOf(ch) >= 0) d2 -= 1
              else if (ch == ',' && d2 == 0) {
                parts += inner.substring(last, k); last = k + 1
              }
              k += 1
            }
            parts += inner.substring(last)
            return str.substring(0, start + 1) +
              parts.map(_.trim).sorted.mkString(", ") + str.substring(i)
          }
        }
        i += 1
      }
      str
    }
    var out = line
    // "key=[" (singular) is SortAggregate's print of the same grouping
    // list HashAggregate prints as "keys=[" — q103's multi-distinct
    // plans SortAggregate (string min/max buffers), and its
    // RewriteDistinctAggregates key permutation flipped the fingerprint
    // between same-code full-catalog runs until r13 added the marker
    for (marker <- Seq("keys=[", "key=[", "functions=[",
        "hashpartitioning(")) {
      var idx = out.indexOf(marker)
      while (idx >= 0) {
        out = sortSpan(out, idx + marker.length - 1)
        idx = out.indexOf(marker, idx + marker.length)
      }
    }
    // a gid-bearing Sort is the distinct-rewrite's INTERNAL sort: its
    // column order follows the same enumeration the key list does —
    // order-proof it. User-visible sorts (no gid column) keep their
    // order: sort priority is real plan shape there.
    if (out.trim.startsWith("Sort ") && out.contains("gid#")) {
      val idx = out.indexOf('[')
      if (idx >= 0) out = sortSpan(out, idx)
    }
    // the gid a distinct-group gets — and WHICH projection slot each
    // distinct column occupies — are enumeration-order artifacts
    // (RewriteDistinctAggregates): neutralize gid literals everywhere
    // and, on Expand lines, neutralize bare integer slots (Expand's
    // literals ARE the gids) and sort tokens inside EVERY bracket group
    // recursively, so both the row order and the column↔slot pairing
    // become order-proof (which columns appear, with what structure,
    // still distinguishes real changes)
    out = out.replaceAll("\\(gid# = \\d+\\)", "(gid# = N)")
    if (out.trim.startsWith("Expand")) {
      out = out.replaceAll("(?<=[\\[, ])\\d+(?=[,\\]])", "N")
      def sortRec(str: String): String = {
        // innermost-first: sort sub-brackets, then each [..] group's
        // top-level comma tokens
        val sb = new StringBuilder
        var i = 0
        while (i < str.length) {
          if (str(i) == '[') {
            var depth = 0; var j = i
            while (j < str.length && { val c = str(j)
              if (c == '[') depth += 1
              else if (c == ']') depth -= 1
              depth != 0 || c != ']' }) j += 1
            val inner = sortRec(str.substring(i + 1, j))
            val parts = scala.collection.mutable.ArrayBuffer.empty[String]
            var d2 = 0; var last = 0
            for (k <- 0 until inner.length) {
              val ch = inner(k)
              if (opens.indexOf(ch) >= 0) d2 += 1
              else if (closes.indexOf(ch) >= 0) d2 -= 1
              else if (ch == ',' && d2 == 0) {
                parts += inner.substring(last, k); last = k + 1
              }
            }
            parts += inner.substring(last)
            sb.append('[').append(parts.map(_.trim).sorted.mkString(", "))
              .append(']')
            i = j + 1
          } else { sb.append(str(i)); i += 1 }
        }
        sb.toString
      }
      out = sortRec(out)
    }
    out
  }

  private def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+").take(3).mkString(",")
      finally src.close()
    } catch { case _: Throwable => "" }

  /** Strict (pre-canonicalization) fingerprint of the final physical
    * plan: session-assigned noise (exprIds, lambda addresses, stage
    * numbers, codegen ids) is still normalized, but exchanges stay in
    * place and equi-joins keep their concrete strategy (SMJ/BHJ/SHJ) and
    * build side. The PRIMARY fingerprint intentionally neutralizes those
    * (AQE legitimately flips them run-to-run on bistable thresholds), so
    * a genuine strategy regression — an SMJ↔BHJ flip from a cardinality
    * bug, an added shuffle — no longer moves it; this secondary print
    * keeps that class diffable from the artifacts alone. Expect a few
    * strict flips per round on the known bistable queries (q30, q293):
    * strict CHANGED + primary SAME + flat wall = AQE doing its job;
    * strict CHANGED + slower wall = investigate. */
  private[graft] def planFingerprintTextStrict(df: DataFrame): String = {
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val sb = new StringBuilder
    def walk(p: SparkPlan, depth: Int): Unit = p match {
      // AQE wrappers and codegen regions carry timing-order ids only;
      // ReusedExchange is a timing-dependent pick between equivalent
      // subtrees — resolve it so strict flips mean strategy, not reuse
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth)
      case q: QueryStageExec => walk(q.plan, depth)
      case r: ReusedExchangeExec => walk(r.child, depth)
      case w: WholeStageCodegenExec => walk(w.child, depth)
      case i: InputAdapter => walk(i.child, depth)
      case other =>
        sb.append("  " * depth).append(other.simpleString(25)).append('\n')
        other.children.foreach(walk(_, depth + 1))
    }
    walk(df.queryExecution.executedPlan, 0)
    normalizeFpText(sb.toString)
  }

  private[graft] def planFingerprintStrict(df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(planFingerprintTextStrict(df).getBytes("UTF-8"))
    md.take(6).map(b => f"$b%02x").mkString
  }

  /** Per-pass JVM telemetry: total GC wall (ms, delta across the pass)
    * and the heap high-water (MB, peak-usage max over heap pools, reset
    * at pass start). An environment-band claim ("same plans, slower
    * wall") is evidence-backed when the artifact shows flat GC + flat
    * heap next to the drifted wall — and refuted when GC time exploded. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }
  private def resetHeapPeaks(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .foreach(p => try p.resetPeakUsage() catch { case _: Throwable => () })
  }
  private def heapPeakMb(): Long = {
    import scala.jdk.CollectionConverters._
    val peaks = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getPeakUsage).map(_.getUsed))
    if (peaks.isEmpty) 0L else peaks.sum / (1024L * 1024L)
  }

  /** A `plan_fp`-style map (query -> hex fingerprint) under `key` of a
    * bench artifact's text. */
  private def fpMapFrom(txt: String, key: String): Option[Map[String, String]] =
    ("\"" + key + "\":\\{([^}]*)\\}").r.findFirstMatchIn(txt)
      .map(_.group(1)).map { body =>
        "\"([^\"]+)\":\"([0-9a-f]*)\"".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2)).toMap
      }

  /** The plan-fingerprint baseline: `plan_fp` and `plan_fp_strict` of the
    * full-catalog `BENCH_local.json` in `dir`, this checkout's own last
    * pass; None when there is none. A committed `BENCH_rNN_local.json`
    * comes from another host and round, and a subset run's
    * `BENCH_local_subset.json` covers part of the catalog, so neither is
    * a baseline. */
  def planFpBaseline(dir: java.io.File)
      : Option[(Map[String, String], Map[String, String])] =
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "BENCH_local.json").toPath), "UTF-8")).toOption
      .flatMap(txt => fpMapFrom(txt, "plan_fp").map(primary =>
        (primary, fpMapFrom(txt, "plan_fp_strict").getOrElse(Map.empty[String, String]))))

  /** `plan_fp_diff` when the checkout has no baseline: nothing is diffed,
    * so no count is reported. */
  private val NoFpBaselineJson =
    """{"baseline":null,"note":"no BENCH_local.json in this checkout: plans not diffed"}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus)
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JIT/codegen/session init out of the measurements
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      calibrate(spark)
      SparkEntry.queries.get("q02_agg_summary").foreach(_(spark, sfDir).count())
    } catch { case _: Throwable => }
    // The materialization/format ROUND-TRIP gate queries (q34-q37) write
    // parquet/CSV sinks inside the query body — that times disk write IO,
    // not query throughput. They stay in the CORRECTNESS gate; the bench
    // times the query engine.
    val sinkWriters = Set("q34_materialize_denorm", "q35_materialize_preagg",
      "q36_materialize_dim", "q37_formats_roundtrip", "q108_prune_read",
      "q129_bucket_join", "q143_table_store", "q151_snapshots")
    // N COMPLETE passes over the catalog, per-query min taken ACROSS
    // passes. Back-to-back min-of-N per query cannot escape deferred
    // cleanup noise: a heavy query's async unpersists/GC land on whichever
    // query runs next, poisoning BOTH of its consecutive iterations (the
    // r2 and r3 artifacts mis-recorded heavy-tail queries 3-4× this way).
    // Separating the iterations by a full catalog pass makes the two
    // samples independent of any one neighbor.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // SPARK_GRAFT_BENCH_ONLY: comma-separated query names, or @<file>
    // with one name per line — restricts the catalog for drift isolation
    // experiments (e.g. rerunning exactly the round-N-common subset in a
    // fresh JVM to separate catalog-size JVM pressure from plan change).
    // A subset run does NOT reproduce a full run's plan_fp for every
    // query (at sf0.01: q188, q338, q339, q350, q356 and q364 differ from
    // the same commit's full run), so plan-fingerprint checks compare
    // full-catalog runs only.
    val onlyFilter: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map { v =>
        if (v.startsWith("@"))
          scala.io.Source.fromFile(v.drop(1)).getLines()
            .map(_.trim).filter(_.nonEmpty).toSet
        else v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      }
    val names = (SparkEntry.queries -- sinkWriters).keys.toSeq.sorted
      .filter(n => onlyFilter.forall(_.contains(n)))
    // every pass recorded, not just the min: a min that moves between
    // rounds is unclassifiable (noise vs drift) from a single number,
    // which is exactly what made r5's q38 delta undiagnosable from the
    // artifact alone
    // keyed by PASS NUMBER (not appended lists): contaminated-pass
    // replacement below must be able to drop one pass's samples even
    // when failures made some queries skip some passes
    val passData = scala.collection.mutable
      .Map.empty[Int, scala.collection.mutable.Map[String, Double]]
    val pinnedExtra = scala.collection.mutable.Map.empty[String, List[Double]]
    val pinnedProbes = scala.collection.mutable.Map.empty[String, List[Double]]
    val planFp = scala.collection.mutable.Map.empty[String, String]
    val planFpStrict = scala.collection.mutable.Map.empty[String, String]
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val calib = scala.collection.mutable.Map.empty[Int, Double]
    val loads = scala.collection.mutable.Map.empty[Int, String]
    val gcMs = scala.collection.mutable.Map.empty[Int, Long]
    val heapPeak = scala.collection.mutable.Map.empty[Int, Long]
    def runPass(pass: Int): Unit = {
      loads(pass) = loadavg()
      val gc0 = gcMillis(); resetHeapPeaks()
      calib(pass) = calibrate(spark)
      val data = scala.collection.mutable.Map.empty[String, Double]
      passData(pass) = data
      for (name <- names) {
        val t0 = System.nanoTime()
        try {
          // execute the FULL plan: a bare count() lets Catalyst prune every
          // computed column, so projection-shaped queries (token stats,
          // hashing, signatures) would time an empty-schema scan instead of
          // the workload. toRdd runs the query's own physical plan with all
          // output columns materialized.
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.queryExecution.toRdd.count()
          val dt = (System.nanoTime() - t0) / 1e9
          data(name) = dt
          // post-AQE fingerprint, once per query (untimed: dt is final)
          if (!planFp.contains(name)) {
            planFp(name) =
              try planFingerprint(df) catch { case _: Throwable => "" }
            planFpStrict(name) =
              try planFingerprintStrict(df) catch { case _: Throwable => "" }
            // SPARK_GRAFT_BENCH_DUMP_PLANS=<dir>: write the raw final
            // plan per query — regression triage for a changed plan_fp
            sys.env.get("SPARK_GRAFT_BENCH_DUMP_PLANS").foreach { dir =>
              try {
                new java.io.File(dir).mkdirs()
                val p = df.queryExecution.executedPlan match {
                  case a: org.apache.spark.sql.execution.adaptive
                      .AdaptiveSparkPlanExec => a.executedPlan
                  case other => other
                }
                java.nio.file.Files.write(
                  java.nio.file.Paths.get(s"$dir/$name.txt"),
                  p.toString.getBytes("UTF-8"))
                java.nio.file.Files.write(
                  java.nio.file.Paths.get(s"$dir/$name.fp.txt"),
                  (try planFingerprintText(df)
                   catch { case _: Throwable => "" }).getBytes("UTF-8"))
              } catch { case _: Throwable => () }
            }
          }
        } catch { case e: Throwable =>
          // a failure must NOT be recorded as a fast run: log it and mark
          // the query so the artifact shows -1, excluded from the total
          failed += name
          System.err.println(s"[bench] $name FAILED (pass $pass): ${e.getMessage}")
        } finally graft.ops.Caches.releaseAll()
      }
      gcMs(pass) = gcMillis() - gc0
      heapPeak(pass) = heapPeakMb()
    }
    for (pass <- 1 to passes) runPass(pass)
    // regex-heavy per-row queries wobble ±10% between rounds at 3 passes
    // (r9: q68 +11%, q62 +2% — both noise); PIN them to >=5 samples so a
    // real regression separates from jitter in the artifact. Extra
    // samples for just these queries are cheap (~1s each).
    val pinned = Seq("q68_pii_redact", "q62_content_flags",
      "q47_langid", "q76_langid_full").filter(names.contains)
    val minPinnedPasses = 5
    def samplesOf(n: String, passSet: Seq[Int]): List[Double] =
      passSet.flatMap(p => passData(p).get(n)).toList ++
        pinnedExtra.getOrElse(n, Nil)
    // NOTE: the pinned top-up itself runs AFTER the contaminated-pass
    // replacement loop below — topping up here would count samples from
    // passes that later get dropped (leaving a pinned query under-
    // sampled), and the extras would dodge calibration screening (r12
    // ADVICE). See the screened loop past the replacement block.
    // retry-on-contamination: a transiently busy host should not leave the
    // artifact uncertifiable when patience can buy clean passes — run up to
    // `maxExtra` additional full REPLACEMENT passes until `passes` of them
    // calibrated within 2x of the best.
    val maxExtra = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_EXTRA", "2").toInt
    var extra = 0
    while (extra < maxExtra &&
      calib.values.count(_ <= 2 * calib.values.min) < passes) {
      extra += 1
      System.err.println(
        s"[bench] calibration spread >2x on ${
          calib.size - calib.values.count(_ <= 2 * calib.values.min)} " +
          s"pass(es) — running replacement pass $extra/$maxExtra")
      runPass(passes + extra)
    }
    // contaminated-pass replacement: once >= `passes` clean passes exist,
    // the contaminated ones are DROPPED from the evidence (their pass
    // numbers + calibration times stay in the artifact under
    // dropped_contaminated_passes — visible, but no longer poisoning
    // mins) and contaminated_passes is empty by construction. Only when
    // patience ran out do contaminated passes remain, still flagged.
    val allPasses = calib.keys.toSeq.sorted
    val bestCal = if (calib.nonEmpty) calib.values.min else 0.0
    val cleanPasses = allPasses.filter(p => calib(p) <= 2 * bestCal)
    val (retained, dropped) =
      if (cleanPasses.size >= passes)
        (cleanPasses, allPasses.filterNot(cleanPasses.contains))
      else (allPasses, Seq.empty[Int])
    // Pinned top-up AFTER replacement (r12 ADVICE): only samples from
    // RETAINED passes count toward the minimum, so a pinned query never
    // ends under-sampled because its early samples sat in a dropped
    // pass. Each extra is bracketed by a calibration probe recorded in
    // the artifact; an extra whose probe exceeds the retained-pass
    // contamination bar (2x best) is discarded — a host burst during
    // pinning can no longer poison a min unflagged. Attempt budget 3x
    // the deficit so a persistently busy host terminates.
    for (n <- pinned) {
      var attempts = 0
      val budget = 3 * minPinnedPasses
      while (!failed(n) && attempts < budget &&
          samplesOf(n, retained).size < minPinnedPasses) {
        attempts += 1
        val probe = calibrate(spark)
        pinnedProbes(n) = pinnedProbes.getOrElse(n, Nil) :+ probe
        if (probe <= 2 * bestCal) {
          val t0 = System.nanoTime()
          try {
            SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count()
            pinnedExtra(n) = pinnedExtra.getOrElse(n, Nil) :+
              ((System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable =>
            // a query that fails mid-pinning must stop: its artifact row
            // is -1; more samples would be wasted work AND internally
            // inconsistent with the failed marker
            failed += n
            System.err.println(s"[bench] $n FAILED (pinned): ${e.getMessage}")
          } finally graft.ops.Caches.releaseAll()
        } else System.err.println(
          f"[bench] $n pinned probe contaminated ($probe%.3fs > 2x " +
            f"best $bestCal%.3fs) — sample skipped")
      }
    }
    val perPass = scala.collection.mutable.Map.empty[String, List[Double]]
    for (n <- names) perPass(n) = samplesOf(n, retained)
    val contaminated = retained.filter(p => bestCal > 0 && calib(p) > 2 * bestCal)
    val results = names.map(n =>
      n -> (if (failed(n) || perPass(n).isEmpty) -1.0 else perPass(n).min))
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
    // comma-decimal locale (de, fr, …) would render 3,1416 — invalid JSON
    def fmt4(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val passJson = names.map { n =>
      s"\"" + n + "\":" + perPass.getOrElse(n, Nil).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // per-query sample counts: most queries carry `passes` samples, the
    // pinned regex-heavy set >=5 — recorded so the artifact itself says
    // how much evidence sits behind each min
    val countJson = names.map { n =>
      s"\"" + n + "\":" + perPass.getOrElse(n, Nil).size
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // per-run (= per full-catalog pass) totals: the r12 verdict found a
    // committed artifact carrying the slowest of four same-code runs,
    // making cross-round totals misleading. Every pass's own total (and
    // how many queries it covered — failures skip) now rides the
    // artifact, for ALL passes including dropped ones, so the round's
    // full wall-time band is visible evidence rather than builder notes.
    val runTotalsJson = allPasses.map { p =>
      val d = passData.getOrElse(p,
        scala.collection.mutable.Map.empty[String, Double])
      s"""{"pass":$p,"total_sec":${fmt4(d.values.sum)},"n_queries":${d.size},"retained":${retained.contains(p)}}"""
    }.mkString("[", ",", "]")
    // JVM telemetry per pass: GC wall + heap high-water make an
    // environment-band claim checkable from the artifact (flat GC+heap
    // beside a drifted wall = host; exploded GC = JVM pressure).
    val jvmJson = allPasses.map(p =>
      s"""{"pass":$p,"gc_ms":${gcMs.getOrElse(p, -1L)},"heap_peak_mb":${heapPeak.getOrElse(p, -1L)}}""")
      .mkString("[", ",", "]")
    // plan-fingerprint diff vs this checkout's previous full-catalog
    // BENCH_local.json: "identical fingerprint + slower wall" =
    // environment, "changed fingerprint" = plan regression — the r9→r10
    // uniform-drift triage, automated.
    val fpJson = names.map(n =>
      s"\"" + n + "\":\"" + planFp.getOrElse(n, "") + "\"")
      .mkString("{", ",", "}")
    val fpStrictJson = names.map(n =>
      s"\"" + n + "\":\"" + planFpStrict.getOrElse(n, "") + "\"")
      .mkString("{", ",", "}")
    val baseline = planFpBaseline(new java.io.File("."))
    val (prevFps, prevFpsStrict) = baseline.getOrElse((Map.empty[String, String],
      Map.empty[String, String]))
    val fpChanged = names.filter(n => prevFps.get(n)
      .exists(p => p.nonEmpty && planFp.getOrElse(n, "").nonEmpty
        && p != planFp(n)))
    val fpSame = names.count(n => prevFps.get(n).contains(planFp.getOrElse(n, "-")))
    val fpNew = names.count(n => !prevFps.contains(n))
    val fpDiffJson = if (baseline.isEmpty) NoFpBaselineJson
      else s"""{"baseline":"BENCH_local.json","prev_found":true,"same":$fpSame,"new_queries":$fpNew,"changed":${
        fpChanged.take(20).map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    // strict diff is advisory (the bistable queries legitimately flip):
    // read it as "strict changed + primary same + flat wall = AQE",
    // "strict changed + slower wall = strategy regression to triage"
    val fpStrictChanged = names.filter(n => prevFpsStrict.get(n)
      .exists(p => p.nonEmpty && planFpStrict.getOrElse(n, "").nonEmpty
        && p != planFpStrict(n)))
    val fpStrictSame = names.count(n =>
      prevFpsStrict.get(n).contains(planFpStrict.getOrElse(n, "-")))
    val fpStrictDiffJson = if (baseline.isEmpty) NoFpBaselineJson
      else s"""{"baseline":"BENCH_local.json","prev_found":${prevFpsStrict.nonEmpty},"same":$fpStrictSame,"changed":${
        fpStrictChanged.take(40).map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    val pinnedProbeJson = pinnedProbes.toSeq.sortBy(_._1).map { case (n, ps) =>
      s"\"" + n + "\":" + ps.map(fmt4).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val skipped = sinkWriters.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val calJson = retained.map(p => fmt4(calib(p))).mkString("[", ",", "]")
    val loadJson = retained.map(p => "\"" + loads(p) + "\"")
      .mkString("[", ",", "]")
    val contamJson = contaminated.mkString("[", ",", "]")
    val droppedJson = dropped.map(p =>
      s"""{"pass":$p,"calibration_sec":${fmt4(calib(p))}}""")
      .mkString("[", ",", "]")
    // a SPARK_GRAFT_BENCH_ONLY subset run writes its detail to a
    // DISTINCT file: the full-catalog BENCH_local.json is the
    // plan-fingerprint baseline, and a drift-isolation subset run must
    // not clobber it (this footgun fired in round 11)
    val detailFile =
      if (onlyFilter.isDefined) "BENCH_local_subset.json"
      else "BENCH_local.json"
    val subsetJson = onlyFilter
      .map(f => s""","subset_filter_size":${f.size}""").getOrElse("")
    val summary = s""""sf":"$sfDir","passes":${retained.size},"pass_counts":$countJson,"exec":"full-plan","calibration_sec":$calJson,"loadavg":$loadJson,"run_totals":$runTotalsJson,"jvm_per_pass":$jvmJson,"pinned_calibration":$pinnedProbeJson,"skipped_sink_writers":$skipped,"detail_file":"$detailFile"$subsetJson,"plan_fp_diff":$fpDiffJson,"plan_fp_strict_diff":$fpStrictDiffJson,"failed":$failedJson,"contaminated_passes":$contamJson,"dropped_contaminated_passes":$droppedJson,"metric":"total","unit":"sec","value":${fmt4(total)}"""
    val fullQs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(detailFile),
      s"""{"queries":$fullQs,"per_pass":$passJson,"plan_fp":$fpJson,"plan_fp_strict":$fpStrictJson,$summary}""".getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] $detailFile write failed: ${e.getMessage}") }
    // r14 (VERDICT_r13 #2): the stdout consumer captures only the LAST
    // 2000 chars of output, and the 378-entry "queries" map made the
    // final line tens of KB — it has been truncated mid-JSON (and thus
    // unparseable) in EVERY round so far. The final line is now a
    // COMPACT summary guaranteed to fit the capture window: headline
    // scalars, per-query-evidence pointer ("queries" detail lives in
    // `detail_file`, written above with full precision and every pass),
    // failure/contamination state, and fp-diff COUNTS.
    val failedCompact = failed.take(10).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val runTotalsCompact = allPasses.map(p => fmt4(
      passData.getOrElse(p, scala.collection.mutable
        .Map.empty[String, Double]).values.sum))
      .mkString("[", ",", "]")
    val fpCompact = if (baseline.isEmpty) NoFpBaselineJson
      else s"""{"baseline":"BENCH_local.json","prev_found":true,"same":$fpSame,"new_queries":$fpNew,"changed_n":${fpChanged.size},"strict_changed_n":${fpStrictChanged.size}}"""
    println(s"""{"metric":"total","unit":"sec","value":${fmt4(total)},"sf":"$sfDir","n_queries":${names.size},"passes":${retained.size},"exec":"full-plan","queries_detail_file":"$detailFile","detail_file":"$detailFile"$subsetJson,"calibration_sec":$calJson,"run_totals_sec":$runTotalsCompact,"n_failed":${failed.size},"failed_head":$failedCompact,"contaminated_passes":$contamJson,"n_skipped_sink_writers":${sinkWriters.size},"plan_fp_diff":$fpCompact}""")
    spark.stop()
  }
}
