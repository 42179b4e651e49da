package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.cells._
import graft.tpch.TpchModel

/** Plan-shape regression tests: the scale properties (pushdown, pruning,
  * broadcast) asserted on the actual physical plans, so a refactor that
  * silently breaks them fails CI — at 100 TB these ARE correctness. */
class PlanSpec extends AnyFunSuite with SharedSpark {

  private def b = TpchModel.browser(spark, "/root/testdata/sf0.001")

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("cut predicate is pushed into the dimension parquet scan") {
    val df = b.aggregate(
      cell = Cell(PointCut("customer", Seq("ASIA"))),
      drilldown = Seq("date:year"),
      aggregates = Seq("quantity_sum")).cells
    val plan = physicalPlan(df)
    assert(plan.contains("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)")
      || plan.contains("EqualTo(r_name,ASIA)"),
      s"region filter not pushed to scan:\n$plan")
  }

  test("fact scan reads only the needed columns") {
    val df = b.aggregate(
      drilldown = Seq("returnflag"),
      aggregates = Seq("quantity_sum")).cells
    val plan = physicalPlan(df)
    // lineitem scan must not read l_extendedprice/l_tax/etc.
    val scanLine = plan.linesIterator.find(l =>
      l.contains("lineitem.parquet") || (l.contains("ReadSchema") && l.contains("l_"))).getOrElse("")
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!readSchema.contains("l_extendedprice"),
      s"fact scan reads unneeded columns:\n$readSchema\n$scanLine")
  }

  test("facts with fields: cut pushed through the 5-way join; scans minimal (q11 shape)") {
    val df = b.facts(
      cell = Cell(Seq(PointCut("customer", Seq("ASIA")),
        PointCut("shipdate", Seq("1995")))),
      fields = Seq("customer.nation_name", "returnflag", "quantity",
        "extendedprice"))
    val plan = physicalPlan(df)
    // the region point cut reaches the region.parquet scan as a pushed
    // filter (not a post-join Filter over the 5-way star)
    assert(plan.contains("EqualTo(r_name,ASIA)"),
      s"region cut not pushed to the parquet scan:\n$plan")
    // every ReadSchema is minimal: the fact scan carries only the join
    // key + cut + selected columns; un-projected wide columns never leave
    // the parquet reader
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty)
    Seq("l_comment", "l_shipinstruct", "l_discount", "l_tax").foreach { c =>
      assert(!readSchemas.exists(_.contains(c)),
        s"fact scan reads unneeded column $c:\n${readSchemas.mkString("\n")}")
    }
    Seq("c_comment", "c_address", "n_comment", "r_comment").foreach { c =>
      assert(!readSchemas.exists(_.contains(c)),
        s"dimension scan reads unneeded column $c:\n${readSchemas.mkString("\n")}")
    }
  }

  test("drilldown aggregate: cut pushdown + minimal schemas survive the star join (q01 shape)") {
    val df = b.aggregate(
      cell = Cell(PointCut("customer", Seq("ASIA"))),
      drilldown = Seq("customer:nation", "returnflag"),
      aggregates = Seq("quantity_sum", "fact_count")).cells
    val plan = physicalPlan(df)
    assert(plan.contains("EqualTo(r_name,ASIA)"),
      s"point cut not pushed through the snowflake join:\n$plan")
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    // aggregate needs only quantity + returnflag + custkey from the fact
    Seq("l_extendedprice", "l_comment", "l_shipdate").foreach { c =>
      assert(!readSchemas.exists(_.contains(c)),
        s"fact scan reads unneeded column $c:\n${readSchemas.mkString("\n")}")
    }
  }

  test("join pruning: fact-only aggregation has no join in the plan") {
    val df = b.aggregate(
      drilldown = Seq("returnflag"),
      aggregates = Seq("quantity_sum")).cells
    assert(!physicalPlan(df).toLowerCase.contains("join"))
  }

  test("RI-declared key-only join is eliminated; values match the joined plan") {
    import graft.tpch.TpchModel
    // q10/q30 shape: count_distinct over part.partkey — part is referenced
    // ONLY through its join key, the join declares integrity=verified, so
    // the star must not touch part.parquet at all
    val df = b.aggregate(
      drilldown = Seq("returnflag"),
      aggregates = Seq("parts", "fact_count")).cells
    val plan = physicalPlan(df)
    assert(!plan.contains("part.parquet"),
      s"key-only part join not eliminated:\n$plan")
    // same values as the explicit-join plan (integrity stripped)
    val noRi = TpchModel.cube.copy(joins =
      TpchModel.cube.joins.map(_.copy(integrity = None)))
    val joined = TpchModel.browserFor(noRi, spark, "/root/testdata/sf0.001")
      .aggregate(drilldown = Seq("returnflag"),
        aggregates = Seq("parts", "fact_count")).cells
    assert(physicalPlan(joined).contains("part.parquet")) // control
    val got = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = joined.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // a non-key part attribute still forces the join
    val withAttr = b.facts(fields = Seq("part.brand")).queryExecution
      .executedPlan.toString
    assert(withAttr.contains("part.parquet"))
  }

  test("hinted dimension joins broadcast") {
    val df = b.aggregate(
      cell = Cell(PointCut("customer", Seq("ASIA"))),
      drilldown = Seq("customer:nation"),
      aggregates = Seq("fact_count")).cells
    val plan = physicalPlan(df)
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ at dim scale:\n$plan")
  }

  test("aggregation is two-phase (map-side partial)") {
    val df = b.aggregate(
      drilldown = Seq("returnflag"),
      aggregates = Seq("quantity_sum")).cells
    val plan = physicalPlan(df)
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final HashAggregate:\n$plan")
  }

  test("bucketed tables join with no exchange (co-located join)") {
    import graft.materialize.Materialize
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    // clean up leftovers from a previous forked run (fresh derby metastore
    // doesn't know the old managed-table locations)
    Seq("li_bkt", "ord_bkt").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(loc)
      }
    }
    Materialize.bucketize(li, "li_bkt", Seq("l_orderkey"), 4)
    Materialize.bucketize(ord, "ord_bkt", Seq("o_orderkey"), 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bkt")
        .join(spark.table("ord_bkt"),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
      val plan = physicalPlan(joined)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("whole-stage codegen covers the scan→aggregate pipeline") {
    val df = b.projectedFrame(Seq("quantity", "returnflag"))
      .groupBy("returnflag").count()
    df.collect() // AQE shows codegen stages only in the executed final plan
    // codegen'd operators print as "*(stageId) Op" in the final plan
    assert(physicalPlan(df).contains("*(1)"), physicalPlan(df))
  }

  test("fused aggregate: summary + cells share ONE shuffle (grouping sets)") {
    val r = b.aggregate(drilldown = Seq("returnflag"),
      aggregates = Seq("quantity_sum", "fact_count"))
    val plan = physicalPlan(r.rows())
    // one hash shuffle (the grouping-sets aggregation); the only other
    // allowed exchange is the final sort's range partitioning over the
    // already-aggregated (tiny) result
    val hashExchanges = plan.linesIterator.count(_.contains("hashpartitioning"))
    assert(hashExchanges == 1,
      s"expected exactly 1 hash Exchange (the fused grouping-sets pass), got $hashExchanges:\n$plan")
    // the json response reads the summary row and every cell in one query
    val meter = RunMeter.attach(spark.sparkContext)
    try {
      meter.settle()
      meter.reset()
      val rows = r.rows().collect()
      meter.settle()
      assert(meter.queries.get == 1, s"${meter.queries.get} queries for the fused rows")
      assert(rows.map(_.getBoolean(0)).toSeq == Seq(true, false, false, false))
    } finally meter.close()
  }

  test("boilerplate-line removal: frequent-line set returns via broadcast anti-join") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.ops.Dedup.dropBoilerplateLines(docs, "doc_id", "text", 100)
    val plan = physicalPlan(df)
    // the frequent-line set is small by construction — it must build the
    // broadcast side of the anti-join, never shuffle the exploded lines
    // against it
    assert("BroadcastHashJoin .*LeftAnti, BuildRight".r
      .findFirstIn(plan).isDefined,
      s"anti-join not broadcast:\n$plan")
  }

  test("IVF: no Window, no corpus×centroid join — assignment is a narrow scan") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = graft.ops.Similarity.ivfTopK(
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5), emb,
      "vec_id", "embedding", 3, nCentroids = 4, nProbe = 2)
    val plan = physicalPlan(df)
    val windows = plan.linesIterator.count(_.contains("Window "))
    assert(windows == 0,
      s"expected no Window (bounded top-k aggregate instead), got $windows:\n$plan")
    // exactly one join: the probe→inverted-list route
    val joinOps = plan.linesIterator.count(_.contains("HashJoin"))
    assert(joinOps == 1,
      s"expected exactly 1 join (probe routing), got $joinOps:\n$plan")
    // the top-k is a real two-phase aggregate (map-side partial bound)
    assert(plan.contains("topkbyscoreagg") || plan.contains("TopKByScore")
      || plan.contains("ObjectHashAggregate"),
      s"expected bounded top-k aggregate in plan:\n$plan")
  }

  test("per-row corpus ops are exchange-free: PII redaction and int8 quantization") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (redacted, counts) = graft.ops.Corpus.redactPii(col("text"))
    val redactPlan = physicalPlan(docs.select(
      col("doc_id") +: counts.map { case (n, c) => c.as(n) } :+ redacted.as("text"): _*))
    assert(!redactPlan.contains("Exchange"),
      s"redactPii must stay a scan→project chain, got:\n$redactPlan")

    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (scale, q, err) = graft.ops.Similarity.quantizeInt8(col("embedding"))
    val quantPlan = physicalPlan(emb.select(col("vec_id"),
      scale.as("scale"), q.as("q"), err.as("err")))
    assert(!quantPlan.contains("Exchange"),
      s"quantizeInt8 must stay a scan→project chain, got:\n$quantPlan")
    // vocabulary keeps its aggregation two-phase: partial before the
    // word-key exchange, TakeOrdered bounding the driver result
    val vocabPlan = physicalPlan(graft.ops.Corpus.vocabulary(docs, "text", 10))
    assert(vocabPlan.contains("TakeOrderedAndProject"), vocabPlan)
    val firstExchange = vocabPlan.linesIterator.indexWhere(_.contains("Exchange"))
    val partialAgg = vocabPlan.linesIterator.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("partial_count"))
    assert(partialAgg > firstExchange && firstExchange >= 0,
      s"expected map-side partial aggregation below the exchange:\n$vocabPlan")
  }

  test("event-analytics queries push their type filters into the scans") {
    // q90 asof: both union sides prune to their event type at the source
    val asof = graft.SparkEntry.queries("q90_asof_join")(
      spark, "/root/testdata/sf0.001")
    val ap = physicalPlan(asof)
    assert(ap.contains("EqualTo(event_type,click)"), ap)
    assert(ap.contains("EqualTo(event_type,purchase)"), ap)
    assert(!ap.contains("BroadcastNestedLoopJoin") &&
      !ap.contains("CartesianProduct"), ap)
    // q97 range join: same pushdown + an equi-join on (key, bucket)
    val rj = graft.SparkEntry.queries("q97_range_join")(
      spark, "/root/testdata/sf0.001")
    val rp = physicalPlan(rj)
    assert(rp.contains("EqualTo(event_type,click)"), rp)
    assert(rp.contains("EqualTo(event_type,purchase)"), rp)
    assert(!rp.contains("BroadcastNestedLoopJoin") &&
      !rp.contains("CartesianProduct"), rp)
  }

  test("r9 profiling ops keep their scale shape: partial aggs, no data-sized windows") {
    import spark.implicits._
    val ev = (1 to 200).map(i =>
      (i.toLong % 7, i.toLong, i.toLong * 3 % 101)).toDF("k", "id", "v")
    // trend: ONE aggregate pair (partial+final), zero windows/joins
    val tp = physicalPlan(graft.ops.EventAnalytics.trend(ev, "k", "id", "v"))
    assert(!tp.contains("Window") && !tp.contains("Join"), tp)
    assert(tp.contains("partial"), tp)
    assert(tp.linesIterator.count(_.contains("Exchange")) == 1, tp)
    // categoryDrift: category counts partial-aggregate; totals broadcast
    val cd = physicalPlan(graft.ops.Profiling.categoryDrift(
      ev.filter(ev("id") % 2 === 0), ev.filter(ev("id") % 2 === 1),
      "k", 2, 100))
    assert(cd.contains("partial"), cd)
    assert(cd.contains("BroadcastNestedLoopJoin"), cd) // 1-row totals only
    assert(!cd.contains("Window"), cd)
    // debounce: burst collapse is a partial-aggregable min(struct), and
    // the whole op runs on ONE exchange (windows + groupBy share hash(k))
    val db = physicalPlan(graft.ops.EventAnalytics.debounce(
      ev, "k", "v", "id", cooldownUs = 10L))
    assert(db.linesIterator.count(_.contains("Exchange")) == 1, db)
    assert(db.contains("partial_min") || db.contains("partial"), db)
    // kAnonymize: count + equi join-back, never a count-over-window
    val ka = physicalPlan(graft.ops.Corpus.kAnonymize(ev, Seq("k"), 2))
    assert(!ka.contains("Window"), ka)
    assert(ka.contains("partial"), ka)
    // madOutliers: every |keys|-row median table joins back by BROADCAST
    // (the mad branch re-derives its dev lineage, so the med2 join shows
    // twice — 3 broadcast joins, still zero data-sized shuffles)
    val mo = physicalPlan(graft.ops.Profiling.madOutliers(ev, "k", "v", 5))
    assert(mo.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2, mo)
    assert(!mo.contains("Window") && !mo.contains("SortMergeJoin"), mo)
  }

  test("r10 ops keep their scale shape: partitioned windows, broadcast dictionaries, equi-joins") {
    import spark.implicits._
    val docs = (1 to 60).map(i =>
      (i.toLong, s"alpha w$i beta w${i % 7} gamma delta")).toDF("id", "text")
    try {
      // ppjoin: every window hash-partitioned per doc (rarity positions),
      // candidates meet in EQUI-joins — no nested-loop anywhere
      val pp = graft.ops.Fuzzy.prefixFilterJaccardPairs(
        docs, "id", "text", 3, 1, 2)
      val ppWindows = pp.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
          w.partitionSpec
      }
      assert(ppWindows.nonEmpty && ppWindows.forall(_.nonEmpty),
        s"unpartitioned window in ppjoin plan: $ppWindows")
      val ppp = physicalPlan(pp)
      assert(!ppp.contains("NestedLoop") && !ppp.contains("Cartesian"), ppp)
      // gazetteer: the dictionary side broadcasts; counts partial-agg
      val gz = physicalPlan(graft.ops.Corpus.gazetteerMatch(
        docs, "id", "text", Seq("alpha", "beta gamma")))
      assert(gz.contains("BroadcastHashJoin"), gz)
      assert(gz.contains("partial"), gz)
      // dsir: the bucket model broadcasts, per-doc sums partial-agg,
      // nothing vocabulary-sized rides a window
      val ds = physicalPlan(graft.ops.Corpus.dsirWeights(
        docs, "id", "text", docs.limit(20), "text", 16))
      assert(ds.contains("BroadcastHashJoin"), ds)
      assert(!ds.contains("Window"), ds)
      // lmScore: no window; per-doc partial aggregation
      val lm = physicalPlan(graft.ops.Corpus.lmScore(
        docs, "id", "text", docs.limit(20), "text"))
      assert(!lm.contains("Window") && lm.contains("partial"), lm)
      // skyline: suffix-max windows are partitioned (per range
      // partition), survivors return via a broadcast join
      val sk = graft.ops.Profiling.skyline2d(
        docs.select(docs("id"), (docs("id") % 9).as("x"),
          (docs("id") * 7 % 13).as("y")), "x", "y")
      val skWindows = sk.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
          w.partitionSpec
      }
      assert(skWindows.nonEmpty && skWindows.forall(_.nonEmpty),
        s"unpartitioned window in skyline plan: $skWindows")
      assert(physicalPlan(sk).contains("BroadcastHashJoin"),
        physicalPlan(sk))
      // label propagation: NO windows at all — two partial-aggregable
      // levels per round
      val lp = physicalPlan(graft.ops.Graph.labelPropagation(
        docs.select((docs("id") % 10).as("s"), (docs("id") % 7).as("d")),
        "s", "d", iters = 2))
      assert(!lp.contains("Window") && lp.contains("partial"), lp)
    } finally graft.ops.Caches.releaseAll()
  }

  test("r10 batch-5 ops keep their scale shape: per-row passes, partial aggs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (1 to 60).map(i =>
      (i.toLong, s"alpha w$i beta w${i % 7} gamma delta")).toDF("id", "text")
    try {
      // per-row JIT passes: no exchange anywhere in the plan
      Seq(
        graft.ops.TextAnalysis.charEntropyStats(docs, "id", "text"),
        graft.ops.TextAnalysis.compressionSignals(docs, "id", "text"),
        graft.ops.TextAnalysis.gopherRepetitionFeatures(docs, "id", "text"),
        graft.ops.TextAnalysis.gopherQualityFlags(docs, "id", "text"),
        graft.ops.Corpus.bpeEncodeStats(docs, "id", "text",
          Seq(("a", "l")))).foreach { df =>
        val p = physicalPlan(df)
        assert(!p.contains("Exchange"), s"per-row op must not shuffle:\n$p")
      }
      // ngram diversity: both aggregation levels partial (map-side
      // combine collapses duplicate grams before the wire)
      val nd = physicalPlan(graft.ops.Corpus.ngramDiversity(
        docs.withColumn("g", docs("id") % 3), "g", "text"))
      assert(nd.contains("partial_count"), nd)
      assert(!nd.contains("Window"), nd)
      // bootstrap: the 40x fan-out collapses through ONE partial agg on
      // (group, replicate); no data-sized window, no nested loop
      val bc = physicalPlan(graft.ops.Profiling.bootstrapCI(
        docs.select(docs("id"), lit("g").as("grp"),
          (docs("id") % 9).as("v")), "grp", "v", "id", b = 8))
      assert(bc.contains("partial"), bc)
      assert(!bc.contains("NestedLoop") || bc.contains("BroadcastNested"),
        bc)
      assert(!bc.contains("Window"), bc)
      // dim health: posexplode into a |dims|-keyed partial agg
      val emb = (1 to 20).map(i => (i.toLong,
        Array(i.toFloat, 2f * i, 0f))).toDF("vec_id", "embedding")
      val dh = physicalPlan(graft.ops.Similarity.dimHealth(emb, "embedding"))
      assert(dh.contains("partial"), dh)
      assert(!dh.contains("Window"), dh)
      // js divergence: single-row totals broadcast; the only joins are
      // the vocab full-outer and broadcast singletons — never cartesian
      // over data
      val js = physicalPlan(graft.ops.Corpus.jsDivergence(
        docs.filter(docs("id") % 2 === 0), docs.filter(docs("id") % 2 === 1),
        "text"))
      assert(!js.contains("CartesianProduct"), js)
      assert(js.contains("partial_count"), js)
    } finally graft.ops.Caches.releaseAll()
  }

  test("round-10 batch-9/10 op plans: equi-joins, partial aggs, no cartesian") {
    import spark.implicits._
    try {
      // hamming near-dup: the band join must be a hash/sort-merge
      // equi-join on (band, chunk), never a nested loop over pairs
      val sigs = (1L to 40L).map(i => (i, i % 7, i % 11))
        .toDF("id", "hi", "lo")
      val hn = physicalPlan(graft.ops.Dedup.hammingNearDups(
        sigs, "id", "hi", "lo", maxDist = 3, bands = 4))
      assert(!hn.contains("NestedLoop") && !hn.contains("CartesianProduct"),
        hn)
      // blocked edit-distance: equi-join on the prefix block; the
      // length prefilter and DP ride as post-join filters
      val keys = (1 to 60).map(i => s"word$i").toDF("k")
      val ed = physicalPlan(graft.ops.Fuzzy.editDistancePairs(
        keys, "k", blockLen = 2, maxDist = 2))
      assert(!ed.contains("NestedLoop") && !ed.contains("CartesianProduct"),
        ed)
      // golden record: ONE aggregation (partial+final), zero joins
      val rows = (1L to 30L).map(i => (i, i % 5, i % 3, s"v$i"))
        .toDF("id", "clu", "ord", "f")
      val gr = physicalPlan(graft.ops.Fuzzy.goldenRecords(
        rows, "clu", "ord", "id", Seq("f")))
      assert(!gr.contains("Join"), gr)
      assert(gr.contains("partial_"), gr)
      // lsh tuning: no join anywhere — explode + two aggregation levels
      val d2 = (1L to 20L).map(i => (i, s"some text number ${i % 4} here"))
        .toDF("doc_id", "text")
      val lt = physicalPlan(graft.ops.Dedup.lshTuning(
        d2, "doc_id", "text", Seq((2, 2))))
      assert(!lt.contains("Join"), lt)
      assert(lt.contains("partial_"), lt)
      // percentile rank: the window runs over the per-(group, value)
      // HISTOGRAM, after a partial-aggregable collapse of the rows
      val pr = graft.ops.Profiling.percentileRank(
        (1L to 50L).map(i => (i, (i % 3).toString, i % 7))
          .toDF("id", "g", "v"), "g", "v")
      val prs = physicalPlan(pr)
      assert(prs.contains("partial_count"), prs)
      assert(!prs.contains("NestedLoop") && !prs.contains("CartesianProduct"),
        prs)
    } finally graft.ops.Caches.releaseAll()
  }

  test("round-10 batch-11 op plans: partitioned windows, equi-joins only") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    try {
      val ev = (1L to 200L).map(i =>
        (i, (i % 3).toString, i * 600000000L))
        .toDF("id", "g", "tus")
        .withColumn("ts", timestamp_micros(col("tus")))
      // ACF: lag pairing is an equi-join on (group, bucket+lag) —
      // never a nested loop; grid and moments stay partial-aggregable
      val acf = physicalPlan(graft.ops.EventAnalytics.acf(
        ev, "g", "ts", maxLag = 2))
      assert(!acf.contains("NestedLoop") && !acf.contains("CartesianProduct"),
        acf)
      assert(acf.contains("partial_"), acf)
      // CUSUM + TWA + Gini: every window is PARTITIONED by the
      // group/key — a global (unpartitioned) window would serialize
      // the whole table through one task at scale
      val cs = physicalPlan(graft.ops.EventAnalytics.cusumDrift(
        ev, "g", "ts"))
      val tw = physicalPlan(graft.ops.EventAnalytics.timeWeightedAvg(
        ev.withColumn("v", col("id") % 7), "g", "ts", "id", "v"))
      val gi = physicalPlan(graft.ops.Profiling.gini(
        ev.withColumn("k", (col("id") % 11).cast("string")), "g", "k"))
      Seq("cusum" -> cs, "twa" -> tw, "gini" -> gi).foreach {
        case (name, plan) =>
          // every windowspecdefinition must name the group column as its
          // partition key (an empty partition spec renders as
          // `windowspecdefinition(bucket ASC…` with no leading g#…)
          val specs = plan.linesIterator
            .filter(_.contains("windowspecdefinition")).toSeq
          assert(specs.nonEmpty && specs.forall(_.matches(
            ".*windowspecdefinition\\(g#\\d+.*")),
            s"$name has an unpartitioned window:\n$plan")
          assert(!plan.contains("NestedLoop") &&
            !plan.contains("CartesianProduct"), s"$name:\n$plan")
          // the concrete symptom to ban: a single-partition exchange
          assert(!plan.contains("Exchange SinglePartition"),
            s"$name window collapsed to a single partition:\n$plan")
      }
    } finally graft.ops.Caches.releaseAll()
  }

  test("round-10 eval-statistics op plans: grid joins stay equi, " +
      "windows partitioned, no cartesian") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ev = (1L to 300L).map(i =>
      (i, (i % 3).toString, i % 17, (i * 7) % 23, i % 2 == 0,
        (i * 3) % 2 == 0))
      .toDF("id", "g", "x", "y", "oka", "okb")
    // Theil–Sen: the pair join must be an equi-join on the group key
    // (range condition rides it) — never BroadcastNestedLoop — and the
    // weighted-median windows must be partitioned by the group
    val ts = physicalPlan(graft.ops.Profiling.theilSen(
      ev, "g", "x", "y"))
    assert(!ts.contains("NestedLoop") && !ts.contains("CartesianProduct"),
      ts)
    assert(!ts.contains("Exchange SinglePartition"), ts)
    // RBO: both rank windows must share the group partitioning — no
    // global window, no single-partition exchange
    val rb = physicalPlan(graft.ops.Profiling.rbo(
      ev.withColumn("sa", col("x")).withColumn("sb", col("y")),
      "g", "id", "sa", "sb", depth = 5, p = 0.5))
    assert(!rb.contains("Exchange SinglePartition"), rb)
    assert(rb.linesIterator.filter(_.contains("windowspecdefinition"))
      .forall(_.contains("g#")), rb)
    // chi-squared / McNemar / Cochran-Armitage / Cochran's Q /
    // Krippendorff / Mantel-Haenszel: partial aggregation everywhere,
    // label/marginal joins stay equi (no cartesian, no nested loop)
    val plans = Seq(
      "chi2" -> physicalPlan(graft.ops.Profiling.chiSquared(
        ev.withColumn("fa", col("x").cast("string"))
          .withColumn("fb", col("y").cast("string")), "g", "fa", "fb")),
      "mcnemar" -> physicalPlan(graft.ops.Profiling.mcnemar(
        ev, "g", "oka", "okb")),
      "ca" -> physicalPlan(graft.ops.Profiling.cochranArmitage(
        ev, "g", "x", "oka")),
      "cq" -> physicalPlan(graft.ops.Profiling.cochranQ(
        ev.withColumn("m", (col("id") % 3).cast("string"))
          .withColumn("t", col("id") % 40), "g", "t", "m", "oka")),
      "kripp" -> physicalPlan(graft.ops.Profiling.krippendorffAlpha(
        ev.withColumn("l", (col("y") % 3).cast("string")), "g", "x",
        "l")),
      "mh" -> physicalPlan(graft.ops.Profiling.mantelHaenszel(
        ev.withColumn("s", (col("x") % 4).cast("string")), "g", "s",
        "oka", "okb")))
    plans.foreach { case (name, plan) =>
      assert(!plan.contains("NestedLoop") &&
        !plan.contains("CartesianProduct"), s"$name:\n$plan")
      assert(plan.contains("partial_"), s"$name lost map-side " +
        s"partial aggregation:\n$plan")
    }
  }

  test("round-10 experiment/audit op plans: partitioned windows, " +
      "broadcast queries, no single-partition exchange") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ev = (1L to 300L).map(i =>
      (i, (i % 3).toString, i % 5 + 1, i % 2 == 0, (i * 3) % 7 < 3,
        (i * 11) % 100))
      .toDF("id", "g", "k", "t", "ok", "v")
    // group-sequential + QTE + bestThreshold: every window partitioned
    // by the group (never global), partial aggs preserved
    val winPlans = Seq(
      "gs" -> physicalPlan(graft.ops.Profiling.groupSequential(
        ev, "g", "k", "t", "ok", totalInterims = 5)),
      "qte" -> physicalPlan(graft.ops.Profiling.quantileTreatmentEffect(
        ev, "g", "t", "v")),
      "bt" -> physicalPlan(graft.ops.Profiling.bestThreshold(
        ev, "g", "v", "ok")))
    winPlans.foreach { case (name, plan) =>
      assert(!plan.contains("Exchange SinglePartition"),
        s"$name window collapsed to a single partition:\n$plan")
      assert(plan.linesIterator
        .filter(_.contains("windowspecdefinition"))
        .forall(_.contains("g#")), s"$name has an unpartitioned " +
        s"window:\n$plan")
      assert(plan.contains("partial_"), s"$name:\n$plan")
    }
    // powerPlan / wilson / chi2 GOF: pure collapse + literal explode —
    // no joins at all beyond the one aggregation exchange
    Seq(
      "pp" -> physicalPlan(graft.ops.Profiling.powerPlan(
        ev, "g", "ok", Seq(10000L, 50000L))),
      "wi" -> physicalPlan(graft.ops.Profiling.wilsonInterval(
        ev, "g", "ok")),
      "gof" -> physicalPlan(graft.ops.Profiling.chi2GoodnessOfFit(
        ev.withColumn("c", (col("v") % 3).cast("string")), "g", "c",
        Map("0" -> 300000L, "1" -> 400000L, "2" -> 300000L))))
      .foreach { case (name, plan) =>
        assert(!plan.contains("NestedLoop") &&
          !plan.contains("CartesianProduct"), s"$name:\n$plan")
        assert(plan.contains("partial_"), s"$name:\n$plan")
      }
    // truncation audit: queries broadcast into every top-k pass — the
    // corpus side must never shuffle into a join
    val qs = Seq((100L, Array(1.0f, 0.0f, 0.5f, 0.2f)))
      .toDF("vec_id", "embedding")
    val corpus = (1L to 50L).map(i =>
      (i, Array(i.toFloat, 1.0f, 0.5f, 0.2f)))
      .toDF("vec_id", "embedding")
    val ta = physicalPlan(graft.ops.Similarity.truncationAudit(
      qs, corpus, "vec_id", "embedding", k = 3, dims = Seq(2)))
    // the corpus-scan side: queries BROADCAST into the scoring join
    // (the non-equi self-exclusion makes it a broadcast nested loop);
    // the k-row overlap joins downstream are free to pick any strategy
    assert(ta.contains("BroadcastNestedLoop") ||
      ta.contains("BroadcastHashJoin"), ta)
  }

  test("round-10 spatial/graph/recsys op plans: cell-key equi joins, " +
      "no cartesian, partial aggs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pts = (1L to 300L).map(i =>
      (i, (i * 37) % 500, (i * 73) % 500)).toDF("id", "x", "y")
    // the fixed-radius join MUST be an equi-join on the cell key —
    // a naive dist² plan is a BroadcastNestedLoopJoin that dies at
    // corpus scale
    val gr = physicalPlan(graft.ops.Spatial.gridRadiusJoin(
      pts, "id", "x", "y", 20L))
    assert(!gr.contains("NestedLoop") && !gr.contains("CartesianProduct"),
      gr)
    assert(gr.contains("HashJoin") || gr.contains("SortMergeJoin"), gr)
    // hotspots: the 3×3 smoothing explodes the CELL table only, both
    // aggregations partial; the single-row global is a broadcast
    val hs = physicalPlan(graft.ops.Spatial.spatialHotspots(
      pts, "x", "y", 50L))
    assert(!hs.contains("NestedLoop") && !hs.contains("CartesianProduct")
      || hs.contains("BroadcastNestedLoop"), hs) // global single-row
    assert(hs.contains("partial_"), hs)
    // link prediction: wedge + degree joins all equi; the top-k is a
    // global sort of the candidate table (bounded), never of raw rows
    val edges = (1L to 200L).map(i => (i % 40, 40 + (i * 7) % 60))
      .toDF("s", "d")
    val lp = physicalPlan(graft.ops.Graph.linkPrediction(
      edges, "s", "d", topK = 10))
    assert(!lp.contains("NestedLoop") && !lp.contains("CartesianProduct"),
      lp)
    assert(lp.contains("TakeOrderedAndProject"), lp) // limit fuses sort
    // item co-occurrence: pair self-join equi on the user key, the
    // top-k window partitioned by item (never a global window)
    val ui = (1L to 300L).map(i => (i % 50, i % 23)).toDF("u", "i")
    val ic = physicalPlan(graft.ops.EventAnalytics.itemCooccurrence(
      ui, "u", "i", topK = 3))
    assert(!ic.contains("NestedLoop") && !ic.contains("CartesianProduct"),
      ic)
    assert(ic.linesIterator.filter(_.contains("windowspecdefinition"))
      .forall(_.contains("item#")), ic)
    graft.ops.Caches.releaseAll()
  }

  test("round-10 eval-stats batch-2 op plans: partial aggs, equi " +
      "lag joins, no data-sized windows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ev = (1L to 300L).map(i =>
      (i, (i % 3).toString, i % 30, i % 100, (i % 100) + (i % 7) - 3,
        i % 2 == 0)).toDF("id", "g", "t", "a", "f", "tr")
    // BLEU: two explode+count passes, full-outer equi join, partials
    val docs = (1L to 40L).map(i =>
      ((i % 3).toString, i, s"w${i % 7} w${(i * 3) % 7} w${(i * 5) % 7}",
        s"w${i % 7} w${(i * 3) % 7} x"))
      .toDF("g", "id", "cand", "ref")
    val bl = physicalPlan(graft.ops.TextAnalysis.bleu(
      docs, "g", "id", "cand", "ref", maxN = 2))
    assert(!bl.contains("CartesianProduct") && !bl.contains("NestedLoop"),
      bl)
    assert(bl.contains("partial_"), bl)
    // forecastAccuracy: the naive-lag join is an equi join on
    // (key, t) — never a window over raw rows
    val fa = physicalPlan(graft.ops.EventAnalytics.forecastAccuracy(
      ev, "g", "t", "a", "f"))
    assert(!fa.contains("windowspecdefinition") &&
      !fa.contains("NestedLoop"), fa)
    assert(fa.contains("partial_"), fa)
    // ljungBox: lag-exploded equi self-join, moment partials
    val lb = physicalPlan(graft.ops.EventAnalytics.ljungBox(
      ev.groupBy(col("g"), col("t"))
        .agg(org.apache.spark.sql.functions.sum(col("a")).as("x")),
      "g", "t", "x", maxLag = 3))
    assert(!lb.contains("NestedLoop") && !lb.contains("CartesianProduct"),
      lb)
    // logRank: windows only over the distinct-time grid (ordered by t,
    // unpartitioned by design — the grid is spans, not rows); the
    // moment collapse is partial
    val lr = physicalPlan(graft.ops.EventAnalytics.logRank(
      ev.withColumn("e", col("tr")), "t", "e", "g", "0"))
    assert(lr.contains("partial_"), lr)
    // cohensD / ipwAte: single partial collapse + broadcast control
    val cd = physicalPlan(graft.ops.Profiling.cohensD(
      ev.withColumn("v", col("a")), "g", "v", "0"))
    assert(cd.contains("partial_") && cd.contains("Broadcast"), cd)
    val ia = physicalPlan(graft.ops.Profiling.ipwAte(
      ev.withColumn("v", col("a")), "g", "tr", "v"))
    assert(ia.contains("partial_") && !ia.contains("CartesianProduct"),
      ia)
  }

  test("round-10 batch-3 op plans: grid windows only, row-local gram " +
      "stats, histogram tiles") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ev = (1L to 300L).map(i =>
      (i, (i % 3).toString, i % 30, (i * 7) % 100)).toDF("id", "g", "t", "v")
    // trimmedMean / quantileNormalize: windows over the DISTINCT-value
    // grid keyed by group (trim) or the grid union (normalize) — the
    // raw-row table is never window input
    val tm = physicalPlan(graft.ops.Profiling.trimmedMean(
      ev, "g", "v", 100000L))
    assert(tm.contains("partial_") && !tm.contains("NestedLoop"), tm)
    assert(tm.linesIterator.filter(_.contains("windowspecdefinition"))
      .forall(_.contains("__g__#")), tm)
    val qn = physicalPlan(graft.ops.Profiling.quantileNormalize(
      ev, "g", "v"))
    assert(qn.contains("partial_") && !qn.contains("CartesianProduct"),
      qn)
    // ebShrinkRates: two partial collapses + broadcast prior join
    val eb = physicalPlan(graft.ops.Profiling.ebShrinkRates(
      ev.withColumn("ok", col("v") % 2 === 0), "g", "id", "ok"))
    assert(eb.contains("partial_") && eb.contains("Broadcast"), eb)
    // bleu/chrF native path: NO join at all before the moment collapse
    // (the clipping is row-local), single Generate + partial agg
    val docs = (1L to 30L).map(i =>
      ((i % 2).toString, i, s"a b c d", s"a b x")).toDF("g", "id", "c", "r")
    val bl = physicalPlan(graft.ops.TextAnalysis.bleu(
      docs, "g", "id", "c", "r", maxN = 2))
    assert(!bl.contains("SortMergeJoin") || bl.contains("partial_"), bl)
    assert(bl.contains("Generate"), bl)
    // fixedRadiusNN: grid equi join + min(struct) partial + left join
    val pts = (1L to 200L).map(i =>
      (i, (i * 37) % 300, (i * 73) % 300)).toDF("id", "x", "y")
    val nn = physicalPlan(graft.ops.Spatial.fixedRadiusNN(
      pts, "id", "x", "y", 15L))
    assert(!nn.contains("NestedLoop") && !nn.contains("CartesianProduct"),
      nn)
    assert(nn.contains("partial_"), nn)
    // rfm: three histogram tile joins, no global user sort
    val rf = physicalPlan(graft.ops.EventAnalytics.rfm(
      ev.withColumn("ts", col("t") * 100), "id", "ts", "v"))
    assert(!rf.contains("CartesianProduct") || rf.contains("Broadcast"),
      rf)
    assert(!rf.contains("GlobalLimit") && rf.contains("partial_"), rf)
  }

  test("round-10 batch-4 op plans: grid windows, grid-bounded " +
      "collects, registry-side fits") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ev = (1L to 300L).map(i =>
      (i, (i % 3).toString, i % 30, (i * 7) % 100, i % 2 == 0))
      .toDF("id", "g", "t", "v", "ok")
    // winsorizedMean / cvmTest: group-partitioned grid windows only
    val wm = physicalPlan(graft.ops.Profiling.winsorizedMean(
      ev, "g", "v"))
    assert(wm.contains("partial_") && !wm.contains("NestedLoop"), wm)
    assert(wm.linesIterator.filter(_.contains("windowspecdefinition"))
      .forall(_.contains("__g__#")), wm)
    val cv = physicalPlan(graft.ops.Profiling.cvmTest(
      ev.filter(col("ok")), ev.filter(!col("ok")), "g", "v"))
    assert(cv.contains("partial_") && !cv.contains("NestedLoop"), cv)
    assert(cv.linesIterator.filter(_.contains("windowspecdefinition"))
      .forall(_.contains("__g__#")), cv)
    // isotonic: one grid collect per group + grid equi join-back;
    // the PAV expression must be codegen-compiled (no interpreted
    // fallback marker)
    val iso = physicalPlan(graft.ops.Profiling.isotonicCalibration(
      ev, "g", "v", "ok"))
    assert(!iso.contains("CartesianProduct") && iso.contains("partial_"),
      iso)
    // seasonalDecompose: the p-way explode collapses partially; the
    // only windows would be none (grid self-contribution via groupBy)
    val sd = physicalPlan(graft.ops.EventAnalytics.seasonalDecompose(
      ev.groupBy(col("g"), col("t"))
        .agg(org.apache.spark.sql.functions.sum(col("v")).as("y")),
      "g", "t", "y", period = 7))
    assert(!sd.contains("windowspecdefinition") &&
      !sd.contains("CartesianProduct"), sd)
    assert(sd.contains("partial_"), sd)
    // rmst / holt: per-key (or global-grid) collect folds, single
    // partial collapse, no joins on raw rows
    val hl = physicalPlan(graft.ops.EventAnalytics.holt(
      ev, "g", "t", "v", 0.5, 0.5))
    assert(hl.contains("partial_") || hl.contains("ObjectHashAggregate"),
      hl)
    graft.ops.Caches.releaseAll()
  }

  test("persisted-IVF probe plan scans only the index snapshot — the " +
      "corpus is never rescanned to rebuild the index (q375 shape)") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_plan_ivf").toString
    val corpusPath = s"$tmp/corpus.parquet"
    (0L until 64L).map(i =>
        (i, Seq.tabulate(8)(d => ((i * 3 + d * d) % 7).toFloat - 3.0f)))
      .toDF("vec_id", "embedding").write.parquet(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    val v = graft.ops.Similarity.ivfWrite(
      graft.ops.Similarity.ivfBuild(corpus, "vec_id", "embedding",
        nCentroids = 4), s"$tmp/ivf")
    val loaded = graft.ops.Similarity.ivfLoad(spark, s"$tmp/ivf", Some(v))
    // literal (LocalTableScan) queries: any FileScan in the probe plan
    // is attributable to exactly one side
    val queries = Seq((1000L, Seq.tabulate(8)(_.toFloat)))
      .toDF("vec_id", "embedding")
    val out = graft.ops.Similarity.ivfTopKWith(loaded, queries,
      "vec_id", "embedding", 3, nProbe = 2)
    assert(out.count() == 3)
    val plan = physicalPlan(out)
    assert(plan.contains("ivf/v="), s"probe plan must scan the index:\n$plan")
    assert(!plan.contains("corpus.parquet"),
      s"probe plan rescans the corpus:\n$plan")
  }

  test("concentrationProfile (q167 shape, r13): exact ntile is " +
      "distributed — no Window, no single-partition exchange") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ev = (1L to 500L).map(i => (i, i % 37)).toDF("event_id", "user_id")
    try {
      val out = graft.ops.EventAnalytics.concentrationProfile(
        ev, "user_id", 10)
      val plan = physicalPlan(out)
      // the per-partition row_number window must be keyed by __pid__ —
      // the one window in the op — and nothing may collapse to one task
      val specs = plan.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
      assert(specs.nonEmpty && specs.forall(_.matches(
        ".*windowspecdefinition\\(__pid__#\\d+.*")),
        s"expected only __pid__-partitioned windows:\n$plan")
      assert(!plan.contains("Exchange SinglePartition"),
        s"exact ntile collapsed to a single partition:\n$plan")
      assert(!plan.contains("ntile"), s"ntile window survived:\n$plan")
      // bit-identical to the ANSI ntile the oracle computes
      val expect = {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("__n__").desc, col("user_id").asc)
        ev.groupBy(col("user_id"))
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("__n__"))
          .withColumn("decile",
            org.apache.spark.sql.functions.ntile(10).over(w))
          .groupBy(col("decile"))
          .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n_entities"),
            org.apache.spark.sql.functions.sum(col("__n__"))
              .as("n_events"))
      }
      assert(out.collect().map(_.toSeq).toSet ==
        expect.collect().map(_.toSeq).toSet)
    } finally graft.ops.Caches.releaseAll()
  }

  test("perplexityBuckets (q386 shape, r13): exact tile split is " +
      "distributed — no Window beyond __pid__, output ≡ ntile form") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (1L to 50L).map(i =>
        (i, s"w${i % 11} w${i % 7} w${i % 5} w${i % 3} w${i % 2}"))
      .toDF("doc_id", "text")
    val train = docs.filter(col("doc_id") % 4 === 0)
    try {
      val out = graft.ops.Corpus.perplexityBuckets(
        docs, "doc_id", "text", train, "text", nBuckets = 3)
      val plan = physicalPlan(out)
      val specs = plan.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
      assert(specs.nonEmpty && specs.forall(_.matches(
        ".*windowspecdefinition\\(__pid__#\\d+.*")),
        s"expected only __pid__-partitioned windows:\n$plan")
      assert(!plan.contains("Exchange SinglePartition"),
        s"exact tile split collapsed to a single partition:\n$plan")
      assert(!plan.contains("ntile"), s"ntile window survived:\n$plan")
      // bit-identical to the window-NTILE formulation (the oracle form)
      val expect = {
        val scored = graft.ops.Corpus.knScore(
          docs, "doc_id", "text", train, "text")
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("avg_neg_logprob").asc, col("doc_id").asc)
        scored.withColumn("bucket",
            org.apache.spark.sql.functions.ntile(3).over(w))
          .groupBy(col("bucket"))
          .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n_docs"),
            org.apache.spark.sql.functions.sum(col("n_tokens"))
              .as("n_tokens"),
            org.apache.spark.sql.functions.min(col("avg_neg_logprob"))
              .as("min_score"),
            org.apache.spark.sql.functions.max(col("avg_neg_logprob"))
              .as("max_score"))
      }
      assert(out.collect().map(_.toSeq).toSet ==
        expect.collect().map(_.toSeq).toSet)
    } finally graft.ops.Caches.releaseAll()
  }

  test("fp canonicalization: SortAggregate key=[...] and gid-bearing " +
      "Sort lines are permutation-proof; user sorts keep their order") {
    // the q103 run-to-run flip: RewriteDistinctAggregates enumerates
    // distinct groups in JVM-dependent order, permuting the grouping
    // key list — HashAggregate's keys=[...] was sorted since r12, but
    // SortAggregate prints key=[ (singular) and its internal Sort line
    // carries the same permutation
    val a = Seq(
      "SortAggregate(key=[source#12, n_chars#13L, doc_id#14L, gid#15], functions=[count(1)])",
      "  Sort [source#12 ASC NULLS FIRST, n_chars#13L ASC NULLS FIRST, gid#15 ASC NULLS FIRST], false, 0"
    ).mkString("\n")
    val b = Seq(
      "SortAggregate(key=[doc_id#24L, source#22, n_chars#23L, gid#25], functions=[count(1)])",
      "  Sort [n_chars#23L ASC NULLS FIRST, source#22 ASC NULLS FIRST, gid#25 ASC NULLS FIRST], false, 0"
    ).mkString("\n")
    assert(Bench.normalizeFpText(a) === Bench.normalizeFpText(b),
      s"permuted distinct-rewrite lists must canonicalize:\n${Bench.normalizeFpText(a)}\n--\n${Bench.normalizeFpText(b)}")
    // a USER orderBy permutation is real plan shape — no gid, no sort
    val u1 = "Sort [a#1 ASC NULLS FIRST, b#2 ASC NULLS FIRST], true, 0"
    val u2 = "Sort [b#2 ASC NULLS FIRST, a#1 ASC NULLS FIRST], true, 0"
    assert(Bench.normalizeFpText(u1) !== Bench.normalizeFpText(u2))
  }

  test("global rank<=k windows prune map-side: WindowGroupLimit in " +
      "skipgramPairs / negativeSamplingTable / rrfFuse plans; " +
      "trainUnigramLm's seed top-k is a TakeOrdered, not a window") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (1L to 60L).map(i =>
        (i, s"alpha beta gamma delta w$i alpha beta t${i % 7}"))
      .toDF("doc_id", "text")
    try {
      // for an empty partition spec InferWindowGroupLimit plans the
      // pruned child as either a WindowGroupLimit node or a global
      // TakeOrderedAndProject(limit=k) — both are the k-row-heap-per-
      // partition contract; what must NOT appear is the bare
      // Sort-then-Window with no limit below it
      def pruned(plan: String): Boolean =
        plan.contains("WindowGroupLimit") ||
          plan.contains("TakeOrderedAndProject(limit=5")
      val sg = physicalPlan(graft.ops.Corpus.skipgramPairs(
        docs, "doc_id", "text", window = 2, tMil = 1000000L, topK = 5))
      assert(pruned(sg),
        s"skipgramPairs global top-k lost map-side pruning:\n$sg")
      val ns = physicalPlan(graft.ops.Corpus.negativeSamplingTable(
        docs, "text", topK = 5))
      assert(pruned(ns),
        s"negativeSamplingTable top-k lost map-side pruning:\n$ns")
      val ranks = Seq(1, 2).map(s => (1L to 20L).map(i =>
          (i, (i * s) % 20 + 1)).toDF("item", "rank"))
      val rf = physicalPlan(graft.ops.Similarity.rrfFuse(
        ranks, "item", "rank", topM = 5))
      assert(pruned(rf),
        s"rrfFuse rank<=topM lost map-side pruning:\n$rf")
    } finally graft.ops.Caches.releaseAll()
  }

  test("strict fingerprint separates join STRATEGY; primary neutralizes it (r13)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.broadcast
    // same logical join, two physical strategies: the primary (canonical)
    // fingerprint must print them identically (AQE legitimately flips a
    // bistable threshold join run-to-run — q30/q293), while the strict
    // secondary keeps them apart so a genuine SMJ<->BHJ regression stays
    // diffable from the artifacts (r12 ADVICE)
    val a = spark.range(0, 1000).toDF("k")
    val d = spark.range(0, 100).toDF("k")
    val bhj = a.join(broadcast(d), "k")
    val smj = a.hint("merge").join(d.hint("merge"), "k")
    bhj.queryExecution.toRdd.count() // finalize AQE before fingerprinting
    smj.queryExecution.toRdd.count()
    val pB = physicalPlan(bhj); val pS = physicalPlan(smj)
    assert(pB.contains("BroadcastHashJoin"), s"fixture lost BHJ:\n$pB")
    assert(pS.contains("SortMergeJoin"), s"fixture lost SMJ:\n$pS")
    assert(Bench.planFingerprint(bhj) === Bench.planFingerprint(smj),
      s"primary fp must be strategy-neutral:\n${Bench.planFingerprintText(bhj)}\n--\n${Bench.planFingerprintText(smj)}")
    assert(Bench.planFingerprintStrict(bhj) !== Bench.planFingerprintStrict(smj),
      s"strict fp must separate strategies:\n${Bench.planFingerprintTextStrict(bhj)}")
    // and strict is still session-noise-stable: same plan, same print
    val bhj2 = a.join(broadcast(d), "k")
    bhj2.queryExecution.toRdd.count()
    assert(Bench.planFingerprintStrict(bhj) === Bench.planFingerprintStrict(bhj2),
      s"strict fp unstable across identical plans:\n${Bench.planFingerprintTextStrict(bhj)}\n--\n${Bench.planFingerprintTextStrict(bhj2)}")
  }
}
