package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.Graph

class GraphSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int = 3)
      : Map[Long, Long] =
    Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank_micros"))
      .toMap

  test("pageRank: 2-cycle is a fixed point at the initial mass") {
    // every node forwards its whole rank and receives one whole rank:
    // 150000 + (85 · 1e6) div 100 = 1e6 exactly, at every iteration
    val got = ranks(Seq((1L, 2L), (2L, 1L)))
    assert(got == Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("pageRank: hand-computed triangle with a dangling node") {
    // a→b, a→c, b→a; c is dangling (its mass drains — documented).
    // i1: a=1000000, b=c=575000; i2: a=638750, b=c=575000;
    // i3: a=638750, b=c=150000+(85·(638750 div 2)) div 100=421468
    val got = ranks(Seq((1L, 2L), (1L, 3L), (2L, 1L)))
    assert(got == Map(1L -> 638750L, 2L -> 421468L, 3L -> 421468L), got)
  }

  test("pageRank: parallel edges carry weight, layout never changes ranks") {
    // two a→b edges double a's contribution to b relative to one: with
    // deg(a)=2 each edge carries a/2, so b receives a — same as a single
    // edge from a node of out-degree 1
    val multi = ranks(Seq((1L, 2L), (1L, 2L)), iters = 1)
    val single = ranks(Seq((1L, 2L)), iters = 1)
    assert(multi(2L) == single(2L))
    // rank vector is identical across input layouts/partitionings
    val edges = Seq.tabulate(40)(i => ((i % 7).toLong, ((i * 3) % 7).toLong))
    val a = Graph.pageRank(edges.toDF("src", "dst").repartition(7),
      "src", "dst", 3).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val b = Graph.pageRank(edges.reverse.toDF("src", "dst").repartition(2),
      "src", "dst", 3).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(a.toSeq == b.toSeq)
  }

  test("pageRank plan: equi-joins only, no nested loop / cartesian") {
    val df = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val plan = Graph.pageRank(df, "src", "dst", 2)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("nestedloop"), plan)
    assert(!plan.toLowerCase.contains("cartesian"), plan)
  }

  /** The exact integer PageRank recurrence: ranks start at `scale`, a
    * node with no in-edge holds `base`, contributions are `rank div
    * outdeg`. */
  private def pageRankRef(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, Long] = {
    val (scale, dampNum, dampDen) = (1000000L, 85L, 100L)
    val base = scale * (dampDen - dampNum) / dampDen
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outDeg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var rank = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val sums = edges.groupBy(_._2).map { case (n, es) =>
        n -> es.map(e => rank(e._1) / outDeg(e._1)).sum }
      rank = nodes.map(n =>
        n -> sums.get(n).fold(base)(s => base + dampNum * s / dampDen)).toMap
    }
    rank
  }

  test("pageRank: deep iteration checkpointing is rank-identical and bounds the plan") {
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
    val df = es.toDF("src", "dst")
    try {
      // 10 rounds cross the driver's lineage cut; ranks stay exact
      val deep = Graph.pageRank(df, "src", "dst", iters = 10)
      assert(deep.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ==
        pageRankRef(es, 10))
      // the 10-round plan restarts from the last cut: at most CutEvery
      // rank joins after it, plus the final dense fill
      val joins = deep.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.size
      assert(joins <= graft.ops.Fixpoint.CutEvery + 1,
        s"the cut did not truncate lineage: $joins joins")
    } finally graft.ops.Caches.releaseAll()
  }

  private def tri(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.triangleCounts(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("triangleCounts: hand-checked graph, normalization, K4") {
    // triangle 1-2-3 plus a dangling edge 3-4: nodes 1,2,3 in exactly
    // one triangle each, node 4 in none (absent from output)
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // direction, duplicates and self-loops are normalized away
    assert(tri(Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 3L),
      (2L, 3L))) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // K4 has 4 triangles; every node sits in 3 of them
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    assert(tri(k4) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // triangle-free (bipartite star): empty result
    assert(tri(Seq((1L, 10L), (2L, 10L), (3L, 10L))).isEmpty)
  }

  test("triangleCounts orientation bounds the hub wedge explosion") {
    // star hub 0 with 20 leaves + one closing edge (1,2): naive wedges
    // at the hub = C(20,2) = 190; degree orientation points every spoke
    // AT the hub (leaves have degree 1-2 < 20), so the hub is never a
    // wedge SOURCE and the only wedge comes from a closing-edge corner
    val star = (1L to 20L).map(l => (0L, l)) :+ (1L, 2L)
    assert(tri(star) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
    // layout invariance
    val df = star.toDF("src", "dst").repartition(5)
    val again = Graph.triangleCounts(df, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("reciprocity: mutual pairs counted both ways, loops and dups excluded") {
    // 1↔2 mutual (2 reciprocal edges), 1→3 one-way, 3→3 loop dropped,
    // 1→2 duplicated (distinct-ed) → n_edges 3, n_reciprocal 2
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 3L), (1L, 2L))
      .toDF("s", "d")
    val r = Graph.reciprocity(e, "s", "d").collect().head
    assert((r.getAs[Long]("n_edges"), r.getAs[Long]("n_reciprocal")) ==
      ((3L, 2L)))
    // edgeless graph: zero row, not an empty frame
    val z = Graph.reciprocity(Seq((7L, 7L)).toDF("s", "d"), "s", "d")
      .collect().head
    assert((z.getAs[Long]("n_edges"), z.getAs[Long]("n_reciprocal")) ==
      ((0L, 0L)))
  }

  test("kCorePeel: rounds peel leaves; enough rounds reach the exact 2-core") {
    // triangle {1,2,3} + path tail 3-4-5
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    def got(rounds: Int) = Graph.kCorePeel(e.toDF("s", "d"), "s", "d",
        k = 2, rounds = rounds)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("degree"))
      .toMap
    // round 1 drops only the outer leaf (5); 4's degree falls to 1
    assert(got(1) == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
    // round 2 drops 4 → the triangle, all residual degrees >= k (converged)
    assert(got(2) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    graft.ops.Caches.releaseAll()
    // pseudo-random graph: bounded peel at depth 10 ≡ the true 2-core
    // fixpoint computed by a reference loop
    val big = (0 until 300).map(i =>
      ((i * 37 % 120).toLong, (i * 17 % 120 + i % 2).toLong))
    var ref = big.filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    var changed = true
    while (changed) {
      val deg = (ref.map(_._1) ++ ref.map(_._2)).groupBy(identity)
        .map { case (n, xs) => n -> xs.size }
      val next = ref.filter(p => deg(p._1) >= 2 && deg(p._2) >= 2)
      changed = next.size != ref.size
      ref = next
    }
    val wantDeg = (ref.map(_._1) ++ ref.map(_._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
    // 10 rounds cross the driver's lineage cut
    val deep = Graph.kCorePeel(big.toDF("s", "d"), "s", "d", 2, 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deep == wantDeg)
    graft.ops.Caches.releaseAll()
  }

  test("assortativity: star graph -1 exactly, regular graph NULL r") {
    // hub 0 ↔ {1,2,3}: degrees (3,1,1,1); both orientations → m=6,
    // Σxy=18, Σx=12, Σx²=30 → r = (108−144)/(180−144) = −1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 0L)) // dup dir absorbed
      .toDF("s", "d")
    val r = Graph.assortativity(star, "s", "d").collect().head
    assert(r.getAs[Long]("m") == 6L && r.getAs[Long]("sum_xy") == 18L)
    assert(r.getAs[Long]("sum_x") == 12L && r.getAs[Long]("sum_x2") == 30L)
    assert(r.getAs[Double]("r") == -1.0)
    graft.ops.Caches.releaseAll()
    // 4-cycle: every degree 2 → zero variance → NULL, not NaN/divide
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("s", "d")
    val rc = Graph.assortativity(cyc, "s", "d").collect().head
    assert(rc.isNullAt(rc.fieldIndex("r")))
    graft.ops.Caches.releaseAll()
  }

  /** Reference synchronous LPA (min tie-break) for cross-validation. */
  private def lpaRef(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (n, es) => n -> es.map(_._2) }
    var labels = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      labels = adj.map { case (n, ms) =>
        val freq = ms.groupBy(labels).map { case (l, xs) => (l, xs.size) }
        n -> freq.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    labels
  }

  test("labelPropagation ≡ reference sync-LPA; communities converge") {
    // two triangles bridged by one edge, plus duplicate/reversed/loop
    // edges that normalization must absorb
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (3L, 3L),
      (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L))
    for (iters <- Seq(1, 2, 3, 4)) {
      val got = Graph.labelPropagation(e.toDF("s", "d"), "s", "d", iters)
        .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label"))
        .toMap
      assert(got == lpaRef(e, iters), s"iters=$iters: got $got")
      graft.ops.Caches.releaseAll()
    }
    // a larger pseudo-random graph agrees too (the argmax/tie path gets
    // exercised beyond hand cases), across the driver's lineage cut
    val big = (0 until 400).map(i =>
      ((i * 37 % 97).toLong, (i * 61 % 97 + (i % 3)).toLong))
    val a = Graph.labelPropagation(big.toDF("s", "d"), "s", "d", 7).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == lpaRef(big, 7))
    graft.ops.Caches.releaseAll()
  }

  test("clusteringCoefficient: square + diagonal, hand-computed") {
    // square 1-2-3-4 with diagonal (1,3) → triangles (1,2,3), (1,3,4);
    // isolated edge (5,6) → degree-1 nodes get NULL (undefined), not 0.
    // duplicate/reversed/self-loop edges must normalize away.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (2L, 1L), (3L, 2L), (4L, 4L), (5L, 6L))
    val got = Graph.clusteringCoefficient(e.toDF("s", "d"), "s", "d")
      .collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("degree"), r.getAs[Long]("n_triangles"),
          Option(r.getAs[java.lang.Double]("coefficient"))))).toMap
    assert(got(1L) == (3L, 2L, Some(0.666667)))
    assert(got(2L) == (2L, 1L, Some(1.0)))
    assert(got(3L) == (3L, 2L, Some(0.666667)))
    assert(got(4L) == (2L, 1L, Some(1.0)))
    assert(got(5L) == (1L, 0L, None))
    assert(got(6L) == (1L, 0L, None))
    assert(got.size == 6)
  }

  test("clusteringCoefficient: complete graph is all-1.0, star is all-0") {
    val k5 = for (i <- 0L until 5L; j <- (i + 1) until 5L) yield (i, j)
    val gotK = Graph.clusteringCoefficient(k5.toDF("s", "d"), "s", "d")
      .collect()
    assert(gotK.length == 5)
    assert(gotK.forall(_.getAs[Double]("coefficient") == 1.0))
    assert(gotK.forall(_.getAs[Long]("n_triangles") == 6L)) // C(4,2)
    // star: hub's neighbors never interlink → hub coefficient 0.0
    val star = (1L to 6L).map(i => (0L, i))
    val gotS = Graph.clusteringCoefficient(star.toDF("s", "d"), "s", "d")
      .collect().map(r => r.getAs[Long]("node") ->
        Option(r.getAs[java.lang.Double]("coefficient"))).toMap
    assert(gotS(0L) == Some(0.0))
    (1L to 6L).foreach(i => assert(gotS(i).isEmpty))
  }

  private def hitsMap(edges: Seq[(Long, Long)], iters: Int = 3)
      : Map[Long, (Long, Long)] =
    Graph.hits(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect()
      .map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("hub_micros"), r.getAs[Long]("auth_micros"))))
      .toMap

  test("hits: 2-cycle is a fixed point at the scale") {
    // each half-step's raw sums are equal across nodes, so the integer
    // renormalization returns every score to exactly `scale`
    val got = hitsMap(Seq((1L, 2L), (2L, 1L)))
    assert(got == Map(1L -> ((1000000L, 1000000L)),
      2L -> ((1000000L, 1000000L))))
  }

  test("hits: hand-computed 3-node DAG, exact integer truncation") {
    // edges 1→2, 1→3, 2→3: node 1 is the pure hub (links to everything,
    // nothing links to it), node 3 the pure authority. Expected values
    // are the unrolled integer recurrence (micro-units, div truncation):
    // iter3 auth(2) = 615384, hub(2) = 619047.
    val got = hitsMap(Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(got == Map(
      1L -> ((1000000L, 0L)),
      2L -> ((619047L, 615384L)),
      3L -> ((0L, 1000000L))))
    // parallel edges must not double-count: same graph, same answer
    val dup = hitsMap(Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 3L)))
    assert(dup == got)
    graft.ops.Caches.releaseAll()
  }

  test("hits plan: equi-joins only, checkpointing keeps scores identical") {
    val edges = (for (i <- 0L until 40L) yield (i % 7, (i * 3) % 11))
      .toDF("src", "dst")
    val p = Graph.hits(edges, "src", "dst", iters = 2)
    val bad = p.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.isEmpty && !j.joinType.sql.contains("CROSS") => j
    }
    assert(bad.isEmpty, "HITS must never plan a conditionless non-cross join")
    // six iterations cut five times: scores are the exact integer
    // recurrence, replayed here
    val es = (for (i <- 0L until 40L) yield (i % 7, (i * 3) % 11)).distinct
    val scale = 1000000L
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    def half(score: Map[Long, Long], from: ((Long, Long)) => Long,
        to: ((Long, Long)) => Long): Map[Long, Long] = {
      val raw = es.groupBy(to).map { case (n, xs) =>
        n -> xs.map(e => BigInt(score.getOrElse(from(e), 0L))).sum }
      val mx = raw.values.max
      raw.map { case (n, r) => n -> (r * scale / mx).toLong }
    }
    var hub = nodes.map(_ -> scale).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to 6) {
      auth = half(hub, _._1, _._2)
      hub = half(auth, _._2, _._1)
    }
    val want = nodes.map(n =>
      (n, hub.getOrElse(n, 0L), auth.getOrElse(n, 0L))).toSet
    val deep = Graph.hits(edges, "src", "dst", iters = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(deep == want)
    graft.ops.Caches.releaseAll()
  }

  test("modularity: exact rational Q for two bridged triangles, " +
      "unassigned nodes become counted singletons") {
    import spark.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("s", "d")
    val asg = Seq((1L, "A"), (2L, "A"), (3L, "A"),
      (4L, "B"), (5L, "B"), (6L, "B")).toDF("n", "c")
    val r = Graph.modularity(e, "s", "d", asg, "n", "c").collect().head
    // Q·4m² = 2·(4·7·3 − 49) = 70 over 196
    assert(r.getAs[Long]("q_num") == 70L &&
      r.getAs[Long]("q_den") == 196L)
    assert(r.getAs[Double]("modularity") == 0.357143)
    assert(r.getAs[Long]("n_communities") == 2L &&
      r.getAs[Long]("n_unassigned") == 0L)
    // node 6 unassigned -> singleton community, Q drops
    val r2 = Graph.modularity(e, "s", "d",
      asg.filter(col("n") =!= 6L), "n", "c").collect().head
    assert(r2.getAs[Long]("q_num") == 34L)
    assert(r2.getAs[Long]("n_communities") == 3L &&
      r2.getAs[Long]("n_unassigned") == 1L)
  }

  test("linkPrediction: common/RA/Jaccard exact, adjacency excluded, " +
      "deterministic order, hub cap prunes") {
    // 1-2, 1-3, 2-3, 2-4, 3-4, 4-5: degrees 1:2 2:3 3:3 4:3 5:1
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("s", "d")
    val got = Graph.linkPrediction(e, "s", "d", topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      // (1,4): common {2,3}, ra 2·(1e6 div 3), jac 2/(2+3-2)
      (1L, 4L, 2L, 666666L, 2L, 3L),
      // (2,5) then (3,5): common {4}, tie broken by id_a
      (2L, 5L, 1L, 333333L, 1L, 3L),
      (3L, 5L, 1L, 333333L, 1L, 3L)))
    // cap at deg<=2: only z∈{1,5} survive; the lone wedge 2-1-3 is
    // adjacent, so nothing is predicted
    assert(Graph.linkPrediction(e, "s", "d", topK = 10,
      maxWedgeDeg = 2L).count() == 0L)
    graft.ops.Caches.releaseAll()
  }

  test("labelPropagationConverged: fixpoint surfaced, labels unchanged; " +
      "bipartite 2-cycle never converges") {
    // triangle: round 1 {2,1,1}, round 2 {1,1,1}, round 3 verifies the
    // fixpoint (no change) -> converged at rounds_effective = 3
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val c3 = Graph.labelPropagationConverged(tri.toDF("s", "d"), "s", "d",
      iters = 3).collect()
    assert(c3.forall(_.getAs[Boolean]("converged")))
    assert(c3.forall(_.getAs[Int]("rounds_effective") == 3))
    // label values bit-identical to the plain variant at the same depth
    assert(c3.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Graph.labelPropagation(tri.toDF("s", "d"), "s", "d", 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    graft.ops.Caches.releaseAll()
    // depth short of the fixpoint: every round still changed something
    val c2 = Graph.labelPropagationConverged(tri.toDF("s", "d"), "s", "d",
      iters = 2).collect()
    assert(c2.forall(!_.getAs[Boolean]("converged")))
    assert(c2.forall(r => r.isNullAt(r.fieldIndex("rounds_effective"))))
    graft.ops.Caches.releaseAll()
    // the classic sync-LPA pathology: a single edge 2-cycles forever,
    // and the flag says so instead of presenting flipping labels as done
    val bip = Seq((1L, 2L))
    val cb = Graph.labelPropagationConverged(bip.toDF("s", "d"), "s", "d",
      iters = 6).collect()
    assert(cb.forall(!_.getAs[Boolean]("converged")))
    graft.ops.Caches.releaseAll()
  }

  test("kCorePeelConverged: first no-removal round surfaced; " +
      "degrees identical to kCorePeel") {
    // triangle + tail 3-4-5: counts 5 -> 4 -> 3 -> 3; round 3 removes
    // nothing -> converged at rounds_effective = 3
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    val c3 = Graph.kCorePeelConverged(e.toDF("s", "d"), "s", "d",
      k = 2, rounds = 3).collect()
    assert(c3.forall(_.getAs[Boolean]("converged")))
    assert(c3.forall(_.getAs[Int]("rounds_effective") == 3))
    assert(c3.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Graph.kCorePeel(e.toDF("s", "d"), "s", "d", 2, 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    graft.ops.Caches.releaseAll()
    // budget exhausted mid-peel: rounds 1 and 2 both removed edges
    val c2 = Graph.kCorePeelConverged(e.toDF("s", "d"), "s", "d",
      k = 2, rounds = 2).collect()
    assert(c2.forall(!_.getAs[Boolean]("converged")))
    graft.ops.Caches.releaseAll()
    // an input that IS already the k-core converges in round 1
    val core = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val c1 = Graph.kCorePeelConverged(core.toDF("s", "d"), "s", "d",
      k = 2, rounds = 2).collect()
    assert(c1.forall(_.getAs[Boolean]("converged")))
    assert(c1.forall(_.getAs[Int]("rounds_effective") == 1))
    graft.ops.Caches.releaseAll()
  }
}
