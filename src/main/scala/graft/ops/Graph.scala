package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph operators over edge-list DataFrames. Connected components live
  * in [[Dedup.nearDupClusters]]; this hosts the rank/centrality side —
  * link-analysis signals a web-scale corpus pipeline uses for quality
  * weighting (a crawl's domain graph is billions of edges; a document's
  * host rank is a standard quality prior).
  */
object Graph {

  /** PageRank over `(srcCol, dstCol)` edges, DETERMINISTIC and exact:
    * ranks live in integer micro-units (node mass starts at `scale` =
    * 1e6) and every step is integral — per-edge contribution is
    * `rank div outdeg`, the damped update is
    * `scale·(dampDen-dampNum)/dampDen + (dampNum·Σcontrib) div dampDen`
    * — so two engines (and two cluster layouts) produce bit-identical
    * ranks; float PageRank differs run-to-run in the 15th digit from
    * summation order alone. The classic formulation divided by N and
    * renormalized; this is the unnormalized per-node variant (total mass
    * ≈ node count), standard for ranking use. Mass reaching a dangling
    * node (no out-edges) is dropped, the common large-graph
    * simplification — add self-loops upstream if retention matters.
    *
    * Shape per iteration (Pregel without the framework): ranks join the
    * degree-weighted edge list on `src` (both sides hash-partitioned on
    * the same key — co-partitioned after the first iteration), per-`dst`
    * contributions partial-aggregate map-side, and the new rank table is
    * a left join back to the node set. Parallel edges each carry a
    * contribution (multi-edge = weight); the node and degree tables are
    * computed once outside the loop. The rounds run through
    * [[Fixpoint.unrolled]]: lazy, with the lineage cut every
    * [[Fixpoint.CutEvery]] rounds for deep runs.
    *
    * Returns `(node, rank_micros)`. Long arithmetic holds while
    * `dampNum · total_mass` fits 2^63 — with mass ≈ nodes·1e6, safe past
    * 10^11 nodes. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, dampNum: Long = 85, dampDen: Long = 100,
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      "need iters >= 1 and 0 <= dampNum <= dampDen")
    val e = edges.select(col(srcCol).cast("long").as("__src__"),
      col(dstCol).cast("long").as("__dst__"))
    // the loop-invariant tables are PERSISTED (registered with the
    // thread-scoped cache registry, released by the consumer): without
    // this the unrolled 3-iteration plan recomputes the edge derivation
    // once per join — 7× the file scans in the q107 shape
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val nodes = Caches.registerDf(e.select(col("__src__").as("node"))
      .union(e.select(col("__dst__"))).distinct().persist(lvl))
    val deg = e.groupBy(col("__src__")).agg(count(lit(1)).as("__od__"))
    val ew = Caches.registerDf(e.join(deg, "__src__").persist(lvl))
    val base = scale * (dampDen - dampNum) / dampDen
    // r14 (guide §2.4, the r13 HITS sparse-intermediate discipline):
    // ranks stay SPARSE over the in-edge node set. A node with no
    // in-edges holds rank = base from iteration 1 on (= scale·(1−d)
    // exactly), so the per-iteration dense zero-fill join against the
    // full |nodes| table bought nothing: iteration 1 needs NO rank join
    // at all (every rank is the constant `scale`), and later iterations
    // read absent nodes as the constant `base` via a left-join coalesce
    // on the contribution side. Bit-identical ranks (exact integer
    // algebra on which rows are materialized, not on values); the dense
    // fill happens ONCE on the final output.
    def update(contribs: DataFrame) = contribs
      .groupBy(col("__dst__")).agg(sum(col("__c__")).as("__s__"))
      .select(col("__dst__").as("node"),
        (lit(base) + expr(s"($dampNum * __s__) div $dampDen"))
          .as("rank_micros"))
    val first = update(ew.select(col("__dst__"),
      expr(s"${scale}L div __od__").as("__c__")))
    val ranks = Fixpoint.unrolled("pageRank", first, iters) { ranks =>
      update(ew
        .join(ranks, ew("__src__") === ranks("node"), "left")
        .select(col("__dst__"),
          expr(s"coalesce(rank_micros, ${base}L) div __od__").as("__c__")))
    }
    nodes.join(ranks, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("rank_micros"), lit(base)).as("rank_micros"))
  }

  /** Per-node triangle participation counts over an UNDIRECTED graph
    * given as (src, dst) edge rows (direction, duplicates and self-loops
    * are normalized away). A node's triangle count is the standard
    * cohesion/spam signal (link farms are triangle-dense; organic link
    * neighborhoods are sparse).
    *
    * Scale shape — the degree-orientation algorithm: orient every edge
    * from the (degree, id)-SMALLER endpoint to the larger, so each
    * node's oriented out-degree is O(√E) on any graph; wedges are the
    * self-join of the oriented list on its source (bounded by Σ outdeg²
    * ≤ E^1.5, NOT the naive Σ deg² that a hub explodes), and each
    * triangle is found exactly once as wedge (v, w) + closing oriented
    * edge (v, w). Three equi-joins, no nested loop; the closing join
    * ships only node-id pairs.
    *
    * Returns (node, n_triangles) for every node in at least one
    * triangle. */
  def triangleCounts(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    // canonical undirected edge (lo, hi), deduped
    val und = raw.select(least(col("a"), col("b")).as("u"),
      greatest(col("a"), col("b")).as("v")).distinct()
    val deg = und.select(col("u").as("n")).union(und.select(col("v")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // orient u→v iff (d(u), u) < (d(v), v) — a total order, so exactly
    // one direction survives per edge
    val oriented = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    // wedges from a common source (id-ordered so each unordered pair
    // appears once); the orientation's acyclic total order means exactly
    // ONE corner of any triangle has both out-edges — each triangle is
    // found exactly once, closed by the canonical undirected edge
    val w1 = oriented.select(col("s"), col("t").as("x"))
    val w2 = oriented.select(col("s"), col("t").as("y"))
    val wedges = w1.join(w2, "s").filter(col("x") < col("y"))
    val tri = wedges.join(
        und.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select(col("s"), col("x"), col("y"))
    tri.select(explode(array(col("s"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node local clustering coefficient over the undirected simple
    * graph: `2·T(v) / (d(v)·(d(v)−1))` — the fraction of a node's
    * neighbor pairs that are themselves linked. The standard
    * neighborhood-cohesion signal next to raw [[triangleCounts]]:
    * link farms score near 1.0 (everything interlinks), organic hubs
    * near 0 (their neighbors don't know each other).
    *
    * Shape: [[triangleCounts]]' degree-oriented wedge join (bounded by
    * E^1.5, never Σdeg²) left-joined back onto the degree table, so
    * every node appears — triangle-free nodes with coefficient 0,
    * degree-1 nodes with NULL (undefined: no neighbor pairs exist).
    * The exact integer pair (n_triangles, degree) rides alongside the
    * rounded coefficient; division is presentation. */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v")).distinct()
    val deg = und.select(col("u").as("n")).union(und.select(col("v")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val tri = triangleCounts(edges, srcCol, dstCol)
    deg.join(tri, deg("n") === tri("node"), "left")
      .select(deg("n").as("node"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("d") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("d") * (col("d") - 1)).cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("coefficient"))
  }

  /** Directed-graph reciprocity — the mutual-link rate (follows-back
    * ratio in social graphs, mutual-citation rate in link graphs; link
    * farms sit at the extremes): distinct non-loop directed edges
    * checked for their reverse via a self-join on the REVERSED key.
    * The ratio `n_reciprocal / n_edges` leaves as the exact integer
    * pair — division is presentation.
    *
    * Shape: one distinct + one equi self-join on (dst, src) — both
    * hash-partitioned on the edge key, fan-out 1 (edges are distinct);
    * output is a single row. */
  def reciprocity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("__s__"), col(dstCol).as("__d__"))
      .filter(col("__s__") =!= col("__d__")).distinct()
    val rev = e.select(col("__d__").as("__s__"), col("__s__").as("__d__"))
    val recip = e.join(rev, Seq("__s__", "__d__"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(recip.agg(count(lit(1)).as("n_reciprocal")))
  }

  /** Bounded k-core peeling of the undirected simple graph: `rounds`
    * synchronous rounds of "drop every node with degree < k (and its
    * edges)", returning the surviving nodes with their residual
    * degrees — the dense-cohesion filter (spam/link-farm cores survive
    * aggressive peeling; organic periphery does not). The true k-core
    * is the FIXPOINT of this peel; fixed `rounds` approximates it FROM
    * ABOVE (supersets of the k-core, exact once no round drops a node)
    * — the bounded-round contract [[labelPropagation]] uses, because a
    * data-dependent convergence loop has no engine-replayable round
    * count. In practice peeling converges in a handful of rounds; pick
    * `rounds` ≥ the expected peel depth and assert convergence from the
    * returned degrees (all ≥ k ⟺ converged).
    *
    * Shape per round: one partial-aggregable degree count (node, deg —
    * never neighbor lists) + two semi-joins of the edge list against
    * the |survivors| keep-set; rounds run lazily through
    * [[Fixpoint.unrolled]]. Returns (node, degree). */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1")
    val peel = kCoreRound(k) _
    kCoreDegrees(Fixpoint.unrolled("kCorePeel",
      peel(canonicalEdges(edges, srcCol, dstCol)), rounds)(peel))
  }

  /** Distinct undirected non-loop edges as (`__a__` < `__b__`). */
  private def canonicalEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges.select(col(srcCol).cast("long").as("__a__"),
        col(dstCol).cast("long").as("__b__"))
      .filter(col("__a__") =!= col("__b__"))
    und.select(least(col("__a__"), col("__b__")).as("__a__"),
      greatest(col("__a__"), col("__b__")).as("__b__")).distinct()
  }

  private def degrees(ed: DataFrame) =
    ed.select(col("__a__").as("__n__"))
      .unionAll(ed.select(col("__b__").as("__n__")))
      .groupBy(col("__n__")).agg(count(lit(1)).as("__dg__"))

  /** One peel: keep the edges whose both ends have degree >= k. */
  private def kCoreRound(k: Int)(e: DataFrame): DataFrame = {
    val keep = degrees(e).filter(col("__dg__") >= k).select(col("__n__"))
    e.join(keep.select(col("__n__").as("__a__")), Seq("__a__"), "left_semi")
      .join(keep.select(col("__n__").as("__b__")), Seq("__b__"), "left_semi")
  }

  private def kCoreDegrees(e: DataFrame): DataFrame =
    degrees(e).select(col("__n__").as("node"), col("__dg__").as("degree"))

  /** A fixpoint loop's two record columns: `converged` and
    * `rounds_effective` (its first round that changed nothing, null when
    * none did). */
  private def withFixpoint(df: DataFrame, res: Fixpoint.Result): DataFrame =
    df.withColumn("converged", lit(res.converged))
      .withColumn("rounds_effective",
        res.stableRound.fold(lit(null).cast("int"))(lit(_)))

  /** [[kCorePeel]] with the fixpoint SURFACED: fixed-round peeling is
    * the right call for replayability, but the caller could not see
    * whether `rounds` actually reached the k-core or stopped mid-peel.
    * The same peel runs as a watched [[Fixpoint.converge]] loop until a
    * round changes nothing (peeling only ever REMOVES edges, so an
    * unchanged edge count is an unchanged edge set is the fixpoint, and
    * every later round would reproduce it). Every row carries
    *   `converged`        — true iff some round removed nothing,
    *   `rounds_effective` — the FIRST such round (null if never inside
    *                        the budget);
    * the `(node, degree)` values are bit-identical to [[kCorePeel]]'s.
    *
    * Empty-core caveat: the telemetry rides RESULT rows, so when
    * peeling empties the graph (no k-core exists) the output is zero
    * rows and converged/rounds_effective are not observable from it —
    * by design (the gate contract exports one relation). A caller that
    * needs "converged onto the empty core" distinguished from "budget
    * ran out" should count rows and fall back to [[kCorePeel]] at
    * rounds+1 depth: an empty result there too means the empty core is
    * the fixpoint. */
  def kCorePeelConverged(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1")
    val res = Fixpoint.converge("kCorePeelConverged",
      canonicalEdges(edges, srcCol, dstCol), rounds,
      Fixpoint.Watch.Fingerprint)((e, _) => kCoreRound(k)(e))
    withFixpoint(kCoreDegrees(res.state), res)
  }

  /** Degree assortativity of the undirected simple graph — "do hubs
    * link to hubs" (positive: social/collaboration structure; negative:
    * hub-and-spoke link farms, star spam). Newman's Pearson coefficient
    * over the edge-endpoint degree pairs, both orientations counted, so
    * the x/y marginals coincide and
    * `r = (m·Σxy − (Σx)²) / (m·Σx² − (Σx)²)`.
    *
    * The four moments `(m, Σxy, Σx, Σx²)` are EXACT integers — one
    * degree count pass plus one edge-degree join, everything
    * partial-aggregable, single-row output; `r` is one division of two
    * engine-identical integers (rounded to 6, the float posture), NULL
    * on a degree-regular graph (zero variance). */
  def assortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges.select(col(srcCol).cast("long").as("__a__"),
        col(dstCol).cast("long").as("__b__"))
      .filter(col("__a__") =!= col("__b__"))
    val pairs = und.select(least(col("__a__"), col("__b__")).as("__a__"),
      greatest(col("__a__"), col("__b__")).as("__b__")).distinct()
    val e2 = Caches.registerDf(
      pairs.select(col("__a__").as("__s__"), col("__b__").as("__d__"))
        .unionAll(pairs.select(col("__b__").as("__s__"),
          col("__a__").as("__d__"))).persist())
    val deg = e2.groupBy(col("__s__").as("__n__"))
      .agg(count(lit(1)).as("__dg__"))
    val xy = e2
      .join(deg.select(col("__n__").as("__s__"), col("__dg__").as("__x__")),
        Seq("__s__"))
      .join(deg.select(col("__n__").as("__d__"), col("__dg__").as("__y__")),
        Seq("__d__"))
    val m = xy.agg(count(lit(1)).as("m"),
      sum(col("__x__") * col("__y__")).as("sum_xy"),
      sum(col("__x__")).as("sum_x"),
      sum(col("__x__") * col("__x__")).as("sum_x2"))
    m.select(col("m"), col("sum_xy"), col("sum_x"), col("sum_x2"),
      when(col("m") * col("sum_x2") - col("sum_x") * col("sum_x") === 0,
        lit(null).cast("double"))
        .otherwise(round(
          (col("m") * col("sum_xy") - col("sum_x") * col("sum_x"))
            .cast("double") /
          (col("m") * col("sum_x2") - col("sum_x") * col("sum_x"))
            .cast("double"), 6)).as("r"))
  }

  /** Synchronous label-propagation community detection over the
    * UNDIRECTED simple graph of `(srcCol, dstCol)` (direction,
    * duplicates, self-loops normalized away) — the near-linear
    * community signal for domain/link clustering (mirror networks and
    * SEO farms surface as tight communities long before PageRank moves).
    *
    * DETERMINISTIC, unlike textbook LPA: every node updates
    * simultaneously each round (no visit order) to the most frequent
    * neighbor label, ties broken by SMALLEST label — so two engines and
    * two cluster layouts agree bit-for-bit after any fixed round count.
    * Fixed `iters` rather than convergence detection: synchronous LPA
    * can 2-cycle on bipartite structure, so a convergence loop may
    * never exit; bounded rounds are the honest contract (k rounds
    * propagate labels k hops).
    *
    * Shape per round (the pageRank discipline): the persisted adjacency
    * joins the label table on the neighbor key, per-(node, label)
    * counts partial-aggregate map-side, and the arg-max collapses with
    * `min_by(label, (-count, label))` — two partial-aggregable levels,
    * no window, nothing keyed on a hot label. Rounds run lazily through
    * [[Fixpoint.unrolled]]. Returns (node, label). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, "need iters >= 1")
    val (labels, round) = lpaStart(edges, srcCol, dstCol)
    Fixpoint.unrolled("labelPropagation", round(labels), iters)(round)
  }

  /** Round-0 labels (every node its own) and the synchronous LPA round
    * over the persisted undirected adjacency. */
  private def lpaStart(edges: DataFrame, srcCol: String, dstCol: String)
      : (DataFrame, DataFrame => DataFrame) = {
    val pairs = canonicalEdges(edges, srcCol, dstCol)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val adj = Caches.registerDf(
      pairs.select(col("__a__").as("__n__"), col("__b__").as("__m__"))
        .unionAll(pairs.select(col("__b__").as("__n__"),
          col("__a__").as("__m__"))).persist(lvl))
    val labels = adj.select(col("__n__").as("node")).distinct()
      .withColumn("label", col("node"))
    def round(labels: DataFrame): DataFrame = adj
      .join(labels.select(col("node").as("__m__"), col("label")),
        Seq("__m__"))
      .groupBy(col("__n__"), col("label"))
      .agg(count(lit(1)).as("__c__"))
      .groupBy(col("__n__"))
      .agg(min_by(col("label"),
        struct((-col("__c__")).as("nc"), col("label").as("lb")))
        .as("label"))
      .select(col("__n__").as("node"), col("label"))
    (labels, round)
  }

  /** [[labelPropagation]] with the fixpoint SURFACED. Fixed-iteration
    * LPA is deterministic and replayable, but synchronous LPA can
    * 2-cycle forever (the classic bipartite oscillation) and the caller
    * could not tell "stable communities" from "still flipping". The same
    * round runs as a watched [[Fixpoint.converge]] loop until a round
    * changes no label (the update is a deterministic function of the
    * labels, so an unchanged input reproduces itself every round after;
    * the round's (rows, Σ xxhash64) fingerprint, counted in the round's
    * one action, tells). Every output row carries
    *   `converged`        — true iff some round changed nothing,
    *   `rounds_effective` — the first such round (null when the budget
    *                        ran out mid-flip — e.g. the 2-cycle);
    * label values are bit-identical to [[labelPropagation]]'s.
    *
    * Edgeless-input caveat: with no edges there are no nodes, so the
    * output is zero rows and the telemetry is not observable from it
    * ([[kCorePeelConverged]]'s empty-core caveat, same design: the gate
    * contract exports one relation). An edgeless graph is trivially
    * converged at round 1 — callers needing that distinction can test
    * `edges.isEmpty` directly. */
  def labelPropagationConverged(edges: DataFrame, srcCol: String,
      dstCol: String, iters: Int = 3): DataFrame = {
    require(iters >= 1, "need iters >= 1")
    val (labels, round) = lpaStart(edges, srcCol, dstCol)
    val res = Fixpoint.converge("labelPropagationConverged", labels, iters,
      Fixpoint.Watch.Fingerprint)((l, _) => round(l))
    withFixpoint(res.state, res)
  }

  /** HITS hubs-and-authorities over `(srcCol, dstCol)` edges,
    * DETERMINISTIC and exact — the [[pageRank]] discipline applied to
    * the two-score mutual-reinforcement recurrence (Kleinberg's
    * authority signal is the standard complement to PageRank for
    * crawl-quality priors: a page LINKING TO many good sources is a hub
    * even when nothing links to it). Scores live in integer micro-units
    * (every node starts at `scale` = 1e6); each half-step sums the
    * opposite score over the edge list in decimal(38,0) — overflow-safe
    * past any realistic degree — then renormalizes integrally to
    * `(raw · scale) div max(raw)`, so the max-scoring node is exactly
    * `scale` and two engines produce bit-identical scores (the float
    * formulation's L2 normalization differs in the last digits from
    * summation order alone). Truncating `div` replaces the usual
    * divide-by-norm; ranking order is unaffected.
    *
    * Shape per iteration: two equi-joins of the persisted edge list
    * against the |nodes|-row score tables (hash-partitioned on the join
    * key), per-node sums partial-aggregate map-side, and the max is a
    * single-row aggregate broadcast back — nothing keyed on a hot
    * value. Each half-step's raw-sum table is consumed TWICE (its own
    * max and the renormalization), so it is persisted, and the hub table
    * is cut by [[Fixpoint.unrolled]] after EVERY iteration but the last
    * ([[Fixpoint.CutEachRound]]) — the Pregel superstep barrier. That is
    * a MEASURED decision, not caution:
    * unlike [[pageRank]]'s linear lineage, the mutual recurrence
    * multiplies the plan tree per half-step (a 6-iteration
    * uncut run OOMs the planner's explain string before any
    * data moves), and even at 3 iterations letting the tree compound
    * costs 8× wall on the 997-node stress graph (92.8 s vs 11.5 s —
    * planning/AQE on the compounded tree dwarfs the per-iteration
    * barrier jobs it saves). Scores are bit-identical at any cadence.
    * Only hub is cut: auth's next-iteration lineage roots at the hub cut
    * (auth_{i+1} = f(hub_i)), so the tree still cannot compound.
    * Parallel edges are collapsed; self-loops kept (HITS is
    * well-defined with them). Nodes with no in-edges hold authority 0,
    * no out-edges hub 0.
    *
    * Returns `(node, hub_micros, auth_micros)`. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && scale >= 1, "need iters >= 1 and scale >= 1")
    val e0 = edges.select(col(srcCol).cast("long").as("__src__"),
      col(dstCol).cast("long").as("__dst__")).distinct()
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = Caches.registerDf(e0.persist(lvl))
    val nodes = Caches.registerDf(e.select(col("__src__").as("node"))
      .union(e.select(col("__dst__"))).distinct().persist(lvl))
    // one half-step: raw(n) = Σ opposite-score over the edge side,
    // renormalized to (raw · scale) div max — IntegralDivide on the
    // decimal sums truncates toward zero (positive here, so = floor),
    // matching integer `//` replay on the oracle side.
    // r13: intermediate score tables stay SPARSE — a node absent from
    // the sum (no edges on that side, or fed only by 0-score nodes) is
    // exactly a 0-score node: it contributes 0 to every downstream sum
    // and cannot own max(raw) while any score is positive (and one
    // always is: the max-auth node has an in-edge, so some hub sums it).
    // The dense zero-fill (|nodes|-row left join per half-step, 2·iters
    // joins) happens ONCE on the final output — bit-identical scores,
    // guide §2.4.
    def halfStep(scores: DataFrame, joinKey: String,
        outKey: String, outCol: String): DataFrame = {
      val raw = Caches.registerDf(
        e.join(scores.withColumnRenamed("node", joinKey), joinKey)
          .groupBy(col(outKey).as("node"))
          .agg(sum(col("__s__").cast("decimal(38,0)")).as("__raw__"))
          .persist(lvl))
      val mx = raw.agg(max(col("__raw__")).as("__mx__"))
      raw.crossJoin(broadcast(mx))
        .select(col("node"),
          expr(s"(__raw__ * $scale) div __mx__").as(outCol))
    }
    // the last iteration's authorities, read by the output join
    var auth: DataFrame = null
    def iteration(hub: DataFrame): DataFrame = {
      auth = halfStep(hub.select(col("node"),
          col("hub_micros").as("__s__")),
        "__src__", "__dst__", "auth_micros")
      halfStep(auth.select(col("node"), col("auth_micros").as("__s__")),
        "__dst__", "__src__", "hub_micros")
    }
    val hub = Fixpoint.unrolled("hits",
      iteration(nodes.withColumn("hub_micros", lit(scale))), iters,
      Fixpoint.CutEachRound)(iteration)
    nodes.join(hub, Seq("node"), "left").join(auth, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub_micros"), lit(0L)).as("hub_micros"),
        coalesce(col("auth_micros"), lit(0L)).as("auth_micros"))
  }

  /** Newman modularity of a community assignment over the undirected
    * simple graph — the single-number answer to "is this clustering
    * real structure or a random carve-up?": `Q = Σ_c [E_c/m −
    * (deg_c/2m)²]`, positive when communities keep more of their edges
    * than a degree-preserving random graph would. The evaluation gate
    * for [[graft.ops.Dedup.nearDupClusters]]/[[labelPropagation]]
    * outputs before anyone ships "we found 12 communities".
    *
    * Exactness: `Q·4m² = Σ_c (4m·E_c − deg_c²)` is an EXACT integer —
    * the score leaves as the (q_num, q_den) pair plus its 6dp
    * rendering; no float ever decides. Nodes missing from
    * `assignments` form singleton communities (their intra-edges are
    * 0; surfaced via n_unassigned, never silently dropped).
    *
    * Shape: two equi joins of the canonical edge set onto the
    * assignment table + two partial-aggregable collapses (per
    * community, then global). Returns one row:
    * `(n_nodes, n_edges, n_communities, n_unassigned, q_num, q_den,
    * modularity)`. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      assignments: DataFrame, nodeCol: String,
      communityCol: String): DataFrame = {
    val und = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v")).distinct()
    val asg = assignments.select(col(nodeCol).cast("long").as("__n__"),
      col(communityCol).cast("string").as("__c__")).distinct()
    val nodes = und.select(col("u").as("__n__"))
      .union(und.select(col("v").as("__n__"))).distinct()
    val lab = nodes.join(asg, Seq("__n__"), "left")
      .select(col("__n__"),
        coalesce(col("__c__"), concat(lit("__singleton__"),
          col("__n__").cast("string"))).as("__c__"))
    val e2 = und
      .join(lab.select(col("__n__").as("u"), col("__c__").as("__cu__")),
        Seq("u"))
      .join(lab.select(col("__n__").as("v"), col("__c__").as("__cv__")),
        Seq("v"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val perC = e2
      .select(explode(array(col("__cu__"), col("__cv__"))).as("__c__"),
        (col("__cu__") === col("__cv__")).as("__intra__"))
      .groupBy(col("__c__"))
      .agg(count(lit(1)).as("__deg__"),
        (sum(when(col("__intra__"), 1L).otherwise(0L)) / 2).cast("long")
          .as("__ec__"))
    val m = und.count()
    val unassigned = nodes.join(asg, Seq("__n__"), "left_anti").count()
    val nNodes = nodes.count()
    val g = perC.agg(count(lit(1)).as("n_communities"),
      sum(dec(lit(4L) * lit(m)) * dec(col("__ec__")) -
        dec(col("__deg__")) * dec(col("__deg__"))).as("q_num"))
    g.select(lit(nNodes).as("n_nodes"), lit(m).as("n_edges"),
      col("n_communities"), lit(unassigned).as("n_unassigned"),
      col("q_num").cast("long").as("q_num"),
      (lit(4L) * lit(m) * lit(m)).as("q_den"),
      when(lit(m) > 0, round(col("q_num").cast("double") /
        (4.0 * m.toDouble * m.toDouble), 6)).as("modularity"))
  }

  /** Link prediction over the undirected simple graph: for every
    * NON-adjacent pair at distance 2, the three classic neighborhood
    * scores —
    *   - `common`: common-neighbor count (exact),
    *   - `ra_micro`: resource-allocation index Σ_z 1e6 div deg(z) over
    *     common neighbors z (Zhou/Lü/Zhang 2009), kept as an exact
    *     integer-division sum so both engines agree bit-for-bit
    *     (Adamic–Adar's 1/ln d would drag floats through a Σ),
    *   - `jac_num`/`jac_den`: neighborhood Jaccard \|Γa∩Γb\| /
    *     \|Γa∪Γb\| as the exact integer pair (division is presentation).
    * Returns the top `topK` candidates by (common, ra_micro) with full
    * id tie-breaks — a deterministic total order.
    *
    * Scale shape: candidates come from the wedge self-join through the
    * shared neighbor, which is bounded by Σ_z deg(z)² — a hub z
    * explodes it. `maxWedgeDeg` drops intermediates above the cap
    * BEFORE the join (default 10⁴ caps any z at 10⁸ wedges); a
    * neighbor shared with half the graph contributes ~0 RA weight and
    * no discriminative signal, so the cap is the standard
    * bounded-loss answer, surfaced in the contract rather than hidden.
    * Already-adjacent pairs leave via one anti-join on the canonical
    * edge set. */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
      topK: Int = 100, maxWedgeDeg: Long = 10000L): DataFrame = {
    require(topK > 0 && maxWedgeDeg > 0,
      s"topK and maxWedgeDeg must be > 0; got $topK, $maxWedgeDeg")
    val und = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v")).distinct()
    val sym = Caches.registerDf(
      und.select(col("u").as("n"), col("v").as("m"))
        .union(und.select(col("v").as("n"), col("u").as("m")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val deg = sym.groupBy(col("n")).agg(count(lit(1)).as("d"))
    // wedges a—z—b with a < b, hub intermediates capped
    val zdeg = deg.filter(col("d") <= maxWedgeDeg)
      .select(col("n").as("__z__"), col("d").as("__dz__"))
    val w1 = sym.select(col("m").as("__z__"), col("n").as("__a__"))
    val w2 = sym.select(col("m").as("__z__"), col("n").as("__b__"))
    val cand = w1.join(w2, "__z__").filter(col("__a__") < col("__b__"))
      .join(zdeg, "__z__")
      .groupBy(col("__a__"), col("__b__"))
      .agg(count(lit(1)).as("common"),
        sum(expr("1000000L div __dz__")).as("ra_micro"))
    val nonAdj = cand.join(
      und.select(col("u").as("__a__"), col("v").as("__b__")),
      Seq("__a__", "__b__"), "left_anti")
    nonAdj
      .join(deg.select(col("n").as("__a__"), col("d").as("__da__")), "__a__")
      .join(deg.select(col("n").as("__b__"), col("d").as("__db__")), "__b__")
      .select(col("__a__").as("id_a"), col("__b__").as("id_b"),
        col("common"), col("ra_micro"),
        col("common").as("jac_num"),
        (col("__da__") + col("__db__") - col("common")).as("jac_den"))
      .orderBy(col("common").desc, col("ra_micro").desc,
        col("id_a"), col("id_b"))
      .limit(topK)
  }
}
