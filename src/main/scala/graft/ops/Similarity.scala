package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — exact, one pass over the corpus per
  * query batch (broadcast the queries, never the corpus). Scale path:
  * sign-bit LSH bucketing (IVF-style routing would slot in the same shape:
  * assign → shuffle-on-bucket → local scan).
  *
  * Dot products are left-to-right folds over the vector — deterministic,
  * reproducible across engines (the DuckDB oracle replays the same
  * association order).
  */
object Similarity {

  /** Johnson–Lindenstrauss random projection to `outDims` dimensions with
    * a DETERMINISTIC ±1 projection matrix: sign(j,i) is a parity bit of an
    * LCG mix of the flat index `j·dim+i`, recomputed identically on every
    * executor — no materialized matrix, no broadcast, no seed to
    * coordinate, and the DuckDB oracle replays it bit-for-bit. Input
    * vectors are quantized to a fixed-point grid (`round(x·scale)`), so
    * every output coordinate is an exact BIGINT sum — engine-independent,
    * unlike a float dot against a random Gaussian matrix.
    *
    * ±1 (Achlioptas) projections satisfy the JL lemma like Gaussians do;
    * distances are preserved within ε for outDims = O(log n / ε²). Per-row
    * O(outDims·dim), shuffle-free — the cheap front of an ANN/clustering
    * pipeline at 100 TB, cutting every downstream shuffle byte count by
    * dim/outDims. */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
      outDims: Int, scale: Long = 1000L,
      projCol: String = "proj"): DataFrame =
    df.select(col(idCol),
      graft.functions.NativeHashes
        .random_projection(col(vecCol), outDims, scale).as(projCol))

  /** SemDeDup-style semantic near-duplicate pairs: k-means partitions the
    * embedding corpus (fixed-point Lloyd's — [[Clustering.kmeansAssign]]),
    * then EXACT cosine runs only WITHIN clusters. The published
    * semantic-dedup recipe: cluster count k turns the O(n²) pairwise
    * problem into k problems of O((n/k)²), and the within-cluster
    * restriction is the documented approximation (a near-dup pair split
    * across a cluster boundary is missed — acceptable because near-dups
    * sit close in embedding space and land together). At 100 TB: raise k
    * so clusters fit a partition; assignment is shuffle-free, the
    * cluster-keyed self-join is the only exchange, AQE splits skewed
    * clusters. */
  def clusteredNearDups(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double,
      scale: Int = 1000): DataFrame = {
    val assign = Clustering.kmeansAssign(df, idCol, vecCol, k, iters, scale)
      .select(col(idCol).as("__id__"), col("cluster"))
    val withC = df.select(col(idCol).as("__id__"), col(vecCol).as("__v__"))
      .join(assign, Seq("__id__"))
    val a = withC.alias("a")
    val b = withC.alias("b")
    a.join(b, col("a.cluster") === col("b.cluster") &&
        col("a.__id__") < col("b.__id__"))
      .withColumn("cosine", cosine(col("a.__v__"), col("b.__v__")))
      // NaN (zero-norm) sorts above any threshold in Spark — exclude
      .filter(col("cosine") >= threshold && !isnan(col("cosine")))
      .select(col("a.__id__").as("id_a"), col("b.__id__").as("id_b"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Exact dot product: Σ a_i·b_i as a left fold (fixed association).
    * Codegen'd ([[graft.functions.NativeHashes.dot_product]]); OpsSpec
    * checks it against the SQL-lambda spec `SpecTwins.dotLambda`. */
  def dot(a: Column, b: Column): Column =
    graft.functions.NativeHashes.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** try_divide, not `/`: a ZERO-NORM vector (empty doc, padding row)
    * makes the denominator exactly 0 and ANSI Spark throws
    * DIVIDE_BY_ZERO even on doubles — null-on-zero instead, which every
    * `cosine >= t` consumer filters exactly like the NaN guard. (DuckDB
    * 1.0's double/0 is NULL as well — verified, it has no IEEE-division
    * mode — and its `NOT isnan(NULL)` is NULL, so the oracle's WHERE
    * drops the same rows.) */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), norm(a) * norm(b))

  /** Greedy Maximal Marginal Relevance (Carbonell & Goldstein 1998)
    * selection — diversity-aware reranking of a scored candidate set:
    * round r picks the candidate maximizing
    *
    *   mmr = (lamNum·rel − (lamDen−lamNum)·maxSimToSelected) / lamDen
    *
    * (λ as the exact integer rational lamNum/lamDen — a float `1−λ`
    * would differ between engines at the last bit and flip argmax
    * ties), ties by smallest id. The embedding sibling of
    * [[graft.ops.Corpus.maxCoverageSelect]]: where that op never pays
    * for a SHINGLE twice, this never pays for a semantic NEIGHBORHOOD
    * twice — the standard rerank between ANN retrieval and a training
    * batch / RAG context.
    *
    * [[mmrSelectGrouped]] over one constant group: no loop of its own.
    * OpsSpec asserts it ≡ the direct formulation, the executable spec
    * `SpecTwins.mmrSelectRecompute`.
    *
    * Returns `(rank, <idCol>, relevance, max_sim_prev, mmr)` ordered by
    * rank — max_sim_prev is NULL for rank 1, doubles rounded to 6 (the
    * float export posture). Stops early when candidates run out. The
    * vector column is pinned to `array<float>` up front, so an
    * `array<double>` input works instead of class-casting mid-loop. */
  def mmrSelect(vecs: DataFrame, idCol: String, vecCol: String,
      relCol: String, k: Int, lamNum: Long = 7, lamDen: Long = 10)
      : DataFrame =
    mmrSelectGrouped(vecs.withColumn("__one__", lit(0L)), "__one__", idCol,
        vecCol, relCol, k, lamNum, lamDen)
      .drop("__one__").orderBy(col("rank"))

  /** [[mmrSelect]] run independently over every GROUP of a keyed
    * candidate table in LOCKSTEP — the serving-batch shape (one MMR
    * rerank per retrieval query): a million-query batch reranks in k
    * rounds, not |groups|·k driver round trips (r13: the q381 chain
    * spent ~70% of its wall in per-query round trips).
    *
    * Scale shape (INCREMENTAL max-sim): the candidate table carries the
    * running max-similarity to its group's selected set as a MATERIALIZED
    * `__ms__` column. Round r computes EVERY group's argmax
    * `max(struct(mmr, -id, v))` in one partial-aggregable groupBy and
    * broadcast-joins the picks back by group: the pick is marked with
    * its rank, and every other open candidate folds exactly ONE new
    * cosine (against its group's pick) via `greatest(prev_ms, new_sim)`,
    * value-identical to the full `greatest(sim_1..sim_{r-1})` recompute
    * because `greatest` (max over non-null values, null iff all null) is
    * associative. So a selection reads |C|·k sims TOTAL where the naive
    * recompute reads |C|·k²/2, no candidate-candidate self-join forms,
    * and no pick vector is ever collected to the driver. The rounds run
    * as a watched [[Fixpoint.converge]] loop: each is one count that
    * materializes the candidate table and counts the round's picks; a
    * round that picks nothing (every group exhausted) ends it early.
    *
    * Group and id columns are cast to long; `(group, id)` pairs are
    * unique. Returns `(groupCol, rank, <idCol>, relevance, max_sim_prev,
    * mmr)`; a group stops early when its candidates run out. */
  def mmrSelectGrouped(vecs: DataFrame, groupCol: String, idCol: String,
      vecCol: String, relCol: String, k: Int, lamNum: Long = 7,
      lamDen: Long = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lamDen > 0 && lamNum >= 0 && lamNum <= lamDen,
      s"need 0 <= lamNum <= lamDen, got $lamNum/$lamDen")
    val score = (lit(lamNum) * col("__r__") -
      lit(lamDen - lamNum) * coalesce(col("__ms__"), lit(0.0))) /
      lit(lamDen)
    // __rank__: the round that picked the row (null while open);
    // __picked__: picked by the latest round
    val init = vecs.select(
        col(groupCol).cast("long").as("__g__"),
        col(idCol).cast("long").as("__id__"),
        col(vecCol).cast("array<float>").as("__v__"),
        col(relCol).cast("double").as("__r__"))
      .filter(col("__r__").isNotNull)
      .withColumn("__ms__", lit(null).cast("double"))
      .withColumn("__rank__", lit(null).cast("int"))
      .withColumn("__picked__", lit(false))
    val res = Fixpoint.converge("mmrSelectGrouped", init, k,
        Fixpoint.Watch.Flag("__picked__")) { (cur, r) =>
      val open = col("__rank__").isNull
      val picks = cur.filter(open).withColumn("__mmr__", score)
        .groupBy(col("__g__"))
        .agg(max(struct(col("__mmr__").as("m"), (-col("__id__")).as("nid"),
          col("__v__").as("v"))).as("__b__"))
        .select(col("__g__"), (-col("__b__.nid")).as("__pid__"),
          col("__b__.v").as("__pv__"))
      val hit = coalesce(open && col("__id__") === col("__pid__"), lit(false))
      // the last round's fold has no reader
      val ms = if (r == k) col("__ms__")
        else when(open && !hit && col("__pid__").isNotNull,
          greatest(col("__ms__"), cosine(col("__v__"), col("__pv__"))))
          .otherwise(col("__ms__"))
      cur.join(broadcast(picks), Seq("__g__"), "left")
        .select(col("__g__"), col("__id__"), col("__v__"), col("__r__"),
          ms.as("__ms__"),
          when(hit, lit(r)).otherwise(col("__rank__")).as("__rank__"),
          hit.as("__picked__"))
    }
    res.state.filter(col("__rank__").isNotNull)
      .select(col("__g__").as(groupCol), col("__rank__").as("rank"),
        col("__id__").as(idCol), round(col("__r__"), 6).as("relevance"),
        round(col("__ms__"), 6).as("max_sim_prev"),
        round(score, 6).as("mmr"))
  }

  /** Sign-bit signature: bit i = (v_i > 0) over the first `bits` dims —
    * a deterministic random-hyperplane LSH (planes = axis planes).
    * Codegen'd ([[graft.functions.NativeHashes.sign_bits]]); OpsSpec
    * cross-validates it against `SpecTwins.signBitsLambda`. */
  def signBits(v: Column, bits: Int): Column =
    graft.functions.NativeHashes.sign_bits(v, bits)

  /** Brute-force cosine top-k: for each row of `queries`, the `k` highest
    * cosine rows of `corpus` (excluding self-matches by id).
    *
    * Plan shape: broadcast(queries) × corpus → score → bounded top-k
    * AGGREGATE ([[graft.functions.TopKAgg]]) — the partial (map-side) pass
    * keeps only k candidates per query per partition, so the shuffle
    * carries O(|queries|·k·partitions) structs, never the |queries|×|corpus|
    * scored product a rank-window formulation would sort-shuffle. */
  /** Embedding-truncation audit — the Matryoshka-dimension decision:
    * "how much retrieval quality survives if we keep only the first d
    * dims?" (truncated embeddings cut index storage and ANN cost
    * linearly, and MRL-trained models front-load information exactly so
    * this works). For each candidate `d`, the exact top-k under the
    * truncated cosine is compared against the full-dimension top-k:
    * `mean_overlap_at_k` (|∩|/k averaged over queries — the recall@k of
    * the truncated index against full-dim truth) and `top1_match_rate`.
    * Both are single divisions of exact integer counts. Ties break by
    * neighbor id in both rankers ([[bruteForceTopK]]'s contract), so
    * the audit is deterministic.
    *
    * Shape: |dims|+1 bounded map-side top-k passes over the corpus
    * (broadcast queries, no all-pairs materialization), then k-row
    * joins per query — nothing data-sized survives. Returns one row per
    * d: (dim, n_queries, mean_overlap_at_k, top1_match_rate). */
  def truncationAudit(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1),
      "truncationAudit needs at least one positive dim")
    val full = bruteForceTopK(queries, corpus, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    def top1Of(tk: DataFrame) = tk.filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id").as("__t1__"))
    val fullT1 = top1Of(full)
      .withColumnRenamed("__t1__", "__f1__")
    dims.map { d =>
      def cut(df: DataFrame) = df.select(col(idCol),
        slice(col(vecCol), 1, d).as(vecCol))
      val trunc = bruteForceTopK(cut(queries), cut(corpus), idCol,
        vecCol, k)
      val ov = full.join(trunc.select(col("query_id"),
          col("neighbor_id")), Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("__ov__"))
      val per = fullT1.join(top1Of(trunc), Seq("query_id"))
        .join(ov, Seq("query_id"), "left")
        .agg(count(lit(1)).as("n_queries"),
          sum(coalesce(col("__ov__"), lit(0L))).as("__sov__"),
          sum(when(col("__f1__") === col("__t1__"), 1L).otherwise(0L))
            .as("__t1m__"))
      per.select(lit(d).as("dim"), col("n_queries"),
        round(try_divide(col("__sov__").cast("double"),
          (col("n_queries") * k).cast("double")), 6)
          .as("mean_overlap_at_k"),
        round(try_divide(col("__t1m__").cast("double"),
          col("n_queries").cast("double")), 6).as("top1_match_rate"))
    }.reduce(_ union _)
  }

  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int
  ): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    topKOf(scored, k)
  }

  /** Shared tail: per-query bounded top-k + rank materialization. */
  private[ops] def topKOf(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.top_k_by_score(
        col("cosine"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        round(col("col.score"), 6).as("cosine"),
        (col("pos") + 1).cast("int").as("rank"))

  /** IVF-style approximate top-k: the corpus is partitioned into inverted
    * lists by nearest centroid; each query scans only its `nProbe` closest
    * lists.
    *
    * Index build (driver-side, like any ANN index build): deterministic
    * seeds (the first `nCentroids` corpus vectors by id) refined by
    * `kmeansIters` k-means passes. Per-dimension means are computed through
    * an exact decimal sum (partition-order independent), so the refined
    * centroids — and hence the routing — are deterministic run to run.
    *
    * Scale shape: centroids are LITERALS inside a codegen'd per-row argmax
    * (`greatest` over `struct(score, -cid)`), so corpus-to-list assignment
    * is ONE narrow scan — no corpus×centroid join, no window, no shuffle
    * beyond the final route-on-cid. A k-means pass is one extra scan whose
    * per-(cid,dim) partial sums collapse map-side before the collect.
    * Query probe lists come from `sort_array` over the same literal scores.
    * The standard IVF layout, expressed Spark-first. */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, kmeansIters: Int = 1
  ): DataFrame =
    ivfTopKWith(ivfBuild(corpus, idCol, vecCol, nCentroids, kmeansIters),
      queries, idCol, vecCol, k, nProbe)

  /** A built IVF index: the refined centroids (driver-scale — k·dim
    * floats, the kmeans posture) plus the corpus→inverted-list
    * assignment table `(neighbor_id, cv, cid)`. Build once with
    * [[ivfBuild]], persist with [[ivfWrite]], reload with [[ivfLoad]],
    * probe with [[ivfTopKWith]] — deterministic seeds + exact-decimal
    * refinement make build-once ≡ build-per-call bit-identical, so a
    * serving pipeline pays the corpus scans once, not per query batch. */
  final case class IvfIndex(centroids: Seq[Seq[Float]],
      assignments: DataFrame)

  /** Corpus-side half of [[ivfTopK]]: deterministic seeds (first
    * `nCentroids` corpus vectors by id) refined by `kmeansIters`
    * exact-decimal k-means passes, then ONE narrow assignment scan
    * (centroids are literals in a codegen'd argmax — no corpus×centroid
    * join). The expensive, corpus-sized work — exactly what
    * [[ivfWrite]]/[[ivfLoad]] let a repeated-curation pipeline amortize. */
  def ivfBuild(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, kmeansIters: Int = 1): IvfIndex = {
    require(nCentroids >= 2, "ivfBuild needs at least 2 centroids")
    var cents: Array[Array[Float]] = corpus.orderBy(col(idCol).asc)
      .limit(nCentroids).select(col(vecCol))
      .collect().map(_.getSeq[Float](0).toArray)

    def bestCid(vec: Column): Column =
      greatest(centroidScores(cents.map(_.toSeq).toSeq, vec): _*)
        .getField("nc") * -1

    for (_ <- 0 until kmeansIters) {
      val sums = corpus
        .select(bestCid(col(vecCol)).as("cid"), posexplode(col(vecCol)))
        .groupBy("cid", "pos")
        .agg(sum(col("col").cast("decimal(27,6)")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone) // empty cluster keeps its seed
      sums.foreach { r =>
        val cid = r.getInt(0); val pos = r.getInt(1)
        next(cid)(pos) =
          (BigDecimal(r.getDecimal(2)) / BigDecimal(r.getLong(3))).toFloat
      }
      cents = next
    }
    val frozen = cents.map(_.toSeq).toSeq
    IvfIndex(frozen, assignWith(frozen, corpus, idCol, vecCol))
  }

  /** score_i = dot(v, c_i)/||c_i|| — argmax over cosine without the
    * per-row norm(v) factor (constant across centroids, rank-invariant);
    * struct(score, -cid) orders ties toward the smallest cid. */
  private def centroidScores(cents: Seq[Seq[Float]],
      vec: Column): Seq[Column] =
    cents.zipWithIndex.map { case (c, i) =>
      val cn = math.max(
        math.sqrt(c.map(x => x.toDouble * x.toDouble).sum), 1e-30)
      struct((dot(vec, typedlit(c)) / lit(cn)).as("s"), lit(-i).as("nc"))
    }

  /** Assign rows to the FROZEN centroids of an existing index — the
    * shared narrow scan of [[ivfBuild]]'s tail and [[ivfAppend]]'s
    * delta path (centroid literals in a codegen'd argmax; ties to the
    * smallest cid). */
  private def assignWith(cents: Seq[Seq[Float]], rows: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    rows.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      (greatest(centroidScores(cents, col(vecCol)): _*)
        .getField("nc") * -1).as("cid"))

  /** Incremental index maintenance: route a DELTA batch to the
    * existing index's FROZEN centroids and append its inverted-list
    * rows — the crawl-ingest shape (a TB delta joins a standing index
    * without rescanning the indexed corpus; persist the result as the
    * next snapshot version via [[ivfWrite]]). Because assignment is a
    * pure function of the frozen centroids, append-then-probe is
    * EXACTLY probe over the union assigned with those centroids
    * (OpsSpec asserts it; q379 gates the full-depth exact case).
    * Centroids are NOT refined here — periodic rebuilds ([[ivfBuild]])
    * remain the quality knob, exactly as in production IVF serving;
    * [[ivfStats]] is the rebuild-cadence signal to watch after appends.
    *
    * ID contract: delta ids must be DISJOINT from the indexed ids — a
    * re-ingested id would duplicate inverted-list rows, and duplicate
    * (query_id, neighbor_id) candidates can occupy multiple top-k slots
    * in [[ivfTopKWith]]. Pass `dedupeIds = true` to enforce it with a
    * left-anti join of the delta against the standing assignments; that
    * guard pays one pass over the index per append (exactly the cost
    * this op otherwise avoids), so ingest pipelines whose id discipline
    * is upstream-guaranteed (monotonic crawl ids, snapshot versioning)
    * keep the default.
    *
    * Plan-shape contract: the result's assignment table is a LAZY
    * `unionByName` over the standing index — N appends without an
    * [[ivfWrite]] build an N-deep union whose probe re-plans all N
    * legs. The intended cycle (append → ivfWrite next version →
    * ivfLoad) collapses the chain to one snapshot scan per probe
    * (OpsSpec asserts append-after-load stays one union deep and that
    * a write/load round-trip flattens it). */
  def ivfAppend(index: IvfIndex, delta: DataFrame, idCol: String,
      vecCol: String, dedupeIds: Boolean = false): IvfIndex = {
    val fresh =
      if (dedupeIds)
        delta.join(index.assignments
            .select(col("neighbor_id").as(idCol)),
          Seq(idCol), "left_anti")
      else delta
    IvfIndex(index.centroids, index.assignments.unionByName(
      assignWith(index.centroids, fresh, idCol, vecCol)))
  }

  /** IVF index health telemetry — per-centroid inverted-list sizes with
    * a hot-list verdict: the rebuild-cadence signal production IVF
    * serving watches after [[ivfAppend]]s (frozen centroids mean a
    * drifting delta distribution silently piles rows onto few lists,
    * and a hot list degrades every probe routed to it; a DEAD list —
    * size 0, also reported — wastes a route). `hot` is exact integer
    * cross-multiplication (the keySkew discipline):
    * `list_size · nCentroids · hotDen > total · hotNum`, i.e. the list
    * exceeds hotNum/hotDen × the mean list size. When any list is hot,
    * rebuild ([[ivfBuild]]) instead of appending further.
    *
    * Shape: ONE partial-aggregable count over the assignment table
    * (works identically on a loaded snapshot — the corpus is never
    * touched), left-joined to the driver-scale centroid id range so
    * empty lists surface. Returns (cid, list_size, hot) ordered by cid. */
  def ivfStats(index: IvfIndex, hotNum: Int = 2,
      hotDen: Int = 1): DataFrame = {
    require(hotNum >= 1 && hotDen >= 1, "bad ivfStats hot factor")
    val spark = index.assignments.sparkSession
    import spark.implicits._
    val k = index.centroids.size
    val sizes = index.assignments.groupBy(col("cid"))
      .agg(count(lit(1)).as("__n__"))
    val total = index.assignments
      .agg(count(lit(1)).as("__total__"))
    // broadcast the ≤k-row aggregated sizes (a left-outer join builds
    // right; broadcasting the outer cid range would be unsupported)
    index.centroids.indices.toDF("cid")
      .join(broadcast(sizes), Seq("cid"), "left")
      .crossJoin(broadcast(total))
      .select(col("cid"),
        coalesce(col("__n__"), lit(0L)).as("list_size"),
        (coalesce(col("__n__"), lit(0L)) * lit(k.toLong) *
          lit(hotDen.toLong) >
          col("__total__") * lit(hotNum.toLong)).as("hot"))
      .orderBy(col("cid"))
  }

  /** Persist an IVF index as ONE versioned snapshot
    * ([[Layout.snapshotWrite]] — immutable `v=N` commits, time-travel
    * reads): centroid rows (`part='centroid'`, ordered by cid) and the
    * assignment table (`part='row'`) share the schema
    * (part, neighbor_id, cv, cid). Floats round-trip parquet exactly,
    * so a loaded index probes bit-identically to the freshly built one.
    * Returns the committed version. */
  def ivfWrite(index: IvfIndex, basePath: String): Int = {
    val spark = index.assignments.sparkSession
    import spark.implicits._
    val centRows = index.centroids.zipWithIndex
      .map { case (c, i) => ("centroid", i.toLong, c, i) }
      .toDF("part", "neighbor_id", "cv", "cid")
    val rows = index.assignments.select(lit("row").as("part"),
      col("neighbor_id").cast("long").as("neighbor_id"),
      col("cv").cast("array<float>").as("cv"), col("cid").cast("int"))
    Layout.snapshotWrite(rows.unionByName(centRows), basePath)
  }

  /** Load an [[ivfWrite]]-persisted index (latest version unless
    * pinned). Only the ≤nCentroids centroid rows are collected; the
    * assignment table stays a lazy parquet scan of the snapshot — the
    * CORPUS is never touched again (PlanSpec asserts the probe plan
    * reads only the index path). */
  def ivfLoad(spark: org.apache.spark.sql.SparkSession, basePath: String,
      version: Option[Int] = None): IvfIndex = {
    val snap = Layout.readSnapshot(spark, basePath, version)
    val cents = snap.filter(col("part") === "centroid")
      .orderBy(col("cid").asc).select(col("cv"))
      .collect().map(_.getSeq[Float](0)).toSeq
    require(cents.nonEmpty, s"snapshot at $basePath has no centroid rows")
    IvfIndex(cents, snap.filter(col("part") === "row")
      .select(col("neighbor_id"), col("cv"), col("cid")))
  }

  /** Query-side half of [[ivfTopK]]: route each query to its `nProbe`
    * closest inverted lists (centroid literals again — broadcast-side
    * arithmetic only) and scan just those lists. With a loaded index
    * this is the entire per-batch cost: no corpus scan, no rebuild. */
  def ivfTopKWith(index: IvfIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 4): DataFrame = {
    require(nProbe >= 1, "nProbe must be >= 1")
    def topCids(vec: Column, n: Int): Column =
      transform(slice(sort_array(
          array(centroidScores(index.centroids, vec): _*), asc = false),
        1, n), s => s.getField("nc") * -1)
    val probes = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(topCids(col(vecCol), nProbe)).as("cid")))
    val scored = probes.join(index.assignments, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    topKOf(scored, k)
  }

  /** Symmetric per-vector int8 quantization — the standard embedding
    * compression before ANN index build or training-data shipping (4×
    * smaller than float32, dot products survive within ~1%). Per vector:
    * `scale = max|x| / 127`, `q_i = floor(x_i/scale + 0.5)` (explicit
    * half-up in BOTH engines — `round()` tie semantics differ between
    * them). Pure per-row column expressions: no shuffle, embarrassingly
    * parallel, and the whole construct→quantize→reconstruct loop is
    * replayed by the DuckDB oracle.
    *
    * Returns (scaleCol, quantizedCol(array&lt;long&gt;), maxAbsErrCol);
    * zero vectors quantize to zeros with scale 0 and error 0. */
  def quantizeInt8(vec: Column): (Column, Column, Column) = {
    val x = transform(vec, v => v.cast("double"))
    val absmax = aggregate(x, lit(0.0), (a, v) => greatest(a, abs(v)))
    val scale = absmax / lit(127.0)
    val q = when(scale === 0.0, transform(x, _ => lit(0L)))
      .otherwise(transform(x, v => floor(v / scale + lit(0.5)).cast("long")))
    val err = when(scale === 0.0, lit(0.0)).otherwise(
      aggregate(zip_with(x, q, (v, qi) => abs(v - qi * scale)),
        lit(0.0), (a, e) => greatest(a, e)))
    (scale, q, err)
  }

  /** One-pass codegen'd statistics of [[quantizeInt8]] as a struct
    * (scale, q_sum, q_min, q_max, q_nonzero, max_abs_err) — the hot path
    * for quantization SWEEPS (coverage/error audits over a whole corpus);
    * [[quantizeInt8]]'s lambda form stays the cross-validated spec and
    * the path that materializes the quantized array itself. */
  def quantizeInt8Stats(vec: Column): Column =
    graft.functions.NativeHashes.quantize_stats(vec)

  /** LSH-bucketed approximate top-k: corpus is bucketed by sign-bit
    * signature; each query probes its own bucket and its `bits` 1-bit-flip
    * neighbor buckets. Same output shape as [[bruteForceTopK]]; recall
    * traded for a |corpus|/2^bits scan. */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      bits: Int = 8
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      signBits(col(vecCol), bits).as("bucket"))
    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      signBits(col(vecCol), bits).as("sig"))
    // probe set: own bucket + hamming-1 neighbors
    val probes =
      array(lit(0L) +: (0 until bits).map(i => shiftleft(lit(1L), i)): _*)
    val q = broadcast(
      qBase.select(col("query_id"), col("qv"),
        explode(transform(probes, m => col("sig").bitwiseXOR(m))).as("bucket")))
    val scored = q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    topKOf(scored, k)
  }

  /** Contrastive hard-negative mining: for each anchor, the top-k corpus
    * rows whose cosine lands in the HARD band `[lo, hi)` — similar
    * enough to be informative negatives for embedding training, but
    * excluded from the near-duplicate zone above `hi` (those are
    * probable positives/dups, poison as negatives). The band filters the
    * RAW cosine before [[topKOf]]'s 6dp display rounding, so the
    * boundary decision is the same exact IEEE comparison in the oracle.
    *
    * Scale shape: identical to [[bruteForceTopK]] — broadcast anchors ×
    * corpus scan into the bounded map-side top-k aggregate; the band
    * filter only SHRINKS what the partial aggregation keeps. The
    * documented scale path is the same LSH/IVF routing as ANN ([
    * [lshTopK]]/[[ivfTopK]] accept the filtered score column shape);
    * mining stays a one-scan pass either way. */
  def hardNegatives(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      lo: Double, hi: Double
  ): DataFrame = {
    require(lo < hi, s"band must satisfy lo < hi, got [$lo, $hi)")
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .filter(col("cosine") >= lo && col("cosine") < hi)
    topKOf(scored, k)
  }

  /** Embedding-distribution drift between two corpus snapshots — the
    * monitor that catches a silent encoder swap / re-embedding /
    * pipeline bug by comparing PER-DIMENSION centroids: vectors
    * quantize to milli-unit integers (exact, engine-independent — raw
    * float means are summation-order-dependent), each side aggregates
    * per-dimension integer sums, and dimension d drifts when
    * `|meanA_d − meanB_d| > t` by cross-multiplication:
    * `|sa·nb − sb·na| · tDen > tNum · na · nb` for `t = tNum/tDen`
    * milli-units — no division, boundary dims identical in both
    * engines.
    *
    * Shape: one posexplode + partial-aggregable per-dimension sum per
    * side (dims-sized output), then a dims-row join — the corpora
    * never co-shuffle; at 100 TB the per-dim sums are the persisted
    * summaries an ingest job maintains incrementally (mergeable by
    * addition). Returns (dim, n_a, n_b, sum_a, sum_b, drift). */
  def embeddingDrift(a: DataFrame, b: DataFrame, vecCol: String,
      tNum: Int, tDen: Int, scale: Long = 1000L): DataFrame = {
    require(tNum >= 0 && tDen > 0 && scale >= 1, "bad drift params")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    def sums(df: DataFrame, n: String, s: String) = df
      .select(posexplode(transform(col(vecCol),
        x => floor(x.cast("double") * scale + 0.5).cast("long"))))
      .groupBy(col("pos").as("dim"))
      .agg(count(lit(1)).cast(dec).as(n), sum(col("col")).cast(dec).as(s))
    sums(a, "n_a", "sum_a").join(sums(b, "n_b", "sum_b"), Seq("dim"))
      .withColumn("drift",
        abs(col("sum_a") * col("n_b") - col("sum_b") * col("n_a")) * tDen >
          col("n_a") * col("n_b") * tNum)
      .select(col("dim"), col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        col("sum_a").cast("long").as("sum_a"),
        col("sum_b").cast("long").as("sum_b"), col("drift"))
  }

  /** Per-dimension embedding health profile — the vector-QA pass run
    * before indexing a new embedding snapshot (a DEAD dimension — all
    * zeros — means a truncated model export; a COLLAPSED one — near-zero
    * variance — wastes index capacity and usually signals an untrained
    * or saturated feature; both silently degrade recall if they ship).
    * Values quantize to `scale` units ([[embeddingDrift]]'s discipline),
    * so every moment is an exact integer: variance decisions are
    * cross-multiplied integer predicates
    * (`(n·Σx² − S²)·tDen < n²·tNum` ⟺ var < tNum/tDen q-units²), and
    * the exported mean/var are single exact-ratio divisions — nothing
    * float-accumulates anywhere.
    *
    * Returns per dim: n, n_zero, min_q, max_q, mean_q, var_q,
    * dead (all-zero), collapsed (var below threshold).
    *
    * Scale shape: ONE posexplode + ONE partial-aggregable groupBy on the
    * |dims|-sized key space; output is |dims| rows at any corpus size. */
  def dimHealth(df: DataFrame, vecCol: String, tNum: Long = 1,
      tDen: Long = 1, scale: Long = 1000L): DataFrame = {
    require(tNum >= 0 && tDen > 0 && scale >= 1, "bad health params")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    df.select(posexplode(transform(col(vecCol),
        x => floor(x.cast("double") * scale + 0.5).cast("long"))))
      .groupBy(col("pos").as("dim"))
      .agg(count(lit(1)).cast(dec).as("__n__"),
        sum(when(col("col") === 0, 1L).otherwise(0L)).as("n_zero"),
        min(col("col")).as("min_q"), max(col("col")).as("max_q"),
        sum(col("col")).cast(dec).as("__s__"),
        sum(col("col") * col("col")).cast(dec).as("__ss__"))
      .select(col("dim"), col("__n__").cast("long").as("n"),
        col("n_zero"), col("min_q"), col("max_q"),
        round(col("__s__").cast("double") /
          col("__n__").cast("double"), 6).as("mean_q"),
        round((col("__n__") * col("__ss__") - col("__s__") * col("__s__"))
          .cast("double") /
          (col("__n__") * col("__n__")).cast("double"), 6).as("var_q"),
        (col("n_zero") === col("__n__").cast("long")).as("dead"),
        ((col("__n__") * col("__ss__") - col("__s__") * col("__s__")) *
          lit(tDen) <
          col("__n__") * col("__n__") * lit(tNum)).as("collapsed"))
  }

  /** Effective rank (participation ratio) of an embedding table — the
    * one-number DIMENSIONAL-COLLAPSE detector on top of [[dimHealth]]'s
    * per-dim view: with per-dimension variances v_d, `PR = (Σv)²/Σv²`
    * lies in [1, dims] — `dims` when variance spreads evenly, → 1 when
    * one direction carries everything (the classic symptom of a
    * collapsed/under-trained encoder; axis-aligned variances make this
    * the diagonal approximation of the eigenvalue participation ratio,
    * cheap where a full covariance eigendecomposition is not). Contrast
    * collapse shows up as `pr_ratio = PR/dims` sinking across training
    * checkpoints.
    *
    * Determinism: per-dim variance NUMERATORS `V_d = n·Σx² − (Σx)²` are
    * exact decimal(38,0) on the quantized grid (PR is scale-free: the
    * shared `1/(n²·scale²)` denominator cancels); the cross-dim float
    * sums fold in dim order (`aggregate(sort_array(...))`, the
    * [[graft.ops.Profiling.kruskalWallis]] discipline — the oracle
    * replays `list_reduce(list_sort(...))`). The zero guard is the
    * exact Σ V_d > 0, never a float.
    *
    * Shape: one posexplode → |dims|-row partial-aggregable collapse →
    * one |dims|-array fold. Returns one row:
    * (n_dims, n, pr, pr_ratio). */
  def effectiveRank(df: DataFrame, vecCol: String,
      scale: Long = 1000L): DataFrame = {
    require(scale >= 1, "scale must be >= 1")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    // cast to decimal BEFORE multiplying/summing: qv² on unnormalized
    // features overflows a long after ~9e6 rows (ANSI job killer); the
    // oracle's HUGEINT twin promotes before the multiply too
    val perDim = df.select(posexplode(transform(col(vecCol),
        x => floor(x.cast("double") * scale + 0.5).cast("long"))))
      .groupBy(col("pos").as("dim"))
      .agg(count(lit(1)).cast(dec).as("__n__"),
        sum(col("col").cast(dec)).as("__s__"),
        sum(col("col").cast(dec) * col("col").cast(dec)).as("__ss__"))
      .select(col("dim"), col("__n__"),
        (col("__n__") * col("__ss__") - col("__s__") * col("__s__"))
          .as("__v__"))
    val one = perDim.agg(count(lit(1)).as("n_dims"),
      max(col("__n__")).cast("long").as("n"),
      sum(col("__v__")).as("__vsum_exact__"),
      sort_array(collect_list(struct(col("dim"),
        col("__v__").cast("double").as("v")))).as("__vs__"))
    val sumV = aggregate(col("__vs__"), lit(0.0),
      (acc, s) => acc + s.getField("v"))
    val sumV2 = aggregate(col("__vs__"), lit(0.0),
      (acc, s) => acc + s.getField("v") * s.getField("v"))
    val pr = try_divide(sumV * sumV, sumV2)
    one.select(col("n_dims"), col("n"),
      when(col("__vsum_exact__") > 0, round(pr, 6)).as("pr"),
      when(col("__vsum_exact__") > 0,
        round(try_divide(pr, col("n_dims").cast("double")), 6))
        .as("pr_ratio"))
  }

  /** Reciprocal-rank fusion of several retrieval rankings (BM25 + dense
    * ANN + recency, …) into one list — the standard hybrid-search merge,
    * score-scale-free because only RANKS enter:
    * `rrf(item) = Σ_lists scale div (kParam + rank)`. The classic
    * `1/(k+r)` is summed here in integer micro-units with INTEGER
    * division (the mixture-sampling discipline) so fused scores and
    * tie-breaks are bit-identical across engines — an IEEE float sum
    * would ulp-flip adjacent fused ranks. `kParam = 60` is the published
    * default; items missing from a list simply contribute nothing.
    *
    * Shape: union of |lists| bounded rankings (each already top-k —
    * tiny), one partial-aggregable groupBy, one global rank window on a
    * ≤ |lists|·k row set with a `rank <= topM` filter
    * (`WindowGroupLimit` prunes map-side). Nothing here ever touches
    * the corpus — fusion cost is bounded by the RANKINGS, not the data.
    * Returns (item, rrf_mil, n_lists, rank). */
  def rrfFuse(rankings: Seq[DataFrame], itemCol: String, rankCol: String,
      kParam: Int = 60, topM: Int = 10,
      scale: Long = 1000000L): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(kParam >= 0 && topM >= 1 && scale >= 1, "bad rrf parameters")
    val slim = rankings.map(_.select(col(itemCol), col(rankCol)))
    val contrib = slim.reduce(_ unionByName _)
      .withColumn("__c__",
        expr(s"$scale div (CAST($rankCol AS BIGINT) + $kParam)"))
    val fused = contrib.groupBy(col(itemCol))
      .agg(sum(col("__c__")).as("rrf_mil"),
        count(lit(1)).as("n_lists"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf_mil").desc, col(itemCol).asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topM)
  }

  /** Exact Gram (scatter) matrix of the quantized embedding corpus:
    * `G_ij = Σ_rows q_i·q_j` over the upper triangle `i ≤ j`, with
    * `q = round(x·scale)` — the one-pass second-moment summary behind
    * PCA/whitening/covariance ("which dimensions move together?"),
    * exactly the statistic an ANN pipeline wants BEFORE choosing IVF
    * axes. Fixed-point quantization makes every cell an exact integer
    * sum — engine-independent and MERGEABLE (shard Grams add), so at
    * 100 TB this is the summary an ingest job maintains incrementally
    * ([[embeddingDrift]]'s posture, one moment higher).
    *
    * Shape: each row explodes to its d(d+1)/2 upper-triangle products,
    * then ONE partial-aggregable groupBy((i,j)) — map-side combine
    * collapses to d²/2 cells per partition, so the shuffle carries
    * O(d²·partitions) rows, never O(rows). The d² explode factor is the
    * honest per-row cost of any one-pass scatter matrix; for d beyond
    * ~256, project first ([[randomProjection]]) — that is the published
    * recipe, not a workaround. Returns (i, j, n, g) with `g` as
    * decimal(38,0); cast at the export boundary when values fit. */
  def gramMatrix(df: DataFrame, vecCol: String,
      scale: Long = 1000L): DataFrame = {
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    df.select(explode(graft.functions.NativeHashes
        .gram_pairs(col(vecCol), scale)).as("__e__"))
      .groupBy(col("__e__.i").as("i"), col("__e__.j").as("j"))
      .agg(count(lit(1)).as("n"), sum(col("__e__.p").cast(dec)).as("g"))
  }

  /** Top principal component of the quantized embedding corpus by power
    * iteration on the d×d covariance built from [[gramMatrix]] plus the
    * per-dimension sums — "what single direction explains the most
    * variance" (the first whitening axis, the dominant-topic detector,
    * the IVF split axis). The DATA-scale work is the two exact-integer
    * moment passes; the iteration itself runs on the d×d matrix
    * driver-side — the same driver-scale-not-data-scale posture as
    * k-means centroids (k·dim there, d² here). Covariance is
    * `C = (n·G − S·Sᵀ) / n²` in q-units²; sign is fixed by making the
    * largest-|loading| coordinate positive, so the answer is
    * deterministic. Returns one row per dimension:
    * (dim, loading, eigenvalue) — loading the unit eigenvector entry
    * (round 6), eigenvalue in q-units² (round 6). */
  def topPrincipalComponent(df: DataFrame, vecCol: String,
      scale: Long = 1000L, iters: Int = 100): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = df.sparkSession
    val gRows = gramMatrix(df, vecCol, scale).collect()
    require(gRows.nonEmpty, "empty corpus")
    val dim = gRows.map(_.getAs[Int]("j")).max + 1
    val n = gRows.head.getAs[Long]("n").toDouble
    val sums = df
      .select(posexplode(transform(col(vecCol),
        x => floor(x.cast("double") * scale + 0.5).cast("long"))))
      .groupBy(col("pos")).agg(sum(col("col")).as("s"))
      .collect().map(r => r.getAs[Int]("pos") -> r.getAs[Long]("s").toDouble)
      .toMap
    val c = Array.ofDim[Double](dim, dim)
    gRows.foreach { r =>
      val i = r.getAs[Int]("i"); val j = r.getAs[Int]("j")
      val g = r.getAs[java.math.BigDecimal]("g").doubleValue()
      val cij = (n * g - sums(i) * sums(j)) / (n * n)
      c(i)(j) = cij; c(j)(i) = cij
    }
    // power iteration from the all-ones direction; d² flops per round
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var lambda = 0.0
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => c(i)(j) * v(j)).sum)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      if (nrm > 0) { v = w.map(_ / nrm); lambda = nrm }
    }
    // deterministic sign: the largest-|loading| coordinate is positive
    val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
    if (v(pivot) < 0) v = v.map(x => -x)
    import spark.implicits._
    v.zipWithIndex.map { case (x, i) =>
      (i, BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble,
        BigDecimal(lambda).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
    }.toSeq.toDF("dim", "loading", "eigenvalue")
  }
}
