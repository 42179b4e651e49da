package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.Clustering

class ClusteringSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("kmeansAssign: hand-computed 1-D clusters, movement across iterations") {
    // scale=10 → quantized values 0, 1, 2, 100, 101, 120
    val df = Seq(
      (1L, Array(0.0f)), (2L, Array(0.1f)), (3L, Array(0.2f)),
      (4L, Array(10.0f)), (5L, Array(10.1f)), (6L, Array(12.0f)))
      .toDF("id", "v")
    // iters=1: centroids are ids 1,2 (q=0,1). Everything far lands on
    // centroid 1 except id 1 itself.
    val a1 = Clustering.kmeansAssign(df, "id", "v", k = 2, iters = 1, scale = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 1, 5L -> 1, 6L -> 1))
    // iters=2: cluster1's mean of {1,2,100,101,120} = 64.8 → 65; cluster0
    // stays at 0 → the small values regroup onto 0, the large onto 65
    val a2 = Clustering.kmeansAssign(df, "id", "v", k = 2, iters = 2, scale = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byId = a2.map(t => t._1 -> t._2).toMap
    assert(byId == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 1, 6L -> 1))
    // exact integer distances: id 6 (q=120) vs centroid 65 → 55² = 3025
    assert(a2.find(_._1 == 6L).get._3 == 3025L)
  }

  test("kmeansAssign: equidistant points break ties toward the smaller index") {
    // centroids init at q=0 and q=2; the point at q=1 is equidistant
    val df = Seq((1L, Array(0.0f)), (2L, Array(0.2f)), (3L, Array(0.1f)))
      .toDF("id", "v")
    val a = Clustering.kmeansAssign(df, "id", "v", k = 2, iters = 1, scale = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a(3L) == 0)
  }

  test("kmeansAssign: an emptied cluster keeps its previous centroid") {
    // k=2 seeded from ids 1,2 (q=0 and q=1); every point is closer to 0's
    // side or ties toward it, so cluster 1 can empty out in the update —
    // the op must not NPE or divide by zero, and cluster 1's centroid
    // stays at q=1
    val df = Seq((1L, Array(0.0f)), (2L, Array(0.1f)), (3L, Array(0.04f)))
      .toDF("id", "v")
    val a = Clustering.kmeansAssign(df, "id", "v", k = 2, iters = 3, scale = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a.size == 3)
  }

  test("kmeansAssign rejects k or iters <= 0 and too-few rows") {
    val df = Seq((1L, Array(0.0f))).toDF("id", "v")
    intercept[IllegalArgumentException] {
      Clustering.kmeansAssign(df, "id", "v", k = 0, iters = 1)
    }
    intercept[IllegalArgumentException] {
      Clustering.kmeansAssign(df, "id", "v", k = 2, iters = 1)
    }
  }

  test("kmeansAssign is deterministic across input partitioning") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").limit(60)
    val base = Clustering.kmeansAssign(emb, "vec_id", "embedding", 3, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val shuffled = Clustering.kmeansAssign(
      emb.repartition(7, col("vec_id")), "vec_id", "embedding", 3, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(base == shuffled)
  }

  test("kmeansAssign's assignment stage is shuffle-free per-row work") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").limit(60)
    val plan = Clustering.kmeansAssign(emb, "vec_id", "embedding", 3, 1)
      .queryExecution.executedPlan.toString
    // centroids ride along as literals: no Exchange, no join, no window
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("pqCodes ≡ per-subspace kmeansAssign; codes bounded; dims split") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").limit(80)
    val pq = Clustering.pqCodes(emb, "vec_id", "embedding",
        dims = 64, m = 4, k = 4, iters = 2)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (0 until 4).map(j => (r.getAs[Int](s"code_$j"),
          r.getAs[Long](s"dist2_$j")))).toMap
    assert(pq.nonEmpty)
    // each subspace independently reproduces kmeansAssign on the slice
    for (j <- 0 until 4) {
      val sliced = emb.select(col("vec_id"),
        slice(col("embedding"), j * 16 + 1, 16).as("sub"))
      val ka = Clustering.kmeansAssign(sliced, "vec_id", "sub",
          k = 4, iters = 2)
        .collect().map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Int]("cluster"), r.getAs[Long]("dist2")))).toMap
      pq.foreach { case (id, codes) =>
        assert(codes(j) == ka(id), s"vec $id subspace $j")
      }
    }
    pq.values.foreach(codes =>
      codes.foreach { case (c, d2) => assert(c >= 0 && c < 4 && d2 >= 0) })
  }

  test("pqAdcTopK ≡ independent Scala ADC reference") {
    // iters=1 → codebooks are literally the k smallest ids' subvectors,
    // so the whole pipeline is hand-replayable
    val vecs: Map[Long, Array[Double]] = Map(
      1L -> Array(0.0, 0.1, 1.0, 1.1), 2L -> Array(0.9, 1.0, 0.0, 0.2),
      3L -> Array(0.1, 0.1, 1.0, 1.0), 4L -> Array(1.0, 0.9, 0.1, 0.1),
      5L -> Array(0.5, 0.5, 0.5, 0.5), 6L -> Array(0.0, 0.0, 0.9, 1.2))
    val (m, k, scale, topK) = (2, 2, 1000, 3)
    val subLen = 2
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x * scale + 0.5).toLong) }
    def sub(v: Array[Long], j: Int) = v.slice(j * subLen, (j + 1) * subLen)
    val books = (0 until m).map { j =>
      q.toSeq.sortBy(_._1).take(k).map(t => sub(t._2, j)) }
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val codes = q.map { case (id, v) => id -> (0 until m).map(j =>
      books(j).zipWithIndex.map { case (mu, c) =>
        (d2(sub(v, j), mu), c) }.min._2) }
    val qIds = Seq(1L, 2L)
    val expect = (for (qid <- qIds) yield {
      val scored = q.keys.filter(_ != qid).toSeq.map { nid =>
        val ad = (0 until m).map(j =>
          d2(sub(q(qid), j), books(j)(codes(nid)(j)))).sum
        (ad, nid)
      }.sorted.take(topK)
      qid -> scored.zipWithIndex.map { case ((ad, nid), i) =>
        (nid, ad, i + 1) }
    }).toMap
    val df = vecs.toSeq.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    val got = Clustering.pqAdcTopK(df, df.filter(col("vec_id") <= 2),
        "vec_id", "embedding", dims = 4, m = m, k = k, iters = 1,
        topK = topK, scale = scale)
      .collect().map(r => (r.getAs[Long]("query_id"),
        (r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist2"),
          r.getAs[Int]("rank"))))
      .groupBy(_._1).map { case (id, xs) =>
        id -> xs.map(_._2).sortBy(_._3).toSeq }
    assert(got == expect, s"got $got\nexpect $expect")
  }

  test("pqAdcTopK plan: broadcast query block, bounded top-k aggregate") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = Clustering.pqAdcTopK(emb, emb.filter(col("vec_id") < 4),
        "vec_id", "embedding", dims = 64, m = 4, k = 2, iters = 1,
        topK = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan) // != predicate
    assert(plan.contains("partial_topkbyscoreagg") ||
      plan.contains("TopKByScore"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("pqCodes plan: encoding is one narrow pass, codebooks are literals") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = Clustering.pqCodes(emb, "vec_id", "embedding",
        dims = 64, m = 4, k = 2, iters = 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("silhouette: hand-computed 1-D clusters, exact d2 and ratios") {
    // scale=10 → q = 0,1,2,100,101,120; k=2, iters=2: init c0=[0],
    // c1=[1]; after one update c0=[0] (member: q=0), c1=[65]
    // (mean of 1,2,100,101,120 = 64.8 → half-up 65)
    val df = Seq(
      (1L, Array(0.0f)), (2L, Array(0.1f)), (3L, Array(0.2f)),
      (4L, Array(10.0f)), (5L, Array(10.1f)), (6L, Array(12.0f)))
      .toDF("id", "v")
    val got = Clustering.silhouette(df, "id", "v", k = 2, iters = 2,
        scale = 10).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Int]("cluster"), r.getAs[Long]("own_dist2"),
          r.getAs[Long]("neighbor_dist2"),
          r.getAs[Double]("silhouette")))).toMap
    assert(got(1L) == ((0, 0L, 4225L, 1.0)))        // (65−0)/65
    assert(got(2L) == ((0, 1L, 4096L, 0.984375)))   // (64−1)/64
    assert(got(3L) == ((0, 4L, 3969L, 0.968254)))   // (63−2)/63
    assert(got(4L) == ((1, 1225L, 10000L, 0.65)))   // (100−35)/100
    assert(got(5L) == ((1, 1296L, 10201L, 0.643564)))
    assert(got(6L) == ((1, 3025L, 14400L, 0.541667)))
  }

  test("silhouette: coincident centroids degrade to 0, not NaN") {
    val df = Seq((1L, Array(1.0f)), (2L, Array(1.0f)),
      (3L, Array(1.0f))).toDF("id", "v")
    val got = Clustering.silhouette(df, "id", "v", k = 2, iters = 2)
      .collect()
    assert(got.length == 3)
    assert(got.forall(_.getAs[Double]("silhouette") == 0.0))
    intercept[IllegalArgumentException] {
      Clustering.silhouette(df, "id", "v", k = 1, iters = 1)
    }
  }

  test("kCenterGreedy: farthest-point order, id tie-break, exhaustion") {
    import spark.implicits._
    // 1-D points at x = 0, 1, 10, 11 (ids 1..4), scale 1000:
    //   seed = id 1 (smallest id); farthest = id 4 (121e6);
    //   ids 2 and 3 then TIE at min-dist 1e6 → id 2 wins by id
    val df = Seq((1L, Seq(0.0f)), (2L, Seq(1.0f)),
      (3L, Seq(10.0f)), (4L, Seq(11.0f))).toDF("id", "v")
    val got = Clustering.kCenterGreedy(df, "id", "v", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getAs[java.lang.Long]("dist2"))))
    assert(got.toSeq == Seq(
      (1L, 1L, None),
      (2L, 4L, Some(121000000L)),
      (3L, 2L, Some(1000000L)),
      (4L, 3L, Some(1000000L))))
    graft.ops.Caches.releaseAll()
    // k beyond the row count stops at the rows it has — no crash
    assert(Clustering.kCenterGreedy(df, "id", "v", k = 9).count() == 4)
  }
}
