package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.HashImpls
import graft.ops.{Dedup, Similarity}

/** Content-defined chunking + deterministic random projection. */
class CdcProjectionSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  /** Deterministic pseudo-text (LCG over a lowercase alphabet + spaces). */
  private def synth(seed: Long, n: Int): String = {
    val sb = new StringBuilder
    var s = seed
    (0 until n).foreach { _ =>
      s = (s * 6364136223846793005L + 1442695040888963407L)
      val r = ((s >>> 33) % 27).toInt
      sb.append(if (r == 26) ' ' else ('a' + r).toChar)
    }
    sb.toString
  }

  test("cdcChunks reassembles each document exactly") {
    val texts = Seq(1L -> synth(1, 300), 2L -> synth(2, 48), 3L -> synth(3, 2000))
    val df = texts.toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(df, "doc_id", "text").collect()
      .groupBy(_.getAs[Long]("doc_id"))
    texts.foreach { case (id, t) =>
      val rows = ch(id).sortBy(_.getAs[Int]("chunk_idx"))
      // contiguous cover of [0, n)
      var pos = 0
      rows.foreach { r =>
        assert(r.getAs[Int]("chunk_pos") == pos)
        pos += r.getAs[Int]("chunk_len")
      }
      assert(pos == t.length)
      // digests are the polyHash of the exact substring
      rows.foreach { r =>
        val p = r.getAs[Int]("chunk_pos"); val l = r.getAs[Int]("chunk_len")
        assert(r.getAs[Long]("digest") ==
          HashImpls.polyHash(t.substring(p, p + l)))
      }
    }
  }

  test("cdcChunks: text shorter than the window is one whole chunk") {
    val df = Seq((1L, "tiny")).toDF("doc_id", "text")
    val rows = Dedup.cdcChunks(df, "doc_id", "text", w = 16).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Int]("chunk_len") == 4)
    assert(rows.head.getAs[Long]("digest") == HashImpls.polyHash("tiny"))
  }

  test("cdcChunks drops null texts, emits nothing for them") {
    val df = Seq((1L, Some(synth(9, 200))), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val ids = Dedup.cdcChunks(df, "doc_id", "text").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(1L))
  }

  test("CDC boundaries re-synchronize after an insertion (the point of CDC)") {
    // same long suffix behind different-length prefixes: byte-offset
    // chunking shares nothing; content-defined chunking re-locks onto the
    // suffix's boundaries and the tail chunks hash identically
    val suffix = synth(42, 1500)
    val a = synth(7, 100) + suffix
    val b = synth(8, 137) + suffix
    val df = Seq(1L -> a, 2L -> b).toDF("doc_id", "text")
    val byDoc = Dedup.cdcChunks(df, "doc_id", "text").collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[Long]("digest")).toSet).toMap
    val shared = byDoc(1L).intersect(byDoc(2L))
    assert(shared.size >= 5,
      s"expected re-synchronized tail chunks, got ${shared.size} shared")
  }

  test("cdcDedupStats flags corpus-repeated chunks, skew-safe plan") {
    val t1 = synth(11, 800)
    val df = Seq(1L -> t1, 2L -> t1, 3L -> synth(12, 800))
      .toDF("doc_id", "text")
    val out = Dedup.cdcDedupStats(df, "doc_id", "text")
    val m = out.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_dup_chunks"),
        r.getAs[Double]("dup_ratio"))).toMap
    // identical docs: every chunk duplicated
    assert(m(1L)._1 == m(1L)._2 && m(1L)._3 == 1.0)
    assert(m(2L)._3 == 1.0)
    assert(m(3L)._3 == 0.0)
    val plan = out.queryExecution.executedPlan.toString
    // corpus counts come from a partial-aggregable groupBy + join-back,
    // never a count-over-window on the digest (the q81 skew lesson)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("clusteredNearDups finds within-cluster near-duplicates only") {
    // two near-identical vectors (the dup pair), plus far-away noise
    val vecs = Seq(
      1L -> Array(1.0f, 0.0f, 0.0f, 0.01f),
      2L -> Array(1.0f, 0.001f, 0.0f, 0.01f), // ≈ copy of 1
      3L -> Array(-1.0f, 0.2f, 0.0f, 0.0f),
      4L -> Array(0.0f, -1.0f, 0.3f, 0.0f),
      5L -> Array(0.1f, 1.0f, -0.2f, 0.0f),
      6L -> Array(0.0f, 0.0f, 1.0f, 0.5f))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.clusteredNearDups(df, "vec_id", "embedding",
      k = 2, iters = 2, threshold = 0.95)
    val pairs = out.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)), s"missing the duplicate pair: $pairs")
    // every reported pair really is >= threshold (exact recompute)
    val m = vecs.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def d(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      d(a, b) / math.sqrt(d(a, a) * d(b, b))
    }
    pairs.foreach { case (x, y) => assert(cos(m(x), m(y)) >= 0.95 - 1e-9) }
    // the join is cluster-keyed equi, never a cartesian/nested loop
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("randomProjection matches the reference formula bit-for-bit") {
    val vec = Array(0.5f, -1.25f, 3.75f, 0.0f, -0.001f)
    val df = Seq((1L, vec)).toDF("vec_id", "embedding")
    val outDims = 4
    val row = Similarity.randomProjection(df, "vec_id", "embedding", outDims)
      .collect().head
    val got = row.getSeq[Long](row.fieldIndex("proj"))
    val d = vec.length
    val q = vec.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong)
    val want = Array.tabulate(outDims) { j =>
      (0 until d).map { i =>
        val idx = j.toLong * d + i
        val v = (1103515245L * idx + 12345L) % 2147483648L
        val bit = (v / 65536L) % 2L
        (1L - 2L * bit) * q(i)
      }.sum
    }
    assert(got.toArray.sameElements(want), s"$got vs ${want.toSeq}")
  }

  test("native random_projection ≡ the SQL-lambda spec") {
    val df = Seq.tabulate(40)(i =>
      (i.toLong, Array.tabulate(12)(j => ((i * 31 + j * 7) % 19 - 9) / 4.0f)))
      .toDF("vec_id", "embedding")
    val both = df.select(col("vec_id"),
      graft.functions.NativeHashes
        .random_projection(col("embedding"), 8, 1000L).as("a"),
      SpecTwins.randomProjectionLambda(col("embedding"), 8).as("b"))
    assert(both.filter(not(col("a") === col("b"))).count() == 0)
  }

  test("randomProjection is shuffle-free and deterministic") {
    val df = Seq.tabulate(50)(i =>
      (i.toLong, Array.tabulate(8)(j => (i * 8 + j) / 100.0f)))
      .toDF("vec_id", "embedding")
    val p = Similarity.randomProjection(df, "vec_id", "embedding", 6)
    assert(!p.queryExecution.executedPlan.toString.contains("Exchange"))
    val r1 = p.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getSeq[Long](r.fieldIndex("proj"))).toMap
    val r2 = p.repartition(7).collect().map(r => r.getAs[Long]("vec_id") ->
      r.getSeq[Long](r.fieldIndex("proj"))).toMap
    assert(r1 == r2)
  }
}
