package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.HashImpls
import graft.ops.Layout

class LayoutSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("zorder2 interleaves bits: a on even positions, b on odd") {
    assert(HashImpls.zorder2(0L, 0L) == 0L)
    assert(HashImpls.zorder2(1L, 0L) == 1L)   // bit 0 of a → z bit 0
    assert(HashImpls.zorder2(0L, 1L) == 2L)   // bit 0 of b → z bit 1
    assert(HashImpls.zorder2(3L, 0L) == 5L)   // 0b11 → 0b0101
    assert(HashImpls.zorder2(0L, 3L) == 10L)  // 0b11 → 0b1010
    assert(HashImpls.zorder2(3L, 3L) == 15L)
    // distinct coordinate pairs on a grid → distinct z (it's a bijection)
    val zs = for (a <- 0L until 32L; b <- 0L until 32L)
      yield HashImpls.zorder2(a, b)
    assert(zs.distinct.size == 1024)
  }

  test("native zorder2 ≡ the SQL-lambda spec") {
    val df = Seq.tabulate(200)(i => (i.toLong * 37 % 1000, i.toLong * 91 % 1000))
      .toDF("a", "b")
    val bad = df.select(
      Layout.zorderValue(col("a"), col("b")).as("n"),
      SpecTwins.zorderValueLambda(col("a"), col("b")).as("l"))
      .filter(col("n") =!= col("l")).count()
    assert(bad == 0)
  }

  test("zorderWrite gives every file a compact 2-D bounding box") {
    // full 64×64 grid → 16 range partitions of the z curve: each file
    // covers ~one 16×16 z block (area 256) instead of a slice of the
    // whole 64×64 plane (area 4096) that sorting by a alone would give
    // one dimension of
    val grid = for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong)
    val df = grid.toDF("a", "b").repartition(8) // scrambled input layout
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toFile
    Layout.zorderWrite(df, "a", "b", dir.getAbsolutePath, nFiles = 16)
    val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 16)
    var totalArea = 0L
    files.foreach { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("a"), max("a"), min("b"), max("b")).collect().head
      val area = (r.getLong(1) - r.getLong(0) + 1) *
        (r.getLong(3) - r.getLong(2) + 1)
      totalArea += area
    }
    // perfect z blocks: 16 files × 256 = 4096; allow sampled-boundary
    // slack. A single-column sort layout would give 16 × (64·4) ≈ 4096
    // too on THIS grid — the per-file MAX area is what separates them:
    // z files stay near-square (≤ ~4× the ideal 256), a-sorted files
    // span the full b range (area ≥ 64·4 = 256 but with b span 64)
    files.foreach { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("a"), max("a"), min("b"), max("b")).collect().head
      val spanA = r.getLong(1) - r.getLong(0) + 1
      val spanB = r.getLong(3) - r.getLong(2) + 1
      // BOTH dimensions bounded — the two-dimensional skipping property
      assert(spanA <= 32, s"a-span $spanA too wide in ${f.getName}")
      assert(spanB <= 32, s"b-span $spanB too wide in ${f.getName}")
    }
    assert(totalArea <= 4L * 4096L, s"total bbox area $totalArea")
    // the written table still holds every row exactly once
    assert(spark.read.parquet(dir.getAbsolutePath).count() == 4096)
  }

  test("manifest + prunedRead: skips files, result ≡ full filter") {
    val grid = for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong)
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toFile
    Layout.zorderWrite(grid.toDF("a", "b").repartition(8), "a", "b",
      dir.getAbsolutePath, nFiles = 16)
    val mf = Layout.manifest(spark, dir.getAbsolutePath, Seq("a", "b"))
    assert(mf.count() == 16, "one manifest row per file")
    val ranges = Map("a" -> (10L, 20L), "b" -> (10L, 20L))
    // the pruning decision must actually skip files on a z layout — an
    // 11×11 rectangle of a 64×64 grid touches a few z blocks, not all 16
    val surviving = Layout.prunedFiles(mf, ranges)
    assert(surviving.nonEmpty && surviving.size < 16,
      s"expected real pruning, got ${surviving.size} of 16 files")
    val got = Layout.prunedRead(spark, dir.getAbsolutePath, mf, ranges)
      .select(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = grid.filter { case (a, b) =>
      a >= 10 && a <= 20 && b >= 10 && b <= 20 }.sorted
    assert(got == want, "pruned scan must equal the full-table filter")
    // an empty intersection prunes everything and returns zero rows
    val none = Layout.prunedRead(spark, dir.getAbsolutePath, mf,
      Map("a" -> (1000L, 2000L)))
    assert(none.count() == 0)
  }

  test("bucketed tables join with zero exchange; plain twins shuffle") {
    import spark.implicits._
    val left = (1L to 200L).map(i => (i, i * 10)).toDF("k", "x")
    val right = (1L to 200L).map(i => (i, s"r$i")).toDF("k2", "y")
    Layout.bucketWrite(left, "k", 4, "graft_spec_bkt_l")
    Layout.bucketWrite(right, "k2", 4, "graft_spec_bkt_r")
    // force the shuffle-join path so the Exchange assert is about
    // BUCKETING, not about the broadcast threshold hiding the question
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
    val bucketed = spark.table("graft_spec_bkt_l")
      .join(spark.table("graft_spec_bkt_r"), col("k") === col("k2"))
    // the write pre-paid the shuffle AND the sort: the join plan reads
    // both sides bucket-aligned with no Exchange at all
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(bucketed.count() == 200)
    // result ≡ the plain-parquet join that pays two exchanges
    val dir = java.nio.file.Files.createTempDirectory("graft_bkt").toFile
    left.write.mode("overwrite").parquet(dir.getAbsolutePath + "/l")
    right.write.mode("overwrite").parquet(dir.getAbsolutePath + "/r")
    val plain = spark.read.parquet(dir.getAbsolutePath + "/l")
      .join(spark.read.parquet(dir.getAbsolutePath + "/r"),
        col("k") === col("k2"))
    val plainPlan = plain.queryExecution.executedPlan.toString
    assert(plainPlan.contains("Exchange") ||
      plainPlan.contains("Broadcast"), plainPlan)
    val a = bucketed.select("k", "x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val b = plain.select("k", "x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(a == b)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("snapshots: immutable versions, pinned + latest reads, torn writes invisible") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_snapspec")
      .toString
    val l = graft.ops.Layout
    assert(l.snapshotVersions(spark, base).isEmpty)
    assert(l.snapshotWrite(Seq(1L, 2L).toDF("x"), base) == 1)
    assert(l.snapshotWrite(Seq(1L, 2L, 3L).toDF("x"), base) == 2)
    assert(l.snapshotVersions(spark, base) == Seq(1, 2))
    // pinned v1 still reads the ORIGINAL rows after v2 landed
    assert(l.readSnapshot(spark, base, Some(1)).count() == 2)
    assert(l.readSnapshot(spark, base).count() == 3) // latest resolves v2
    // a torn write (directory without _SUCCESS) is invisible to readers
    // and does not claim a version number
    val torn = new java.io.File(s"$base/v=3")
    torn.mkdirs()
    assert(l.snapshotVersions(spark, base) == Seq(1, 2))
    assert(l.readSnapshot(spark, base).count() == 3)
    // the next commit numbers PAST the torn dir instead of colliding
    assert(l.snapshotWrite(Seq(9L).toDF("x"), base) == 4)
    assert(l.snapshotVersions(spark, base) == Seq(1, 2, 4))
    assert(l.readSnapshot(spark, base).count() == 1)
    // unknown pinned version refuses loudly
    intercept[IllegalArgumentException] {
      l.readSnapshot(spark, base, Some(99))
    }
  }

  test("rendezvousShard: range, determinism, growth moves only to the new shard") {
    val df = (0 until 2000).map(i => s"key$i").toDF("k")
    val got = df.select(Layout.rendezvousShard(col("k"), 8).as("s8"),
        Layout.rendezvousShard(col("k"), 9).as("s9")).collect()
    assert(got.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 8))
    assert(got.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 9))
    // a key's shard changes on growth IFF the new shard wins its weight
    // race — so every mover lands on shard 8, and ~1/9 of keys move
    val movers = got.filter(r => r.getLong(0) != r.getLong(1))
    assert(movers.forall(_.getLong(1) == 8L),
      "a mover landed on an old shard — not rendezvous hashing")
    assert(movers.length > 100 && movers.length < 400,
      s"${movers.length} of 2000 moved; expected ~222")
    // deterministic across evaluations
    val again = df.select(Layout.rendezvousShard(col("k"), 8).as("s8")).collect()
    assert(got.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
    // n=1 degenerates to the single shard
    val one = df.select(Layout.rendezvousShard(col("k"), 1).as("s"))
      .distinct().collect().map(_.getLong(0)).toSeq
    assert(one == Seq(0L))
    intercept[IllegalArgumentException] { Layout.rendezvousShard(col("k"), 65) }
  }

  test("sortOrderAudit: overlap against the running max; clean layout passes") {
    val decayed = Seq(("a", 0L, 10L), ("b", 5L, 20L), ("c", 30L, 40L))
      .toDF("file", "min_k", "max_k")
    val got = Layout.sortOrderAudit(decayed, "k").collect()
      .map(r => r.getAs[String]("file") ->
        ((Option(r.getAs[java.lang.Long]("prev_max")),
          r.getAs[Boolean]("overlaps"), r.getAs[Long]("n_overlapping"),
          r.getAs[Boolean]("clustered")))).toMap
    assert(got("a") == ((None, false, 1L, false)))
    assert(got("b") == ((Some(10L), true, 1L, false)))  // 5 <= 10
    assert(got("c") == ((Some(20L), false, 1L, false)))
    val clean = Seq(("a", 0L, 10L), ("b", 11L, 20L))
      .toDF("file", "min_k", "max_k")
    val ok = Layout.sortOrderAudit(clean, "k").collect()
    assert(ok.forall(_.getAs[Boolean]("clustered")))
  }

  test("compactionPlan: quantized groups for small files, big pass through") {
    val mf = Seq(("a", 3L), ("b", 3L), ("c", 3L), ("d", 10L))
      .toDF("file", "size_bytes")
    val got = Layout.compactionPlan(mf, "file", "size_bytes", 5L)
      .collect()
      .map(r => r.getAs[String]("file") ->
        ((Option(r.getAs[java.lang.Long]("grp")), r.getAs[Long]("grp_files"),
          r.getAs[Long]("grp_bytes")))).toMap
    // prefix sums 0,3,6 → grp 0,0,1; d ≥ target keeps its own row
    assert(got("a") == ((Some(0L), 2L, 6L)))
    assert(got("b") == ((Some(0L), 2L, 6L)))
    assert(got("c") == ((Some(1L), 1L, 3L)))
    assert(got("d") == ((None, 1L, 10L)))
    // every non-last group lands in [target, 2*target)
    assert(got("a")._3 >= 5L && got("a")._3 < 10L)
  }
}
