package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Caches, Dedup, Fixpoint}
import graft.ops.Fixpoint.{Budget, Watch}
import graft.SourceTree.sources

/** The round driver of the iterative operators: one action per watched
  * round, at most two rounds held, one non-convergence rule, one record
  * per round, and one lineage-cut idiom in `src/main`. */
class FixpointSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  /** Round RDDs still persisted: those the driver's wrap made (an RDD
    * prints its creation site; a DataFrame cache the wrap's planning
    * fills prints `toInternalRdd` there, not `mapPartitions`), less the
    * workspace stars other specs hold, which the same wrap made. */
  private def held: Int = persistsBesideStars.values
    .count(_.toString.contains(" at mapPartitions at Fixpoint.scala:"))

  /** Synchronous min-label rounds over an undirected chain of `n` nodes. */
  private def chainLabels(op: String, n: Long, maxRounds: Int)
      (observe: => Unit = ()): Fixpoint.Result = {
    val edges = (1L until n).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("a", "b")
    val init = (1L to n).toDF("id")
      .select(col("id"), col("id").as("label"), lit(true).as("changed"))
    Fixpoint.converge(op, init, maxRounds, Watch.Flag("changed")) { (cur, _) =>
      observe
      val nmin = edges
        .join(cur.select(col("id").as("b"), col("label").as("l")), "b")
        .groupBy(col("a").as("id")).agg(min(col("l")).as("nmin"))
      cur.join(nmin, Seq("id"), "left").select(col("id"),
        least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
        (coalesce(col("nmin"), col("label")) < col("label")).as("changed"))
    }
  }

  test("one action per round: a watched round adds the jobs of a frontier CC round") {
    // the frontier CC loop before it moved onto the driver ran 33, 38,
    // 43 and 48 jobs on 6..9-node chains (one more round per node): 5 a
    // round, the round's four shuffle stages (AQE runs each as a job)
    // plus the one count that fills it
    def jobs(n: Long): Long = {
      val docs = (1L to n).map(i => (i, s"d$i")).toDF("doc_id", "text")
      val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
      Dedup.nearDupClusters(docs, "doc_id", pairs, maxIter = 30).count()
      Caches.releaseAll()
      val meter = RunMeter.attach(spark.sparkContext)
      try {
        Dedup.nearDupClusters(docs, "doc_id", pairs, maxIter = 30).count()
        meter.settle()
        meter.jobs.get
      } finally { meter.close(); Caches.releaseAll() }
    }
    val perChain = (6L to 8L).map(jobs)
    assert(perChain.sliding(2).forall(p => p(1) - p(0) == 5L), perChain)
  }

  test("bounded storage: at most two rounds held while running, none after releaseAll") {
    Caches.releaseAll()
    val base = held // rounds other threads may still hold
    var most = 0
    val res = chainLabels("boundedSpec", 8, 12) {
      most = math.max(most, held - base)
    }
    assert(res.converged)
    assert(most <= 2, s"$most rounds held")
    assert(held - base == 1, "the final round is registered")
    Caches.releaseAll()
    assert(held == base)
    // fixed-round loops, cut every round (btStrengths) or every CutEvery
    // rounds (pageRank), release each cut once the next one is planned
    val ring = (0L until 12L).flatMap(i => Seq((i, (i + 1) % 12), (i, (i + 5) % 12)))
      .toDF("src", "dst")
    graft.ops.Profiling.btStrengths(ring, "src", "dst", iters = 6).count()
    assert(held - base == 1, "btStrengths")
    graft.ops.Graph.pageRank(ring, "src", "dst", iters = 12).count()
    assert(held - base == 2, "pageRank")
    graft.ops.Corpus.trainBpe(Seq("abab abba baab", "aabb abab").toDF("text"),
      "text", numMerges = 6).count()
    assert(held - base == 3, "trainBpe")
    Caches.releaseAll()
    assert(held == base)
  }

  test("non-convergence: strict throws naming the operator and its budget, " +
      "otherwise the partial result returns") {
    val counter = Seq(0L).toDF("n")
    def inc(d: DataFrame, r: Int) = d.select((col("n") + 1).as("n"))
    val e = intercept[IllegalStateException] {
      Fixpoint.converge("counterSpec", counter, 3, Watch.Fingerprint,
        Budget.Strict)(inc)
    }
    assert(e.getMessage.contains("counterSpec") &&
      e.getMessage.contains("3 rounds"), e.getMessage)
    val res = Fixpoint.converge("counterSpec", counter, 3, Watch.Fingerprint,
      Budget.Warn)(inc)
    assert(!res.converged && res.stableRound.isEmpty)
    assert(res.state.as[Long].collect().toSeq == Seq(3L))
    // a fingerprint tells that a round moved, not how many rows did
    assert(res.rounds.map(r => (r.round, r.rows, r.changed)) ==
      Seq((1, 1L, 1L), (2, 1L, 1L), (3, 1L, 1L)))
    Caches.releaseAll()
  }

  test("round records: a 6-node chain's rows, changed counts and stable round") {
    val res = chainLabels("chainSpec", 6, 10)()
    assert(res.rounds.map(r => (r.round, r.rows, r.changed)) == Seq(
      (1, 6L, 5L), (2, 6L, 4L), (3, 6L, 3L), (4, 6L, 2L), (5, 6L, 1L),
      (6, 6L, 0L)))
    assert(res.rounds.forall(_.ms >= 0L))
    assert(res.converged && res.stableRound.contains(6))
    assert(res.state.select(col("label")).distinct().as[Long].collect()
      .toSeq == Seq(1L))
    Caches.releaseAll()
  }

  test("one lineage-cut idiom: only Fixpoint cuts rounds, and no operator " +
      "takes a cut cadence") {
    // the shared wrap lives in Fixpoint.scala; GraftSqlBridge defines the
    // two calls it makes
    val wrapFiles = Set("Fixpoint.scala", "GraftSqlBridge.scala")
    val cuts = for {
      (p, text) <- sources("src/main/scala")
      w <- Seq("localCheckpoint", "toInternalRdd", "internalCreateDataFrame")
      if text.contains(w)
      if w == "localCheckpoint" || !wrapFiles(p.getFileName.toString)
    } yield s"$p: $w"
    assert(cuts.isEmpty, cuts.mkString("; "))
    val cadence = sources("src/main/scala").collect {
      case (p, text) if text.contains("checkpointEvery") => p.toString
    }
    assert(cadence.isEmpty, cadence.mkString("; "))
  }
}
