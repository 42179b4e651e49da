package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.Skew

class SkewSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def fixture = {
    // adversarial skew: key 1 holds half the probe rows
    val probe = Seq.tabulate(400)(i =>
      (i.toLong, if (i % 2 == 0) 1L else (i % 13).toLong)).toDF("id", "k")
    val build = Seq.tabulate(13)(j => (j.toLong, s"payload$j")).toDF("k", "p")
    (probe, build)
  }

  test("saltedJoin ≡ plain join on a skewed fixture, salt never leaks") {
    val (probe, build) = fixture
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("k"),
        r.getAs[String]("p"))).sorted.toSeq
    val plain = probe.join(build, Seq("k"))
    val salted = Skew.saltedJoin(probe, build, Seq("k"), "id", 8)
    assert(salted.columns.toSeq.sorted == plain.columns.toSeq.sorted,
      "salt column must not leak into the output schema")
    assert(rows(salted) == rows(plain))
    // n = 1 degenerates to the plain join too
    assert(rows(Skew.saltedJoin(probe, build, Seq("k"), "id", 1)) ==
      rows(plain))
  }

  test("saltedJoin really joins on (key, salt): hot key spreads") {
    val (probe, build) = fixture
    val plan = Skew.saltedJoin(probe, build, Seq("k"), "id", 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__salt__"), plan)
    // derived salt: deterministic across runs — same survivors, no rand()
    val a = Skew.saltedJoin(probe, build, Seq("k"), "id", 8).count()
    val b = Skew.saltedJoin(probe.repartition(7), build, Seq("k"), "id", 8)
      .count()
    assert(a == b && a == 400L, "every probe row joins exactly once")
  }
}
