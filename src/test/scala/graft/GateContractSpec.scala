package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The Verify gate's export contract: no gate query may emit
  * container-typed (array/map/struct) columns — the external checker
  * hashes cell values and cannot hash containers (round-9 q94/q98/q116
  * failed exactly this way). The sweep reads schemas, not results —
  * though a handful of queries run small construction-time actions
  * (relative cutoffs from count(), literal vocab/centroid collection),
  * so it is cheap, not free. */
class GateContractSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("every gate query has oracle SQL — a keyless entry would score " +
      "a silent no-oracle row instead of a hash check") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without query: $orphans")
  }

  test("a registry with a repeated gate name fails, naming it") {
    import graft.tpch.Gate
    def gate(name: String) = Gate(name, (s, _) => s.range(1).toDF(), "SELECT 1")
    val e = intercept[IllegalArgumentException](
      Gate.registry(gate("q1_a"), gate("q2_b"), gate("q1_a")))
    assert(e.getMessage.contains("duplicate gate names: q1_a"), e.getMessage)
    assert(Gate.registry(gate("q1_a"), gate("q2_b")).map(_.name) ==
      Seq("q1_a", "q2_b"))
  }

  test("containerColumns flags array/map/struct, passes scalars") {
    val df = Seq((1L, "x")).toDF("id", "s")
      .withColumn("arr", array(lit(1), lit(2)))
      .withColumn("m", map(lit("k"), lit(1)))
      .withColumn("st", struct(lit(1).as("a")))
    assert(Verify.containerColumns(df.schema) == Seq("arr", "m", "st"))
    assert(Verify.containerColumns(df.select("id", "s").schema).isEmpty)
  }

  test("no gate query exports container-typed columns (schema sweep)") {
    val dir = "/root/testdata/sf0.001"
    try {
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          val bad = Verify.containerColumns(fn(spark, dir).schema)
          if (bad.isEmpty) Nil else Seq(s"$name: ${bad.mkString(",")}")
      }
      assert(offenders.isEmpty, offenders.mkString("; "))
    } finally graft.ops.Caches.releaseAll() // construction-time persists
  }
}
