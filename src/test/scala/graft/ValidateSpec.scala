package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.Validate
import graft.ops.Validate._

class ValidateSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("validate: every rule kind fires with exact counts") {
    val df = Seq(
      (1L, "en", java.lang.Long.valueOf(10L)),
      (2L, null, java.lang.Long.valueOf(500L)),   // null lang
      (2L, "de", java.lang.Long.valueOf(-3L)),    // dup id + below range
      (3L, "xx", java.lang.Long.valueOf(900L)),   // bad set + above range
      (4L, "en", null.asInstanceOf[java.lang.Long]) // null size: range skips
    ).toDF("id", "lang", "size")
    val ref = Seq(1L, 3L, 4L).toDF("k")
    val got = Validate.validate(df, Seq(
        NotNull("lang"), InRange("size", 0L, 800L),
        InSet("lang", Seq("en", "de")), Unique(Seq("id")),
        ForeignKey(Seq("id"), ref, Seq("k"), "ref")))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_violations")))).toMap
    assert(got("not_null(lang)") == ((5L, 1L)))
    assert(got("in_range(size,0,800)") == ((5L, 2L)))
    assert(got("in_set(lang)") == ((5L, 1L)))     // null lang not counted
    assert(got("unique(id)") == ((5L, 2L)))       // both rows of the dup key
    assert(got("foreign_key(id→ref)") == ((5L, 2L))) // both id=2 rows orphan
    assert(got.size == 5)
  }

  test("validate: clean frame reports all-zero violations") {
    val df = Seq((1L, "en"), (2L, "de")).toDF("id", "lang")
    val got = Validate.validate(df, Seq(
        NotNull("lang"), Unique(Seq("id"))))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_violations"))
      .toMap
    assert(got.values.forall(_ == 0L))
  }

  test("validate plan: row-local rules share one aggregation pass") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Validate.validate(df, Seq(
        NotNull("lang"), InRange("n_chars", 0L, 800L),
        InSet("source", Seq("src0", "src1"))))
      .queryExecution.executedPlan.toString
    // one scan: a single FileScan feeds all three conditional sums
    assert(plan.split("FileScan").length == 2,
      "row-local rules must share one scan:\n" + plan)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      plan)
  }
}
