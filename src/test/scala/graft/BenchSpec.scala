package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The plan-fingerprint baseline of [[Bench]]: only the checkout's own
  * full-catalog `BENCH_local.json`, never a committed round artifact or a
  * subset run. */
class BenchSpec extends AnyFunSuite {

  private def artifact(fps: String, strict: String): String =
    s"""{"queries":{},"plan_fp":{$fps},"plan_fp_strict":{$strict},"metric":"total"}"""

  test("the baseline is the checkout's own BENCH_local.json, and nothing else") {
    val dir = Files.createTempDirectory("bench-baseline").toFile
    def write(name: String, text: String): Unit =
      Files.writeString(new java.io.File(dir, name).toPath, text)
    try {
      assert(Bench.planFpBaseline(dir).isEmpty)
      // another host's round artifact and a subset run are no baseline
      write("BENCH_r14_local.json", artifact(""""q01":"aa"""", """"q01":"bb""""))
      write("BENCH_local_subset.json", artifact(""""q01":"cc"""", ""))
      assert(Bench.planFpBaseline(dir).isEmpty)
      // a file with no plan_fp is none either
      write("BENCH_local.json", """{"queries":{}}""")
      assert(Bench.planFpBaseline(dir).isEmpty)
      write("BENCH_local.json",
        artifact(""""q01":"0f","q02":"1e"""", """"q01":"2d""""))
      assert(Bench.planFpBaseline(dir).contains(
        (Map("q01" -> "0f", "q02" -> "1e"), Map("q01" -> "2d"))))
    } finally {
      dir.listFiles().foreach(_.delete())
      dir.delete()
    }
  }
}
