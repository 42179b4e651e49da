package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session factory and one listener meter: the settings every local
  * entry point gets, that nothing else in `src/main` builds a session or
  * reads a removed tuning knob, and that [[RunMeter]] counts exactly. */
class SessionsSpec extends AnyFunSuite with SharedSpark {

  private def mainSources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("Sessions.local(n): local[n], n shuffle partitions, UTC, UI off, sort-writer and codegen-cache settings") {
    Seq(1, 4, 7).foreach { n =>
      assert(Sessions.localSettings(n) == Map(
        "spark.master" -> s"local[$n]",
        "spark.sql.shuffle.partitions" -> n.toString,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.shuffle.sort.bypassMergeThreshold" -> "1",
        "spark.sql.codegen.cache.maxEntries" -> "10000",
        "spark.ui.enabled" -> "false"))
    }
    // and the live shared session carries them
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
    assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") == "1")
    assert(conf.get("spark.ui.enabled") == "false")
  }

  test("Sessions.serving(): UTC, UI off and the codegen cache of Sessions.local") {
    val serving = Sessions.servingSettings
    assert(serving("spark.sql.codegen.cache.maxEntries") == "10000")
    assert(serving("spark.sql.codegen.cache.maxEntries") ==
      Sessions.localSettings(4)("spark.sql.codegen.cache.maxEntries"))
    assert(serving("spark.sql.session.timeZone") == "UTC")
    assert(serving("spark.ui.enabled") == "false")
    assert(serving("spark.master") == sys.env.getOrElse("SPARK_MASTER", "local[*]"))
    assert(serving("spark.sql.shuffle.partitions") ==
      sys.env.getOrElse("SPARK_SHUFFLE_PARTITIONS", "32"))
  }

  test("only Sessions.scala builds a SparkSession under src/main") {
    val builders = mainSources.filter(p =>
      new String(Files.readAllBytes(p), "UTF-8").contains("SparkSession.builder"))
    assert(builders.map(_.getFileName.toString) == Seq("Sessions.scala"))
  }

  test("no main file reads a removed tuning knob") {
    val knobs = Seq("SPARK_GRAFT_BYPASS_MERGE_THRESHOLD",
      "SPARK_GRAFT_CODEGEN_CACHE", "TIMEQ_AQE")
    val hits = for {
      p <- mainSources
      text = new String(Files.readAllBytes(p), "UTF-8")
      k <- knobs if text.contains(k)
    } yield s"$p: $k"
    assert(hits.isEmpty, hits.mkString("; "))
  }

  test("RunMeter counts an RDD job of known shape exactly after settle()") {
    val meter = RunMeter.attach(spark.sparkContext)
    try {
      meter.settle()
      meter.reset()
      // 4 map tasks, a shuffle, 3 reduce tasks: 1 job, 2 stages, 7 tasks
      spark.sparkContext.parallelize(1 to 1000, 4)
        .map(i => (i % 10, i.toLong)).reduceByKey(_ + _, 3).collect()
      meter.settle()
      assert(meter.jobs.get == 1)
      assert(meter.stages.get == 2)
      assert(meter.tasks.get == 7)
      assert(meter.stageMs.size == 2)
      assert(meter.shuffleWrite.get > 0)
      assert(meter.shuffleRead.get == meter.shuffleWrite.get)
    } finally meter.close()
  }

  test("RunMeter counts the compiles of a new expression shape, and none when it runs again") {
    val meter = RunMeter.attach(spark.sparkContext)
    try {
      // literals are inlined into the generated code: a shape no earlier
      // run of this JVM compiled
      val k = 1000003L + System.nanoTime() % 1000000L
      def run(): Unit = spark.range(100).selectExpr(s"sum(id * $k + ${k + 7})").collect()
      meter.settle()
      meter.reset()
      run()
      meter.settle()
      assert(meter.compiles.get > 0)
      assert(meter.compileMs > 0)
      meter.reset()
      run()
      meter.settle()
      assert(meter.compiles.get == 0)
      assert(meter.compileMs == 0)
    } finally meter.close()
  }

  test("RunMeter counts one query per Dataset action and none for an RDD job") {
    val meter = RunMeter.attach(spark.sparkContext)
    try {
      meter.settle()
      meter.reset()
      spark.sparkContext.parallelize(1 to 100, 2).sum()
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.range(1000).filter("id % 7 = 0").count()
      meter.settle()
      assert(meter.queries.get == 2)
    } finally meter.close()
  }
}
