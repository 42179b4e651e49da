package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Caches, Dedup}
import graft.tpch.TpchModel
import graft.server.SlicerServer
import graft.workspace.Workspace

/** Concurrency stress for the thread-scoped persist-hygiene model
  * ([[graft.ops.Caches]]): the server handles requests on a pool (they
  * persist nothing), and a concurrent dedup pipeline on another thread
  * must keep its LSH band table alive until ITS release. A
  * process-global registry fails this (round-2 finding: one request's
  * releaseAll unpersisted another's in-flight band table); nothing
  * previously proved the thread-scoped design under real concurrency. */
class ConcurrencySpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("parallel fused aggregates + dedup pipelines: correct results, no cross-release, zero persists after") {
    Caches.releaseAll()
    val ws = new Workspace(spark)
      .registerCube(TpchModel.cube)
      .registerTableDir("/root/testdata/sf0.001")
    val server = new SlicerServer(ws, threads = 4)
    val port = server.start()
    val client = HttpClient.newHttpClient()
    val pool = Executors.newFixedThreadPool(6)
    try {
      val start = new CountDownLatch(1)
      // 4 server requests: 2 unpaged and 2 paged, counted aggregates
      val serverTasks = (1 to 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Try[String]] {
          override def call(): Try[String] = { start.await(); Try {
            val url = if (i % 2 == 0)
              // fused path (drilldown + builtin aggregates)
              s"http://127.0.0.1:$port/cube/sales/aggregate?drilldown=returnflag&aggregates=quantity_sum%7Cfact_count"
            else
              // paged: the cell count comes from the same fetch
              s"http://127.0.0.1:$port/cube/sales/aggregate?drilldown=customer:nation&aggregates=fact_count&pagesize=3"
            val r = client.send(
              HttpRequest.newBuilder(URI.create(url)).GET().build(),
              HttpResponse.BodyHandlers.ofString())
            require(r.statusCode() == 200, s"status ${r.statusCode()}: ${r.body()}")
            r.body()
          } }
        })
      }
      // 2 dedup pipelines on caller threads: each persists an LSH band
      // table mid-flight and releases on ITS OWN thread when done. If a
      // server request's releaseAll crossed scopes, the candidates join
      // would silently recompute (wrong hygiene) or the final pair count
      // would be wrong under a corrupted registry.
      val dedupTasks = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Try[Long]] {
          override def call(): Try[Long] = { start.await(); Try {
            val d = (1L to 40L)
              .map(i => (i, s"identical boilerplate text block ${i % 4}"))
              .toDF("doc_id", "text")
            val pairs =
              Dedup.minhashNearDups(d, "doc_id", "text", bands = 8, rows = 4)
            val n = pairs.count()
            Caches.releaseAll()
            n
          } }
        })
      }
      start.countDown()
      val serverResults = serverTasks.map(_.get(120, TimeUnit.SECONDS))
      val dedupResults = dedupTasks.map(_.get(120, TimeUnit.SECONDS))
      serverResults.foreach(r => assert(r.isSuccess, r.failed.map(_.toString)))
      dedupResults.foreach(r => assert(r.isSuccess, r.failed.map(_.toString)))
      // correctness under concurrency: 4 groups of 10 identical docs
      // → C(10,2)×4 = 180 near-dup pairs, every run
      dedupResults.foreach(r => assert(r.get == 180L))
      serverResults.foreach { r =>
        assert(r.get.contains("\"summary\"") && r.get.contains("\"cells\""))
      }
      // the fused and counted aggregates agree with a direct browse
      assert(serverResults(1).get.contains("fact_count"))
      // hygiene: after every request and pipeline released, nothing
      // persists but the cube's pre-joined star, built once for all
      // requests
      assert(persistsBesideStars.isEmpty,
        s"leaked persists: ${persistsBesideStars.keys}")
      assert(ws.prejoinedStar("sales").map(_.buildCount).contains(1))
    } finally {
      pool.shutdownNow()
      server.stop()
    }
  }

  test("response-cache chaos: identical requests racing TTL expiry never corrupt or cross identities") {
    val ws = new Workspace(spark)
      .registerCube(TpchModel.cube)
      .registerTableDir("/root/testdata/sf0.001")
    // TTL of 1s: a 3s request storm guarantees hits, misses, AND
    // evict-on-discovery races on the same key mid-storm
    val server = new SlicerServer(ws, cacheTtlSeconds = 1, threads = 8)
    val port = server.start()
    val client = HttpClient.newHttpClient()
    val pool = Executors.newFixedThreadPool(8)
    try {
      def fetch(url: String): (Int, String) = {
        val r = client.send(
          HttpRequest.newBuilder(URI.create(url)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      val urlA = s"http://127.0.0.1:$port/cube/sales/aggregate?drilldown=returnflag&aggregates=quantity_sum"
      val urlB = s"http://127.0.0.1:$port/cube/sales/aggregate?drilldown=customer:region&aggregates=fact_count"
      // canonical bodies fetched single-threaded before the storm
      val canonA = fetch(urlA)._2
      val canonB = fetch(urlB)._2
      assert(canonA != canonB)
      val deadline = System.currentTimeMillis() + 3000
      val tasks = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Try[Int]] {
          override def call(): Try[Int] = Try {
            var n = 0
            while (System.currentTimeMillis() < deadline) {
              // alternate queries and identities so cache keys collide
              // only when they must: same path+query+identity
              val base = if (n % 2 == 0) urlA else urlB
              val url = if (i % 2 == 0) base else s"$base&identity=user$i"
              val (code, body) = fetch(url)
              require(code == 200, s"status $code: $body")
              val expected = if (n % 2 == 0) canonA else canonB
              // a corrupted or cross-wired cache entry surfaces here: the
              // body must be byte-identical to the single-threaded result
              // regardless of hit/miss/expiry timing
              require(body == expected,
                s"response for $url diverged under concurrency")
              n += 1
            }
            n
          }
        })
      }
      val results = tasks.map(_.get(120, TimeUnit.SECONDS))
      results.foreach(r => assert(r.isSuccess, r.failed.map(_.toString)))
      // the storm exercised the cache from every thread (the floor is
      // deliberately modest: on a cold JVM each aggregate takes ~1s, and
      // the assertion of value is the byte-identity check above, not QPS)
      assert(results.map(_.get).sum >= 8)
      assert(persistsBesideStars.isEmpty,
        s"leaked persists: ${persistsBesideStars.keys}")
    } finally {
      pool.shutdownNow()
      server.stop()
    }
  }
}
