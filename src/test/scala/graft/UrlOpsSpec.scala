package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.UrlOps

class UrlOpsSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def canon(urls: String*): Seq[String] =
    urls.toDF("u").select(UrlOps.canonicalize(col("u")).as("c"))
      .collect().map(_.getString(0)).toSeq

  test("canonicalize: the full kitchen sink collapses") {
    assert(canon(
      "https://WWW.Example.COM:443//a//b/?utm_source=x&b=2&a=1&gclid=7#frag")
      == Seq("https://example.com/a/b?a=1&b=2"))
  }

  test("canonicalize: default port strips only when it matches the scheme") {
    assert(canon("http://Site.Org:80/p") == Seq("http://site.org/p"))
    assert(canon("https://site.org:443/p") == Seq("https://site.org/p"))
    // :8080 is load-bearing; :443 on http is NOT that scheme's default
    assert(canon("http://site.org:8080/p") == Seq("http://site.org:8080/p"))
    assert(canon("http://site.org:443/p") == Seq("http://site.org:443/p"))
  }

  test("canonicalize: empty path becomes /, root slash survives") {
    assert(canon("HTTP://Host.Com") == Seq("http://host.com/"))
    assert(canon("http://host.com/") == Seq("http://host.com/"))
  }

  test("canonicalize: params sort, empties drop, tracking dies, rest live") {
    assert(canon("http://h.co/p?z=1&a&b=&utm_campaign=c&ref=r&fbclid=f")
      == Seq("http://h.co/p?a&b=&z=1"))
    // a query of ONLY tracking params vanishes entirely
    assert(canon("http://h.co/p?utm_source=x") == Seq("http://h.co/p"))
    // a param NAMED like a value keeps: refresh is not ref
    assert(canon("http://h.co/p?refresh=1") == Seq("http://h.co/p?refresh=1"))
  }

  test("canonicalize: no :// passes through lowercased; isWellFormed flags") {
    assert(canon("Not A Url") == Seq("not a url"))
    val flags = Seq("http://ok.com/x", "nope", "http://")
      .toDF("u").select(UrlOps.isWellFormed(col("u")).as("f"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(flags == Seq(true, false, false))
  }

  test("registrableDomain: last two labels; single label passes through") {
    val got = Seq("https://a.b.site.org/x", "http://localhost/x",
      "http://site.org:8080/x")
      .toDF("u")
      .select(UrlOps.registrableDomain(UrlOps.canonicalize(col("u"))).as("d"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("site.org", "localhost", "site.org"))
  }

  test("filterBlockedDomains: canonical variants can't dodge; " +
    "the blocklist broadcasts (anti-join, corpus never shuffles)") {
    val df = Seq(
      (1L, "http://WWW.Bad.COM:80/x?utm_source=a"),
      (2L, "https://sub.bad.com/y"),
      (3L, "http://good.org/z"))
      .toDF("id", "url")
    val out = UrlOps.filterBlockedDomains(df, "url",
      Seq("bad.com").toDF("domain"))
    assert(out.collect().map(_.getAs[Long]("id")).toSeq == Seq(3L))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan)
  }

  test("dedupByCanonicalUrl: variants collapse, lowest id survives intact") {
    val df = Seq(
      (3L, "http://WWW.Site.com:80/a?utm_source=x&q=1", "keep3"),
      (1L, "http://site.com/a/?q=1#frag", "keep1"),
      (2L, "https://site.com/a?q=1", "keep2")) // https ≠ http: distinct
      .toDF("id", "url", "payload")
    val out = UrlOps.dedupByCanonicalUrl(df, "url", "id")
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[String]("payload")).toMap
    assert(out == Map(1L -> "keep1", 2L -> "keep2")) // 3 collapsed into 1
  }

  test("native canonicalize ≡ lambda spec on the battery AND the synth corpus") {
    val battery = Seq(
      "https://WWW.Example.COM:443//a//b/?utm_source=x&b=2&a=1&gclid=7#frag",
      "http://Site.Org:80/p", "http://site.org:8080/p",
      "http://site.org:443/p", "HTTP://Host.Com", "http://host.com/",
      "http://h.co/p?z=1&a&b=&utm_campaign=c&ref=r&fbclid=f",
      "http://h.co/p?utm_source=x", "http://h.co/p?refresh=1",
      "Not A Url", "http://", "http://host?a=1&b=0",
      "http://host/p?x=%20&x=+&&&", "https://a.b.c.d.e/x/y/z/")
    // plus every synthetic corpus URL (the gate's own input space)
    val synth = (0L until 500L).toDF("doc_id")
      .select(col("doc_id"))
    val urls = battery.toDF("u").union(
      synth.select(concat(
        when(col("doc_id") % 3 === 0, "https").otherwise("http"),
        lit("://"),
        when(col("doc_id") % 2 === 0, "WWW.").otherwise(""),
        lit("Site"), (col("doc_id") % 5).cast("string"),
        lit(".Example."),
        when(col("doc_id") % 2 === 0, "com").otherwise("org"),
        when(col("doc_id") % 4 === 1,
          when(col("doc_id") % 3 === 0, ":443").otherwise(":80"))
          .when(col("doc_id") % 4 === 2, ":8080").otherwise(""),
        lit("//a/"), (col("doc_id") % 7).cast("string"),
        when(col("doc_id") % 2 === 0, "/").otherwise(""),
        when(col("doc_id") % 3 === 0, "?utm_source=x&b=2&a=1")
          .when(col("doc_id") % 3 === 1, "?gclid=1&z=9").otherwise(""),
        when(col("doc_id") % 2 === 0, "#top").otherwise("")).as("u")))
    val diff = urls.select(col("u"),
        UrlOps.canonicalize(col("u")).as("native"),
        SpecTwins.canonicalizeLambda(col("u")).as("lambda"))
      .filter(not(col("native") <=> col("lambda")))
      .collect()
    assert(diff.isEmpty, diff.take(5).mkString("\n"))
    // the native tracking set cannot drift from the documented list
    UrlOps.trackingParams.foreach { p =>
      val c = Seq(s"http://h.co/p?$p=1&keep=2").toDF("u")
        .select(UrlOps.canonicalize(col("u"))).collect().head.getString(0)
      assert(c == "http://h.co/p?keep=2", s"param $p not stripped: $c")
    }
    // SQL registration path computes the same value
    graft.functions.GraftSqlExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT graft_url_canon('http://WWW.H.co:80/a//b/?b=1&a=2#x') AS c")
      .collect().head.getString(0)
    assert(viaSql == "http://h.co/a/b?a=2&b=1")
  }

  test("domainRollup groups canonical variants of one page together") {
    val df = Seq(
      (1L, "http://WWW.Site.com/a?utm_source=x", "en", 10L),
      (2L, "http://site.com:80/a", "en", 20L),
      (3L, "https://sub.site.com/b", "fr", 30L),
      (4L, "http://other.org/c", "en", 40L))
      .toDF("id", "url", "lang", "n_chars")
    val got = UrlOps.domainRollup(df, "url", "lang", "n_chars")
      .collect().map(r => r.getAs[String]("domain") -> r).toMap
    val s = got("site.com")
    assert(s.getAs[Long]("n_pages") == 3L)
    assert(s.getAs[Long]("n_hosts") == 2L) // site.com + sub.site.com
    assert(s.getAs[Long]("n_langs") == 2L)
    assert(s.getAs[Long]("total_chars") == 60L)
    assert(got("other.org").getAs[Long]("n_pages") == 1L)
  }
}
