package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization for web-crawl curation — the first step of every
  * crawl-derived training-data pipeline: the same page arrives under
  * `http://WWW.Example.com:80/a//b/?utm_source=x&q=1#frag` and
  * `http://example.com/a/b?q=1`, and URL-keyed dedup, per-domain quality
  * rollups, and blocklist joins all need the two to collide.
  *
  * The whole transform is a composition of codegen'd string builtins plus
  * array higher-order functions — per-row, shuffle-free, streams
  * unchanged, and exactly replayable in ANSI SQL (the q250 oracle). The
  * canonical form is deliberately conservative and documented:
  *
  *  1. drop the `#fragment`;
  *  2. lowercase the scheme and the authority;
  *  3. strip a leading `www.`;
  *  4. strip the scheme's DEFAULT port only (`:80` for http, `:443` for
  *     https — `:8080` is load-bearing and survives);
  *  5. collapse duplicate `/` runs in the path and drop a trailing `/`
  *     (the root path stays `/`; an empty path becomes `/`);
  *  6. drop tracking parameters (`utm_*` prefix and the exact names in
  *     [[UrlOps.trackingParams]]), drop empty `&&` tokens, and SORT the
  *     survivors — param order never distinguishes documents.
  *
  * Registrable-domain extraction is the standard last-two-labels
  * simplification (a full public-suffix list is a data file, not an
  * algorithm change; `co.uk`-style suffixes group one level too coarse
  * and are called out in the Scaladoc contract).
  */
object UrlOps {

  /** Exact query-parameter names dropped by canonicalization (the
    * click-tracking set every crawl pipeline strips). `utm_*` is matched
    * by prefix in addition to these. */
  val trackingParams: Seq[String] =
    Seq("gclid", "fbclid", "msclkid", "ref", "igshid")

  /** Remaining-length cap for positional substrings (URLs are far
    * shorter; `Int.MaxValue` would overflow pos+len inside substring). */
  private[graft] val MaxLen = 1 << 20

  /** Everything before the first `#` (the whole string when absent). */
  private[graft] def stripFragment(u: Column): Column = substring_index(u, "#", 1)

  /** Canonical URL per the object contract. Input must look like
    * `scheme://authority[/path][?query][#frag]`; anything without
    * `://` passes through lowercased-scheme-less as `raw` (flagged by
    * [[isWellFormed]]).
    *
    * This is the NATIVE one-pass expression
    * ([[graft.functions.UrlCanonExpr]]); `SpecTwins.canonicalizeLambda`
    * is the builtin-composition executable spec producing identical values
    * (asserted in UrlOpsSpec over the full synthetic corpus) — the
    * interpreted HOF filter + sort in the composition measured
    * ~0.3 ms/row, the native pass is what a crawl-scale pipeline runs. */
  def canonicalize(u: Column): Column =
    graft.functions.NativeUrl.url_canon(u)

  /** True when the URL has a `scheme://` and a non-empty authority —
    * the rows [[canonicalize]]'s full contract applies to. */
  def isWellFormed(u: Column): Column = {
    val nf   = stripFragment(u)
    val rest = nf.substr(length(substring_index(nf, "://", 1)) + lit(4),
      lit(MaxLen))
    nf.contains("://") && substring_index(rest, "/", 1) =!= ""
  }

  /** Lowercased host of a CANONICAL url (no port). */
  def host(canonical: Column): Column = {
    val rest = canonical.substr(
      length(substring_index(canonical, "://", 1)) + lit(4), lit(MaxLen))
    substring_index(substring_index(rest, "/", 1), ":", 1)
  }

  /** Registrable domain of a CANONICAL url: the last two dot-labels
    * (`a.b.site.org` → `site.org`); single-label hosts pass through. */
  def registrableDomain(canonical: Column): Column = {
    val h      = host(canonical)
    val labels = split(h, "\\.")
    when(size(labels) >= 2,
      concat_ws(".", element_at(labels, -2), element_at(labels, -1)))
      .otherwise(h)
  }

  /** Keep-first dedup on the CANONICAL url — the first dedup tier of
    * every crawl pipeline (cheaper than any content hash: the same page
    * re-crawled under `?utm_…`, `WWW.`, port, or param-order variants
    * collapses before its text is even read). Lowest `idCol` survives,
    * full rows return. One row_number window partitioned by the
    * canonical string — the [[graft.ops.Dedup.exactDedup]] shape, with
    * the canonical form as the key; a hot URL costs its own duplicate
    * count, nothing quadratic. Content-level dedup (exact sha /
    * near-dup) runs AFTER this tier on the survivors. */
  def dedupByCanonicalUrl(df: DataFrame, urlCol: String,
      idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(canonicalize(col(urlCol))).orderBy(col(idCol).asc)
    df.withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") === 1).drop("__rn__")
  }

  /** Drop rows whose REGISTRABLE domain appears in the blocklist — the
    * crawl hygiene filter (spam/SEO-farm/adult domain lists), applied on
    * the canonical form so `WWW.Bad.COM:80` can't dodge a `bad.com`
    * entry. The blocklist is list-sized (thousands to low millions of
    * rows — never corpus-scale), so it broadcasts and the filter is a
    * map-side anti-join: the corpus never shuffles. */
  def filterBlockedDomains(df: DataFrame, urlCol: String,
      blocklist: DataFrame, domainCol: String = "domain"): DataFrame =
    df.join(
      broadcast(blocklist.select(col(domainCol).as("__blocked__")).distinct()),
      registrableDomain(canonicalize(col(urlCol))) === col("__blocked__"),
      "left_anti")

  /** Per-registrable-domain rollup — the crawl-curation dashboard: page
    * count, distinct hosts and languages, total chars. One partial-
    * aggregable groupBy on the (low-cardinality) domain key; counts are
    * exact. At 100 TB the domain table is millions of rows — it stays a
    * shuffle on the domain key with map-side combine, and the result is
    * broadcastable into blocklist / quality joins. */
  def domainRollup(df: DataFrame, urlCol: String, langCol: String,
      charsCol: String): DataFrame = {
    val canon = canonicalize(col(urlCol))
    df.select(registrableDomain(canon).as("domain"), host(canon).as("host"),
        col(langCol), col(charsCol))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_pages"),
        count_distinct(col("host")).as("n_hosts"),
        count_distinct(col(langCol)).as("n_langs"),
        sum(col(charsCol)).cast("long").as("total_chars"))
  }
}
