package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst twin of `SpecTwins.canonicalizeLambda` (UrlOpsSpec) —
  * the same canonicalization contract as one JIT-compiled pass of plain
  * string surgery. The Column composition is the executable spec (and
  * what the q250 DuckDB oracle replays); this expression produces
  * IDENTICAL output (cross-validated in UrlOpsSpec over the full synth
  * corpus) at a fraction of the per-row cost: the composition pays an
  * interpreted higher-order `filter` lambda (with a tracking-name Or
  * chain per parameter), an interpreted `array_sort`, a regex
  * replace, and re-evaluates the whole chain once per consuming
  * column — ~0.3 ms/row measured at sf0.1, which at 100 TB of crawl
  * URLs is the difference between a pass and a bottleneck.
  */
object UrlImpls {

  private val tracking: java.util.Set[String] = {
    val s = new java.util.HashSet[String]()
    // keep in lockstep with UrlOps.trackingParams (asserted in spec)
    s.add("gclid"); s.add("fbclid"); s.add("msclkid"); s.add("ref")
    s.add("igshid")
    s
  }

  /** UTF8String-semantics lowercase (what Spark's `lower()` does) so the
    * native path matches the lambda spec byte-for-byte on every input. */
  private def lower(s: String): String =
    UTF8String.fromString(s).toLowerCase.toString

  /** UTF-8 byte order — `array_sort` and DuckDB `list_sort` semantics
    * (Java String.compareTo is UTF-16 order, which differs for
    * supplementary-plane text). */
  private val utf8Order: java.util.Comparator[String] =
    (a: String, b: String) => java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def canonicalize(u: String): String = {
    val hash = u.indexOf('#')
    val nf = if (hash < 0) u else u.substring(0, hash)
    val sep = nf.indexOf("://")
    if (sep < 0) return lower(nf)
    val scheme = lower(nf.substring(0, sep))
    val rest = nf.substring(sep + 3)
    val slash = rest.indexOf('/')
    val authority = if (slash < 0) rest else rest.substring(0, slash)
    val pathq = if (slash < 0) "" else rest.substring(slash)

    val hp = lower(authority)
    val noWww = if (hp.startsWith("www.")) hp.substring(4) else hp
    val host =
      if (scheme == "http" && noWww.endsWith(":80"))
        noWww.substring(0, noWww.length - 3)
      else if (scheme == "https" && noWww.endsWith(":443"))
        noWww.substring(0, noWww.length - 4)
      else noWww

    val qm = pathq.indexOf('?')
    val pathRaw = if (qm < 0) pathq else pathq.substring(0, qm)
    val query = if (qm < 0) "" else pathq.substring(qm + 1)

    // collapse '/' runs in one pass
    val sb = new java.lang.StringBuilder(pathRaw.length)
    var i = 0
    var prevSlash = false
    while (i < pathRaw.length) {
      val c = pathRaw.charAt(i)
      if (c != '/' || !prevSlash) sb.append(c)
      prevSlash = c == '/'
      i += 1
    }
    var path = if (sb.length == 0) "/" else sb.toString
    if (path.length > 1 && path.charAt(path.length - 1) == '/')
      path = path.substring(0, path.length - 1)

    val kept = new java.util.ArrayList[String]()
    var start = 0
    while (start <= query.length) {
      val amp = query.indexOf('&', start)
      val end = if (amp < 0) query.length else amp
      if (end > start) {
        val t = query.substring(start, end)
        val eq = t.indexOf('=')
        val name = if (eq < 0) t else t.substring(0, eq)
        if (!name.startsWith("utm_") && !tracking.contains(name))
          kept.add(t)
      }
      if (amp < 0) start = query.length + 1 else start = amp + 1
    }
    kept.sort(utf8Order)

    val out = new java.lang.StringBuilder(
      scheme.length + 3 + host.length + path.length + 16)
    out.append(scheme).append("://").append(host).append(path)
    if (!kept.isEmpty) {
      out.append('?')
      var k = 0
      while (k < kept.size) {
        if (k > 0) out.append('&')
        out.append(kept.get(k))
        k += 1
      }
    }
    out.toString
  }

  def canonicalizeU(u: UTF8String): UTF8String =
    UTF8String.fromString(canonicalize(u.toString))
}

/** url_canon(url): one-pass canonical URL (see [[UrlImpls]]). */
case class UrlCanonExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    UrlImpls.canonicalizeU(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.UrlImpls.canonicalizeU($c)")
  override protected def withNewChildInternal(c: Expression): UrlCanonExpr =
    copy(child = c)
}

object NativeUrl {
  import org.apache.spark.sql.GraftSqlBridge.{column => toCol, expression => toExpr}
  def url_canon(u: Column): Column = toCol(UrlCanonExpr(toExpr(u)))
}
