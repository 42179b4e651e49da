package graft.tpch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Clustering, Corpus, Dedup, EventAnalytics, Incremental, Similarity, TextAnalysis, Multimodal}

/** Gate queries for the training-data pipeline operators (dedup, similarity
  * search, text analysis, multimodal) over the `documents` / `embeddings` /
  * `events` tables.
  *
  * Oracle strategy: the ops are built on an engine-independent polynomial
  * hash ([[graft.functions.NativeHashes.poly_hash]]) and fixed-association float folds, so
  * even MinHash signatures, SimHash bits, and cosine scores are replayed
  * exactly in DuckDB SQL (list lambdas) — far stronger than rows-only
  * checks for ops conventionally considered "not SQL-expressible".
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/embeddings.parquet")
  private def events(s: SparkSession, dir: String) =
    EventsModel.eventsTable(s, dir)

  /** The verified minhash near-dup pairs that [[minhashPairsCtes]]
    * replays; string band keys keep them DuckDB-replayable. */
  private def nearDupPairs(d: DataFrame) =
    Dedup.minhashNearDups(d, "doc_id", "text", bands = 8, rows = 4,
      shingleK = 3, threshold = 0.2, hashedBandKeys = false)

  /** Events that carry a value: `event_type` followed by `cols`. */
  private def valuedEvents(s: SparkSession, dir: String, cols: Column*) =
    events(s, dir).filter(col("value").isNotNull)
      .select(col("event_type") +: cols: _*)

  /** Deterministic planar layout for the spatial gates (q329–q331):
    * 12 blobs (4×3 macro-grid, 300 apart) of 89×89-jittered points —
    * dense enough inside a blob for radius-8/eps-12 structure, far
    * enough apart that blobs never bridge. Integer-exact on both
    * engines (`div`/`%` on non-negative ids). */
  private def spatialDocs(s: SparkSession, dir: String) =
    docs(s, dir).select(col("doc_id"),
      ((col("doc_id") % 4) * 300 +
        (col("doc_id") * col("doc_id") * 13 +
          col("doc_id") * 7919) % 89).as("x"),
      ((expr("doc_id div 4") % 3) * 300 +
        (col("doc_id") * col("doc_id") * 29 +
          col("doc_id") * 104729) % 89).as("y"))

  /** DuckDB twin of [[spatialDocs]]. The id²-mixed jitter matters: a
    * LINEAR id·c % 89 jitter puts same-blob points (ids ≡ mod 12) on a
    * sparse lattice with no close pairs at all — the quadratic term
    * breaks the lattice so radius-8/eps-12 structure actually exists. */
  private val spatialDocsSql: String =
    """p AS (SELECT doc_id,
      |    (doc_id % 4) * 300 +
      |      (doc_id * doc_id * 13 + doc_id * 7919) % 89 AS x,
      |    ((doc_id // 4) % 3) * 300 +
      |      (doc_id * doc_id * 29 + doc_id * 104729) % 89 AS y
      |  FROM documents)""".stripMargin

  /** Deterministic JSON chat transcript per doc (q295/q296): an
    * optional leading assistant turn (doc_id % 5 = 1 — the
    * wrong-opening case), the user/assistant pair whose contents are
    * doc_id-derived digits (no JSON escaping seam), an optional
    * trailing EMPTY assistant turn (doc_id % 3 = 0 — mask poison AND
    * alternation break), and a malformed blob every 7th doc. The
    * oracle builds the identical string with `||`/CASE. */
  private def chatJson: Column = {
    val id = col("doc_id").cast("string")
    when(col("doc_id") % 7 === 0, lit("not json"))
      .otherwise(concat(
        lit("["),
        when(col("doc_id") % 5 === 1,
          lit("{\"role\":\"assistant\",\"content\":\"hi\"},"))
          .otherwise(lit("")),
        lit("{\"role\":\"user\",\"content\":\"ask "), id,
        lit("\"},{\"role\":\"assistant\",\"content\":\"ans "), id,
        lit(" done\"}"),
        when(col("doc_id") % 3 === 0,
          lit(",{\"role\":\"assistant\",\"content\":\"\"}"))
          .otherwise(lit("")),
        lit("]")))
  }

  /** DuckDB twin of [[chatJson]] — the identical transcript string. */
  private val chatJsonSql: String =
    "(CASE WHEN doc_id % 7 = 0 THEN 'not json' ELSE '[' || " +
      "(CASE WHEN doc_id % 5 = 1 THEN " +
      "'{\"role\":\"assistant\",\"content\":\"hi\"},' ELSE '' END) || " +
      "'{\"role\":\"user\",\"content\":\"ask ' || " +
      "CAST(doc_id AS VARCHAR) || " +
      "'\"},{\"role\":\"assistant\",\"content\":\"ans ' || " +
      "CAST(doc_id AS VARCHAR) || ' done\"}' || " +
      "(CASE WHEN doc_id % 3 = 0 THEN " +
      "',{\"role\":\"assistant\",\"content\":\"\"}' ELSE '' END) " +
      "|| ']' END)"

  /** Deterministic messy URL per doc — every canonicalization case the
    * q250 contract covers (case-mixed host, www, default/non-default
    * ports matched to the scheme, duplicate slashes, trailing slash,
    * tracking params, fragments), replayed verbatim by the oracle CTE. */
  private def synthUrl(id: Column): Column = {
    val scheme = when(id % 3 === 0, lit("https")).otherwise(lit("http"))
    val www    = when(id % 2 === 0, lit("WWW.")).otherwise(lit(""))
    val dom = concat(lit("Site"), (id % 5).cast("string"), lit(".Example."),
      when(id % 2 === 0, lit("com")).otherwise(lit("org")))
    val port = when(id % 4 === 1,
        when(id % 3 === 0, lit(":443")).otherwise(lit(":80")))
      .when(id % 4 === 2, lit(":8080")).otherwise(lit(""))
    val pathTail = when(id % 2 === 0, lit("/")).otherwise(lit(""))
    val qs = when(id % 3 === 0, lit("?utm_source=x&b=2&a=1"))
      .when(id % 3 === 1, lit("?gclid=1&z=9")).otherwise(lit(""))
    val frag = when(id % 2 === 0, lit("#top")).otherwise(lit(""))
    concat(scheme, lit("://"), www, dom, port, lit("//a/"),
      (id % 7).cast("string"), pathTail, qs, frag)
  }

  /** Gate export of an array column as a space-joined string — the
    * Verify contract bans container-typed exports (the driver's checker
    * cannot hash them); oracles mirror with `array_to_string(col, ' ')`. */
  private def stringifyArray(name: String) =
    array_join(transform(col(name), x => x.cast("string")), " ")

  // DuckDB-side building blocks ------------------------------------------

  /** One dp-column of the unigram Viterbi unroll (shared by the train
    * EM rounds and the encode chain). */
  private def unigramDpCol(pos: Int): String = {
    val maxP = 4
    val cands = (1 to math.min(maxP, pos)).map { k =>
      val prev = if (pos - k == 0) "{'s': 1.0, 'nb': CAST(0 AS INT)}"
        else s"d${pos - k}"
      s"{'s': coalesce(struct_extract($prev,'s') * " +
        s"(CAST(list_extract(map_extract(pm, substr(w, ${pos - k + 1}, " +
        s"$k)), 1) AS DOUBLE) / CAST(T AS DOUBLE)), 0.0), " +
        s"'nb': CAST(${-(pos - k)} AS INT)}"
    } :+ "{'s': 0.0, 'nb': CAST(1 AS INT)}"
    s"CASE WHEN length(w) >= $pos THEN list_max([${cands.mkString(", ")}]) END"
  }

  private lazy val unigramLmCtes: String = {
    val maxW = 12; val maxP = 4; val seedK = 30; val vocK = 20; val em = 2
    def dpCol(pos: Int): String = unigramDpCol(pos)
    def emRound(r: Int): String = {
      val prev = s"pieces_${r - 1}"
      val dpChain = (1 to maxW).map(p =>
        s",\nv${r}_$p AS (SELECT *, ${dpCol(p)} AS d$p FROM v${r}_${p - 1})")
        .mkString
      val dpArr = "[" + (("{'s': 1.0, 'nb': CAST(0 AS INT)}" +:
        (1 to maxW).map(p => s"d$p")).mkString(", ")) + "]"
      val btChain = (1 to maxW).map(j =>
        s",\nu${r}_$j AS (SELECT *, CASE WHEN e${j - 1} > 0 THEN " +
          s"-struct_extract(list_extract(dparr, e${j - 1}+1), 'nb') " +
          s"ELSE e${j - 1} END AS e$j FROM u${r}_${j - 1})").mkString
      val es = (0 to maxW).map(j => s"e$j").mkString(", ")
      s"""pm_$r AS (SELECT map(list(piece ORDER BY piece), list(c ORDER BY piece)) AS pm,
         |    CAST(SUM(c) AS BIGINT) AS T FROM $prev),
         |v${r}_0 AS (SELECT w, wn, pm, T FROM words CROSS JOIN pm_$r)$dpChain,
         |u${r}_0 AS (SELECT w, wn, $dpArr AS dparr,
         |    CAST(length(w) AS INT) AS e0 FROM v${r}_$maxW)$btChain,
         |bt_$r AS (SELECT w, wn,
         |    list_sort(list_distinct([$es])) AS bounds FROM u${r}_$maxW),
         |seg_$r AS (
         |  SELECT wn, CASE WHEN bounds[1] < 0 THEN string_split(w, '')
         |      ELSE list_transform(range(1, len(bounds)), k ->
         |        substr(w, bounds[k]+1, bounds[k+1]-bounds[k])) END AS segs
         |  FROM bt_$r),
         |m_$r AS (SELECT unnest(segs) AS piece, wn FROM seg_$r),
         |mc_$r AS (SELECT piece, CAST(SUM(wn) AS BIGINT) AS c FROM m_$r GROUP BY 1),
         |pieces_$r AS (
         |  SELECT ch.piece, greatest(coalesce(mc.c, 0), 1) AS c
         |  FROM chars ch LEFT JOIN mc_$r mc USING (piece)
         |  UNION ALL
         |  SELECT piece, c FROM (
         |    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece ASC) AS rk
         |    FROM mc_$r WHERE length(piece) > 1) WHERE rk <= $vocK)""".stripMargin
    }
    s"""w0 AS (
       |  SELECT unnest(string_split_regex(lower(coalesce(text,'')), '\\s+')) AS w
       |  FROM documents),
       |words AS (SELECT w, CAST(COUNT(1) AS BIGINT) AS wn FROM w0
       |  WHERE length(w) BETWEEN 1 AND $maxW GROUP BY 1),
       |subs AS (
       |  SELECT piece, CAST(SUM(wn) AS BIGINT) AS c FROM (
       |    SELECT wn, unnest(flatten(list_transform(range(1, length(w)+1),
       |      i -> list_transform(range(1, least($maxP, length(w)-i+1)+1),
       |        l -> substr(w, CAST(i AS BIGINT), CAST(l AS BIGINT)))))) AS piece
       |    FROM words) GROUP BY 1),
       |chars AS (SELECT piece, c FROM subs WHERE length(piece) = 1),
       |pieces_0 AS (
       |  SELECT piece, c FROM chars
       |  UNION ALL
       |  SELECT piece, c FROM (
       |    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece ASC) AS rk
       |    FROM subs WHERE length(piece) > 1) WHERE rk <= $seedK),
       |${(1 to em).map(emRound).mkString(",\n")}""".stripMargin
  }

  /** Unrolled DuckDB replay of [[graft.ops.Corpus.maxCoverageSelect]]:
    * k greedy rounds of ANTI-JOIN marginal counts, argmax with min-id
    * ties, incremental covered-set CTEs. Shared by q369 (k=5) and q374
    * (k=8 + the TRUE approx_ok the sampled twin's ratio gate maps to). */
  private def maxCoverageOracleSql(k: Int, extraSelect: String): String = {
    val sh = dshingleHashesK("coalesce(text, '')", 3)
    val rounds = (1 to k).map { i =>
      val src = if (i == 1) "p"
        else s"p ANTI JOIN c${i - 1} USING (h)"
      val r = s"r$i AS (SELECT p.doc_id, CAST(COUNT(1) AS BIGINT) AS c" +
        s" FROM $src GROUP BY 1)"
      val sSel = s"s$i AS (SELECT doc_id, c FROM r$i" +
        " ORDER BY c DESC, doc_id LIMIT 1)"
      val cSel = if (i == 1)
        "c1 AS (SELECT DISTINCT h FROM p JOIN s1 USING (doc_id))"
      else
        s"c$i AS (SELECT h FROM c${i - 1} UNION " +
          s"SELECT h FROM p JOIN s$i USING (doc_id))"
      if (i < k) s"$r,\n$sSel,\n$cSel" else s"$r,\n$sSel"
    }.mkString(",\n")
    val out = (1 to k).map(i =>
      s"SELECT CAST($i AS INTEGER) AS rank, doc_id, c" +
        s" AS marginal_coverage$extraSelect FROM s$i")
      .mkString("\nUNION ALL ")
    s"""WITH tp AS (SELECT doc_id, unnest($sh) AS h FROM documents),
       |p AS (SELECT DISTINCT doc_id, h FROM tp),
       |$rounds
       |SELECT * FROM ($out) ORDER BY rank""".stripMargin
  }

  /** DuckDB replay of `poly_hash` over a string expression. */
  private def dpolyhash(sexpr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($sexpr, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, c) -> (a * 131 + c) % 1000000007)"

  /** DuckDB 64-term left-associated dot product of two float lists. */
  private def ddot(a: String, b: String): String =
    (1 to 64).map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)")
      .mkString(" + ")

  private def dcosine(a: String, b: String): String =
    s"(${ddot(a, b)}) / (SQRT(${ddot(a, a)}) * SQRT(${ddot(b, b)}))"

  /** DuckDB replay of [[graft.ops.Clustering.kmeansAssign]] (k=4, 2
    * unrolled Lloyd's iterations, scale 1000): quantize, explode to
    * (vec, dim, value), join the centroid matrix per iteration, arg-min
    * by QUALIFY; COALESCE keeps an emptied cluster's previous centroid,
    * exactly like the Spark side. Ends at `a2(vec_id, cluster, dist2)`
    * for reuse (q88 assignments, q100 within-cluster pairs). */
  private val kmeansCtes: String =
    """q AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings),
      |dims AS (SELECT unnest(range(1, 65)) AS i),
      |qe AS (SELECT q.vec_id, d.i, qv[d.i] AS v FROM q CROSS JOIN dims d),
      |c0 AS (SELECT vec_id,
      |    CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS j
      |  FROM q ORDER BY vec_id LIMIT 4),
      |m0 AS (SELECT c0.j, e.i, e.v AS m FROM c0 JOIN qe e USING (vec_id)),
      |d1 AS (SELECT e.vec_id, c.j,
      |    CAST(SUM((e.v - c.m) * (e.v - c.m)) AS BIGINT) AS d2
      |  FROM qe e JOIN m0 c ON e.i = c.i GROUP BY 1, 2),
      |a1 AS (SELECT vec_id, j, d2 FROM d1
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY d2 ASC, j ASC) = 1),
      |u1 AS (SELECT a.j, e.i,
      |    CAST(floor(CAST(SUM(e.v) AS DOUBLE) / COUNT(1) + 0.5) AS BIGINT) AS m
      |  FROM a1 a JOIN qe e USING (vec_id) GROUP BY 1, 2),
      |m1 AS (SELECT p.j, p.i, COALESCE(u.m, p.m) AS m
      |  FROM m0 p LEFT JOIN u1 u ON u.j = p.j AND u.i = p.i),
      |dd AS (SELECT e.vec_id, c.j,
      |    CAST(SUM((e.v - c.m) * (e.v - c.m)) AS BIGINT) AS d2
      |  FROM qe e JOIN m1 c ON e.i = c.i GROUP BY 1, 2),
      |a2 AS (SELECT vec_id, j AS cluster, d2 AS dist2 FROM dd
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY d2 ASC, j ASC) = 1)""".stripMargin

  /** DuckDB replay of [[graft.ops.Multimodal.imageAHash]] over the
    * synthetic-image formula ([[graft.ops.Multimodal.withSyntheticImage]]):
    * per-pixel integer luma, set-bit accumulation into 32-bit halves.
    * Ends at `b(doc_id, w, h, nb, hi, lo, ones)` for reuse (q221 hashes,
    * q234 Hamming pairs). */
  private val lumaCtes: String =
    """px AS (SELECT doc_id,
      |    CAST(doc_id % 16 + 1 AS INTEGER) AS w,
      |    CAST((doc_id * 7) % 16 + 1 AS INTEGER) AS h
      |  FROM documents),
      |pp AS (SELECT doc_id, w, h, (y * w + x) AS i,
      |    (299 * ((doc_id + 3 * x + 5 * y) % 256)
      |     + 587 * ((3 * doc_id + 7 * x + y) % 256)
      |     + 114 * ((5 * doc_id + x + 11 * y) % 256)) // 1000 AS luma
      |  FROM px, unnest(generate_series(0, h - 1)) AS uy(y),
      |    unnest(generate_series(0, w - 1)) AS ux(x))""".stripMargin

  /** DuckDB replay of [[synthUrl]] + [[graft.ops.UrlOps.canonicalize]] +
    * registrable-domain extraction, step-chained CTEs ending at
    * `dom(doc_id, lang, n_chars, url, canonical, hostonly, domain)`. */
  private val urlCanonCtes: String =
    """su AS (SELECT doc_id, lang, n_chars,
      |    (CASE WHEN doc_id % 3 = 0 THEN 'https' ELSE 'http' END) || '://' ||
      |    (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END) ||
      |    'Site' || CAST(doc_id % 5 AS VARCHAR) || '.Example.' ||
      |    (CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'org' END) ||
      |    (CASE WHEN doc_id % 4 = 1 THEN
      |        (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE ':80' END)
      |      WHEN doc_id % 4 = 2 THEN ':8080' ELSE '' END) ||
      |    '//a/' || CAST(doc_id % 7 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
      |    (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&b=2&a=1'
      |      WHEN doc_id % 3 = 1 THEN '?gclid=1&z=9' ELSE '' END) ||
      |    (CASE WHEN doc_id % 2 = 0 THEN '#top' ELSE '' END) AS url
      |  FROM documents),
      |u1 AS (SELECT *, split_part(url, '#', 1) AS nf FROM su),
      |u2 AS (SELECT *, lower(split_part(nf, '://', 1)) AS scheme,
      |    substr(nf, length(split_part(nf, '://', 1)) + 4) AS rest FROM u1),
      |u3 AS (SELECT *, split_part(rest, '/', 1) AS auth,
      |    substr(rest, length(split_part(rest, '/', 1)) + 1) AS pathq
      |  FROM u2),
      |u4 AS (SELECT *, CASE WHEN starts_with(lower(auth), 'www.')
      |    THEN substr(lower(auth), 5) ELSE lower(auth) END AS nw FROM u3),
      |u5 AS (SELECT *, CASE
      |    WHEN scheme = 'http' AND ends_with(nw, ':80')
      |      THEN substr(nw, 1, length(nw) - 3)
      |    WHEN scheme = 'https' AND ends_with(nw, ':443')
      |      THEN substr(nw, 1, length(nw) - 4)
      |    ELSE nw END AS host FROM u4),
      |u6 AS (SELECT *, split_part(pathq, '?', 1) AS pathraw FROM u5),
      |u7 AS (SELECT *, CASE WHEN length(pathq) > length(pathraw)
      |      THEN substr(pathq, length(pathraw) + 2) ELSE '' END AS qry,
      |    regexp_replace(pathraw, '/+', '/', 'g') AS collapsed FROM u6),
      |u8 AS (SELECT *, CASE WHEN collapsed = '' THEN '/'
      |    ELSE collapsed END AS path0 FROM u7),
      |u9 AS (SELECT *, CASE WHEN length(path0) > 1 AND ends_with(path0, '/')
      |      THEN substr(path0, 1, length(path0) - 1) ELSE path0 END AS path,
      |    list_sort(list_filter(string_split(qry, '&'), t -> t <> ''
      |      AND NOT starts_with(split_part(t, '=', 1), 'utm_')
      |      AND NOT list_contains(
      |        ['gclid', 'fbclid', 'msclkid', 'ref', 'igshid'],
      |        split_part(t, '=', 1)))) AS kept FROM u8),
      |canon AS (SELECT doc_id, lang, n_chars, url,
      |    scheme || '://' || host || path ||
      |    (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
      |      ELSE '' END) AS canonical,
      |    split_part(host, ':', 1) AS hostonly FROM u9),
      |dom AS (SELECT *, (CASE WHEN len(string_split(hostonly, '.')) >= 2
      |    THEN string_split(hostonly, '.')[-2] || '.' ||
      |      string_split(hostonly, '.')[-1]
      |    ELSE hostonly END) AS domain FROM canon)""".stripMargin

  private val ahashCtes: String = s"""$lumaCtes,
      |s AS (SELECT doc_id, w, h, SUM(luma) AS sl, COUNT(1) AS n
      |  FROM pp GROUP BY 1, 2, 3),
      |b AS (SELECT pp.doc_id, s.w, s.h,
      |    LEAST(64, s.n) AS nb,
      |    SUM(CASE WHEN pp.i >= 32 AND pp.i < LEAST(64, s.n)
      |      AND pp.luma * s.n > s.sl
      |      THEN (CAST(1 AS BIGINT) << (pp.i - 32)) ELSE 0 END) AS hi,
      |    SUM(CASE WHEN pp.i < 32 AND pp.luma * s.n > s.sl
      |      THEN (CAST(1 AS BIGINT) << pp.i) ELSE 0 END) AS lo,
      |    SUM(CASE WHEN pp.i < LEAST(64, s.n)
      |      AND pp.luma * s.n > s.sl THEN 1 ELSE 0 END) AS ones
      |  FROM pp JOIN s USING (doc_id) GROUP BY 1, 2, 3, 4)""".stripMargin

  /** DuckDB replay of [[graft.ops.Clustering.pqCodes]] (64 dims → 4
    * subspaces × 4 codewords, 2 Lloyd's iterations, scale 1000): the
    * q88 kmeans CTE block instantiated per subspace over the sliced
    * quantized vector — subspace j reads qv[16j+1 .. 16j+16]. Ends at
    * `a2<j>(vec_id, cluster, d2)` per subspace plus the final codebooks
    * `m1<j>(j, i, m)` (which the q196 ADC oracle's LUTs read). */
  private val dpqCtes: String = {
    def sub(j: Int): String = {
      val off = j * 16
      s"""qe$j AS (SELECT q.vec_id, d.i, qv[$off + d.i] AS v
         |  FROM q CROSS JOIN dimsS d),
         |c0$j AS (SELECT vec_id,
         |    CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
         |      AS j
         |  FROM q ORDER BY vec_id LIMIT 4),
         |m0$j AS (SELECT c.j, e.i, e.v AS m
         |  FROM c0$j c JOIN qe$j e USING (vec_id)),
         |d1$j AS (SELECT e.vec_id, c.j,
         |    CAST(SUM((e.v - c.m) * (e.v - c.m)) AS BIGINT) AS d2
         |  FROM qe$j e JOIN m0$j c ON e.i = c.i GROUP BY 1, 2),
         |a1$j AS (SELECT vec_id, j, d2 FROM d1$j
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY d2 ASC, j ASC) = 1),
         |u1$j AS (SELECT a.j, e.i,
         |    CAST(floor(CAST(SUM(e.v) AS DOUBLE) / COUNT(1) + 0.5)
         |      AS BIGINT) AS m
         |  FROM a1$j a JOIN qe$j e USING (vec_id) GROUP BY 1, 2),
         |m1$j AS (SELECT p.j, p.i, COALESCE(u.m, p.m) AS m
         |  FROM m0$j p LEFT JOIN u1$j u ON u.j = p.j AND u.i = p.i),
         |dd$j AS (SELECT e.vec_id, c.j,
         |    CAST(SUM((e.v - c.m) * (e.v - c.m)) AS BIGINT) AS d2
         |  FROM qe$j e JOIN m1$j c ON e.i = c.i GROUP BY 1, 2),
         |a2$j AS (SELECT vec_id, j AS cluster, d2 FROM dd$j
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY d2 ASC, j ASC) = 1)""".stripMargin
    }
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
       |      AS qv
       |  FROM embeddings),
       |dimsS AS (SELECT unnest(range(1, 17)) AS i),
       |${(0 until 4).map(sub).mkString(",\n")}""".stripMargin
  }

  /** DuckDB replay of the CDC boundary scan ([[graft.ops.Dedup.cdcChunks]],
    * w=16, divisor=64): per-end-position 16-char window hashes (O(n·w)
    * recompute — the Spark side rolls in O(n), same values) → boundary
    * list (final position always closes) → per-chunk (p0, p1] spans with
    * the doc's code array alongside for digesting. */
  private val cdcChunkCtes: String =
    """c AS (SELECT doc_id, list_transform(string_split(text, ''),
      |    ch -> CAST(ascii(ch) AS BIGINT)) AS codes FROM documents),
      |b AS (SELECT doc_id, codes, len(codes) AS n,
      |    list_filter(range(16, len(codes) + 1), i ->
      |      list_reduce(list_prepend(CAST(0 AS BIGINT), codes[i-15:i]),
      |        (a, x) -> (a * 131 + x) % 1000000007) % 64 = 0) AS bnds
      |  FROM c),
      |b2 AS (SELECT doc_id, codes,
      |    CASE WHEN len(bnds) > 0 AND bnds[-1] = n THEN bnds
      |         ELSE list_append(bnds, n) END AS bnds
      |  FROM b WHERE n > 0),
      |u AS (SELECT doc_id, codes, bnds,
      |    unnest(range(1, len(bnds) + 1)) AS k FROM b2),
      |chunks AS (SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
      |    CASE WHEN k = 1 THEN 0 ELSE bnds[k-1] END AS p0,
      |    bnds[k] AS p1, codes
      |  FROM u)""".stripMargin

  /** DuckDB replay of the stopword-argmax language ID for any word-list
    * set: per-language hit counts, GREATEST, first-in-list-order tie
    * break — the same semantics as `LangIdExpr`/`LangIdFullExpr`. */
  private def langCaseFor(lists: Seq[(String, Seq[String])], outCol: String): String = {
    val scores = lists.map { case (lang, words) =>
      val inList = words.map(w => "'" + w.replace("'", "''") + "'").mkString(", ")
      lang -> s"len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t IN ($inList)))"
    }
    val best = s"GREATEST(${scores.map(_._2).mkString(", ")})"
    val whens = scores.map { case (lang, sc) =>
      s"WHEN $sc = best THEN '$lang'"
    }.mkString(" ")
    s"""SELECT doc_id, CASE WHEN best = 0 THEN 'und' $whens ELSE 'und' END AS $outCol
       |FROM (SELECT doc_id, text, $best AS best FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  /** Shared CTE chain replaying [[graft.ops.Corpus.trainBpe]] (6 merge
    * rounds over the documents word-frequency table). One merge round:
    * pair-count the current encoded vocab, pick the argmax, apply it
    * with ONE doubled-delimiter replace — the encoding makes string
    * replace equal the classic leftmost non-overlapping symbol scan
    * (adjacent-but-distinct pairs share no characters; overlapping ones
    * do, so replace skips them exactly like the trainer). Ends with
    * `m1..m6 (a, b, n)` and the final vocab `v6 (w, wn)`. */
  private val bpeTrainCtes: String = {
    val d = "chr(1)"
    def round(i: Int): String = {
      val prev = if (i == 1) "v0" else s"v${i - 1}"
      s"""p$i AS (SELECT wn,
         |    string_split(trim(w, chr(1)), $d || $d) AS syms
         |  FROM $prev),
         |e$i AS (SELECT wn, syms,
         |    unnest(generate_series(1, len(syms) - 1)) AS j FROM p$i),
         |c$i AS (SELECT syms[j] AS a, syms[j + 1] AS b, SUM(wn) AS n
         |  FROM e$i GROUP BY 1, 2),
         |m$i AS (SELECT a, b, CAST(n AS BIGINT) AS n FROM c$i
         |  ORDER BY n DESC, a ASC, b ASC LIMIT 1),
         |v$i AS (SELECT replace(w,
         |    $d || m.a || $d || $d || m.b || $d,
         |    $d || m.a || m.b || $d) AS w, wn
         |  FROM $prev CROSS JOIN m$i m)""".stripMargin
    }
    s"""wf AS (SELECT w, COUNT(1) AS wn FROM (
       |    SELECT unnest(list_filter(
       |      regexp_split_to_array(lower(text), '\\s+'),
       |      t -> length(t) >= 2)) AS w FROM documents)
       |  GROUP BY 1),
       |v0 AS (SELECT $d || array_to_string(list_transform(
       |      generate_series(1, length(w)), i -> w[i:i]),
       |      $d || $d) || $d AS w, wn
       |  FROM wf),
       |${(1 to 6).map(round).mkString(",\n")}""".stripMargin
  }

  /** The q47 argmax as a bare CASE expression over an arbitrary text
    * expression (sequential WHENs = the native tie-break by list
    * position) — lets oracles language-ID SEGMENTS, not just docs. */
  private def langCaseExpr(textExpr: String): String = {
    val scores = TextAnalysis.stopwords.map { case (lang, words) =>
      val inList = words.map(w => "'" + w.replace("'", "''") + "'")
        .mkString(", ")
      lang -> (s"len(list_filter(regexp_split_to_array(lower($textExpr)," +
        s" '\\s+'), t -> t IN ($inList)))")
    }
    val best = s"GREATEST(${scores.map(_._2).mkString(", ")})"
    val whens = scores.map { case (lang, sc) =>
      s"WHEN $sc = $best THEN '$lang'"
    }.mkString(" ")
    s"CASE WHEN $best = 0 THEN 'und' $whens ELSE 'und' END"
  }

  /** Shared CTE chain replaying [[graft.ops.Corpus.lmScore]] (train on
    * lang='en', score every doc) up to the per-doc `agg` table + the
    * `nv` scalars; q180 exports the score, q186 buckets it. */
  private val lmScoreCtes: String =
    """WITH tr AS (SELECT unnest(list_filter(
      |    regexp_split_to_array(lower(text), '\s+'),
      |    t -> length(t) > 0)) AS w FROM documents WHERE lang = 'en'),
      |c AS (SELECT w, COUNT(1) AS c FROM tr GROUP BY 1),
      |nv AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(1) AS v FROM c),
      |tok AS (SELECT doc_id, unnest(list_filter(
      |    regexp_split_to_array(lower(text), '\s+'),
      |    t -> length(t) > 0)) AS w FROM documents),
      |j AS (SELECT doc_id, c.c AS c FROM tok LEFT JOIN c ON tok.w = c.w),
      |agg AS (SELECT doc_id, COUNT(1) AS n_tokens,
      |    CAST(SUM(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_oov,
      |    SUM(ln(COALESCE(c, 0) + 1)) AS sum_ln
      |  FROM j GROUP BY 1)""".stripMargin

  /** Shared CTE chain replaying [[graft.ops.Corpus.knScore]] (train on
    * lang='en', score every doc) up to the per-doc `agg` table —
    * bigram/context/continuation counts + the D=0.75 interpolated-KN
    * formula with Spark's exact association order; q384 exports the
    * per-doc scores, q386 buckets them. */
  private val knLmCtes: String = {
    val toks = "list_filter(regexp_split_to_array(lower(coalesce(" +
      "text, '')), '\\s+'), t -> length(t) > 0)"
    val pairsOf =
      s"""unnest(list_transform(generate_series(1, len(toks)),
         |    i -> {'w1': CASE WHEN i = 1 THEN '' ELSE toks[i-1] END,
         |          'w2': toks[i]}))""".stripMargin
    s"""WITH trt AS (SELECT $toks AS toks FROM documents
       |    WHERE lang = 'en'),
       |trp0 AS (SELECT $pairsOf AS u FROM trt),
       |trp AS (SELECT struct_extract(u, 'w1') AS w1,
       |    struct_extract(u, 'w2') AS w2 FROM trp0),
       |big AS (SELECT w1, w2, COUNT(1) AS c12 FROM trp GROUP BY 1, 2),
       |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
       |    COUNT(1) AS n1f FROM big GROUP BY 1),
       |cont AS (SELECT w2, COUNT(1) AS n1b FROM big GROUP BY 1),
       |sc AS (SELECT (SELECT COUNT(1) FROM big) AS b,
       |    (SELECT COUNT(DISTINCT w2) FROM big) AS v),
       |dt AS (SELECT doc_id, $toks AS toks FROM documents),
       |dp0 AS (SELECT doc_id, $pairsOf AS u FROM dt),
       |dp AS (SELECT doc_id, struct_extract(u, 'w1') AS w1,
       |    struct_extract(u, 'w2') AS w2 FROM dp0),
       |j AS (SELECT doc_id, big.c12 AS c12, ctx.c1 AS c1,
       |    ctx.n1f AS n1f, cont.n1b AS n1b FROM dp
       |  LEFT JOIN big USING (w1, w2)
       |  LEFT JOIN ctx USING (w1)
       |  LEFT JOIN cont USING (w2)),
       |p AS (SELECT doc_id, n1b,
       |    CASE WHEN c1 IS NOT NULL THEN
       |      GREATEST(CAST(COALESCE(c12, 0) AS DOUBLE) - 0.75, 0.0)
       |          / CAST(c1 AS DOUBLE)
       |        + 0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)
       |          * (CAST(COALESCE(n1b, 0) + 1 AS DOUBLE)
       |            / CAST(b + v + 1 AS DOUBLE))
       |    ELSE CAST(COALESCE(n1b, 0) + 1 AS DOUBLE)
       |      / CAST(b + v + 1 AS DOUBLE) END AS p
       |  FROM j, sc),
       |agg AS (SELECT doc_id, COUNT(1) AS n_tokens,
       |    CAST(SUM(CASE WHEN n1b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_oov,
       |    SUM(-ln(p)) AS nll FROM p GROUP BY 1)""".stripMargin
  }

  /** DuckDB replay of Dedup.shingleHashes: token poly-hashes folded per
    * k-shingle, over the given text expression. */
  private def dshingleHashesK(textExpr: String, k: Int): String = {
    val toks = s"regexp_split_to_array(lower($textExpr), '\\s+')"
    val ths = s"list_transform($toks, t -> ${dpolyhash("t")})"
    s"list_transform(generate_series(1, GREATEST(len($toks) - ${k - 1}, 1)), " +
      s"i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice($ths, i, i + ${k - 1})), " +
      s"(a, h) -> (a * 131 + h) % 1000000007))"
  }

  private def dshingleHashes: String = dshingleHashesK("text", 3)

  private def annSqlFor(maxQid: Int, k: Int): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < $maxQid),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    ${dcosine("q.qv", "c.embedding")} AS cos_raw
       |  FROM q, embeddings c WHERE q.query_id <> c.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_raw,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos_raw DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
       |  CAST(rank AS INTEGER) AS rank
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Distinct users per day `dau(day, dau)` and over the trailing 7 days
    * `wau(day, wau)`. */
  private val dauWauCtes: String =
    """p AS (SELECT DISTINCT user_id,
      |    epoch_us(ts) // 86400000000 AS day FROM events),
      |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau
      |  FROM p GROUP BY 1),
      |w AS (SELECT user_id, day + i AS day
      |  FROM p CROSS JOIN range(0, 7) t(i)),
      |wau AS (SELECT day, COUNT(DISTINCT user_id) AS wau
      |  FROM w GROUP BY 1)""".stripMargin

  /** Event counts per (event type, hour): `g(event_type, bucket, n)`. */
  private val hourlyCountsCte: String =
    """g AS (SELECT event_type,
      |    epoch_us(ts) // 3600000000 AS bucket, COUNT(1) AS n
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** Every gate of this catalog in query-number order: each Spark query
    * next to the DuckDB oracle SQL that replays it. */
  val registry: Seq[Gate] = Gate.registry(
    // exact dedup: keeper id + copy count per distinct text
    Gate("q40_dedup_exact", (s, dir) =>
      Dedup.exactKeepers(docs(s, dir), "text", "doc_id")
        .orderBy(col("doc_id")),
    oracle =
      """SELECT MIN(doc_id) AS doc_id, COUNT(1) AS n_copies
        |FROM documents GROUP BY text ORDER BY 1""".stripMargin),

    // token counting: whitespace + BPE-ish regex pre-tokenizer
    Gate("q41_token_stats", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_calc"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.regexTokenCount(col("text")).cast("long").as("n_regex_tokens")
      ).orderBy(col("doc_id")),
    oracle =
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_calc,
        |  CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_regex_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // document fingerprint: engine-independent rolling hash
    Gate("q42_fingerprint", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint")
      ).orderBy(col("doc_id")),
    oracle =
      s"""SELECT doc_id,
         |  ${dpolyhash("regexp_replace(lower(text), '\\s+', ' ', 'g')")} AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin),

    // SimHash (32-bit, poly-hashed tokens) — full signature per doc
    Gate("q43_simhash", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        Dedup.simhash32(col("text")).as("simhash")
      ).orderBy(col("doc_id")),
    oracle = {
      val th = s"list_transform(regexp_split_to_array(lower(text), '\\s+'), " +
        s"t -> ${dpolyhash("t")})"
      val bits = (0 until 32).map { j =>
        val p = 1L << j
        s"(CASE WHEN 2 * len(list_filter(th, h -> (h // $p) % 2 = 1)) - len(th) > 0 THEN $p ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH t AS (SELECT doc_id, $th AS th FROM documents)
         |SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM t ORDER BY doc_id""".stripMargin
    }),

    // MinHash signature (8 permutations over 3-word shingles)
    Gate("q44_minhash_sig", (s, dir) =>
      Dedup.withMinhashSignature(docs(s, dir), "text", 8, 3,
        keep = Seq(col("doc_id"))).orderBy(col("doc_id")),
    oracle = {
      val sh = dshingleHashes
      val cols = Dedup.minhashParams(8).zipWithIndex.map { case ((a, b), i) =>
        s"list_min(list_transform(sh, h -> (h * $a + $b) % ${Dedup.MinhashP})) AS mh_$i"
      }.mkString(",\n  ")
      s"""WITH t AS (SELECT doc_id, $sh AS sh FROM documents)
         |SELECT doc_id, $cols FROM t ORDER BY doc_id""".stripMargin
    }),

    // brute-force cosine top-3 for the first 10 vectors
    Gate("q45_ann_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 10), e, "vec_id", "embedding", 3)
        .orderBy(col("query_id"), col("rank"))
    },
    oracle = annSqlFor(10, 3)),

    // embedding near-dup pairs via sign-bit LSH buckets + exact cosine
    Gate("q46_embedding_neardup", (s, dir) =>
      Dedup.embeddingNearDups(emb(s, dir), "vec_id", "embedding", 0.2)
        .orderBy(col("id_a"), col("id_b")),
    oracle = {
      val bucket = (0 until 16).map { i =>
        s"(CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding, CAST($bucket AS BIGINT) AS bucket FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ROUND(${dcosine("a.embedding", "b.embedding")}, 6) AS cosine
         |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ${dcosine("a.embedding", "b.embedding")} >= 0.2
         |  AND NOT isnan(${dcosine("a.embedding", "b.embedding")})
         |ORDER BY 1, 2""".stripMargin
    }),

    // language-ID heuristic (stopword argmax)
    Gate("q47_langid", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.languageId(col("text")).as("lang_pred")
      ).orderBy(col("doc_id")),
    oracle = langCaseFor(TextAnalysis.stopwords, "lang_pred")),

    // quality scoring features + composite score
    Gate("q48_quality", (s, dir) => {
      val f = TextAnalysis.qualityFeatures(col("text"))
      docs(s, dir).select(
        (col("doc_id") +: f.map { case (n, c) => c.as(n) }) :+
          TextAnalysis.qualityScore(col("text")).as("quality"): _*
      ).orderBy(col("doc_id"))
    },
    oracle = {
      val toks = "string_split(text, ' ')"
      val ltoks = "string_split(lower(text), ' ')"
      val enList = TextAnalysis.stopwords.toMap.apply("en").map(w => s"'$w'").mkString(", ")
      val nStop = s"len(list_filter($ltoks, t -> t IN ($enList)))"
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len($toks) AS BIGINT) AS n_tokens,
         |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) AS digit_ratio,
         |  CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
         |  CAST($nStop AS DOUBLE) / len($toks) AS stopword_ratio,
         |  CAST(list_sum(list_transform($toks, t -> length(t))) AS DOUBLE) / len($toks) AS mean_token_len,
         |  ROUND((
         |    (CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.0 END) +
         |    (CASE WHEN CAST($nStop AS DOUBLE) / len($toks) >= 0.01 THEN 1.0 ELSE 0.0 END) +
         |    (CASE WHEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) <= 0.3 THEN 1.0 ELSE 0.0 END)
         |  ) / 3.0, 4) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin
    }),

    // char-3gram Jaccard between consecutive doc ids (set semantics)
    Gate("q49_jaccard_consecutive", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val a = d.alias("a")
      val b = d.alias("b")
      a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("doc_id"),
          round(Dedup.jaccardCharNgrams(col("a.text"), col("b.text"), 3), 6)
            .as("jaccard3"))
        .orderBy(col("doc_id"))
    },
    oracle =
      """WITH g AS (SELECT doc_id,
        |  list_distinct(list_transform(
        |    generate_series(1, GREATEST(length(text) - 2, 0)),
        |    i -> substr(text, i, 3))) AS grams FROM documents)
        |SELECT a.doc_id AS doc_id,
        |  ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard3
        |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_id""".stripMargin),

    // multimodal tier 1: binary column + batched codec-free byte stats
    Gate("q50_multimodal", (s, dir) =>
      Multimodal.pipeline(s, docs(s, dir), "doc_id", "text")
        .toDF().orderBy(col("media_id")),
    oracle =
      s"""SELECT doc_id AS media_id,
         |  CAST(length(text) AS BIGINT) AS n_bytes,
         |  CAST((length(text) + 255) // 256 AS BIGINT) AS n_frames,
         |  CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c))) AS DOUBLE)
         |    / length(text) AS mean_byte,
         |  ${dpolyhash("text")} AS checksum
         |FROM documents ORDER BY media_id""".stripMargin),

    // sessionize events: 30-min inactivity gap, per-user session stats
    Gate("q51_sessionize", (s, dir) => {
      val ev = EventsModel.eventsNanos(s, dir) // ts = int64 nanos
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc)
      val gapNs = 30L * 60 * 1000000000L
      ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapNs, 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },
    oracle =
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS tns FROM events),
        |s AS (SELECT user_id, tns,
        |  CASE WHEN LAG(tns) OVER (PARTITION BY user_id ORDER BY tns) IS NULL
        |         OR tns - LAG(tns) OVER (PARTITION BY user_id ORDER BY tns) > 1800000000000
        |       THEN 1 ELSE 0 END AS new_session
        |  FROM e)
        |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
        |  COUNT(1) AS n_events
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin),

    // MinHash+LSH near-duplicate pairs, exact-Jaccard verified (the full
    // pipeline; LSH banding makes it o(n²) at scale)
    Gate("q52_minhash_neardup", (s, dir) =>
      nearDupPairs(docs(s, dir)).orderBy(col("id_a"), col("id_b")),
    oracle =
      s"""WITH $minhashPairsCtes
         |SELECT id_a, id_b, ROUND(jac, 6) AS jaccard
         |FROM pairsq ORDER BY 1, 2""".stripMargin),

    // IVF-routed ANN (inverted lists by nearest centroid); probed at full
    // depth here so the result is provably the exact top-k — the oracle
    // checks the whole assign→route→scan plumbing
    Gate("q53_ann_ivf", (s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding", 3,
        nCentroids = 8, nProbe = 8)
        .orderBy(col("query_id"), col("rank"))
    },
    oracle = annSqlFor(5, 3)),

    // near-dup clusters: LSH pairs → connected components (iterative
    // min-label propagation) → one cluster id per doc
    Gate("q54_neardup_clusters", (s, dir) => {
      val d = docs(s, dir)
      val pairs = nearDupPairs(d)
      Dedup.nearDupClusters(d, "doc_id", pairs).orderBy(col("doc_id"))
    },
    // connected components replayed with a recursive CTE: enumerate all
    // reachable labels per node over the (symmetrized) near-dup edges,
    // take the min — identical to min-label propagation's fixpoint
    oracle = ccOracleSql),

    // Gopher-style repetition features (duplicate-line fraction, longest
    // line, modal-word share) — the boilerplate-drop signals of a
    // training-corpus filter
    Gate("q60_repetition", (s, dir) => {
      val f = TextAnalysis.repetitionFeatures(col("text"))
      docs(s, dir).select(
        col("doc_id") +: f.map { case (n, c) => c.as(n) }: _*
      ).orderBy(col("doc_id"))
    },
    oracle =
      """WITH l AS (SELECT doc_id,
        |    list_filter(string_split(text, chr(10)), x -> length(trim(x)) > 0) AS ls,
        |    list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0) AS ws
        |  FROM documents),
        |wmax AS (SELECT doc_id, MAX(c) AS maxc FROM (
        |    SELECT doc_id, w, COUNT(*) AS c
        |    FROM (SELECT doc_id, unnest(ws) AS w FROM l) GROUP BY doc_id, w)
        |  GROUP BY doc_id)
        |SELECT l.doc_id,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(list_distinct(ls)) AS BIGINT) AS distinct_lines,
        |  CASE WHEN len(ls) > 0
        |    THEN ROUND(1.0 - CAST(len(list_distinct(ls)) AS DOUBLE)/len(ls), 6)
        |    ELSE 0.0 END AS dup_line_frac,
        |  CAST(COALESCE(list_max(list_transform(ls, x -> length(x))), 0) AS BIGINT)
        |    AS max_line_len,
        |  CAST(len(ws) AS BIGINT) AS word_count,
        |  CASE WHEN len(ws) > 0
        |    THEN ROUND(CAST(COALESCE(wmax.maxc, 0) AS DOUBLE)/len(ws), 6)
        |    ELSE 0.0 END AS top_word_frac
        |FROM l LEFT JOIN wmax USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // same components via the diameter-independent alternating algorithm
    Gate("q61_neardup_clusters_alt", (s, dir) => {
      val d = docs(s, dir)
      val pairs = nearDupPairs(d)
      Dedup.nearDupClustersAlternating(d, "doc_id", pairs, strict = true)
        .orderBy(col("doc_id"))
    },
    oracle = ccOracleSql),

    // content flags: URL/email density + symbol-to-word ratio (the
    // remaining boilerplate/spam filter signals)
    Gate("q62_content_flags", (s, dir) => {
      val f = TextAnalysis.contentFlags(col("text"))
      docs(s, dir).select(
        col("doc_id") +: f.map { case (n, c) => c.as(n) }: _*
      ).orderBy(col("doc_id"))
    },
    oracle =
      """WITH f AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |    CAST(len(regexp_extract_all(text, '[#@&%$~^*+=<>{}\[\]|\\]')) AS BIGINT) AS n_symbols,
        |    len(list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0)) AS wc
        |  FROM documents)
        |SELECT doc_id, n_urls, n_emails, n_symbols,
        |  CASE WHEN wc > 0 THEN ROUND(CAST(n_symbols AS DOUBLE)/wc, 6)
        |    ELSE 0.0 END AS symbol_word_ratio
        |FROM f ORDER BY doc_id""".stripMargin),

    // multimodal image metadata: synthesize a PNG header per doc (dims a
    // deterministic function of doc_id), parse it back with the real
    // header sniffer — the oracle recomputes the dims arithmetically, so
    // the construct↔parse round-trip is hash-checked
    Gate("q63_image_meta", (s, dir) =>
      Multimodal.imageMetadata(
        Multimodal.withSyntheticPng(docs(s, dir), "doc_id"))
        .toDF().withColumnRenamed("media_id", "doc_id")
        .orderBy(col("doc_id")),
    oracle =
      """SELECT doc_id, 'png' AS format,
        |  CAST(doc_id % 1000 + 1 AS INTEGER) AS width,
        |  CAST((doc_id * 7) % 1000 + 1 AS INTEGER) AS height
        |FROM documents ORDER BY doc_id""".stripMargin),

    // C4/Gopher boilerplate-line removal: synthesize multi-line docs with
    // known chrome (banner + footer on every doc, an extra line on half),
    // drop lines occurring in >100 distinct docs, reassemble in order
    Gate("q64_boilerplate_lines", (s, dir) => {
      // coalesce(text,'') SYMMETRICALLY with the oracle CTE: concat_ws
      // skips NULLs while DuckDB '||' propagates them — without the
      // shared coalesce a NULL text would diverge instead of failing
      val txt = coalesce(col("text"), lit(""))
      val d = docs(s, dir).select(col("doc_id"),
        concat_ws("\n",
          lit("COOKIE BANNER"), txt, lit("(c) example footer"),
          when(col("doc_id") % 2 === 0, lit("site navigation"))
            .otherwise(txt)).as("text"))
      Dedup.dropBoilerplateLines(d, "doc_id", "text", maxDocFreq = 100)
        .orderBy(col("doc_id"))
    },
    oracle =
      """WITH d AS (SELECT doc_id,
        |    'COOKIE BANNER' || chr(10) || coalesce(text, '') || chr(10) ||
        |    '(c) example footer' || chr(10) ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'site navigation'
        |         ELSE coalesce(text, '') END AS text
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM d),
        |e AS (SELECT doc_id, unnest(arr) AS line,
        |    generate_subscripts(arr, 1) AS ord FROM ls),
        |freq AS (SELECT line FROM e GROUP BY line
        |  HAVING COUNT(DISTINCT doc_id) > 100),
        |kept AS (SELECT e.* FROM e ANTI JOIN freq USING (line)),
        |r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY ord) AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.text, '') AS text
        |FROM d LEFT JOIN r USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // deterministic content-addressed train/val/test split (90/5/5):
    // duplicates hash to the same split, killing train/test leakage
    Gate("q65_split", (s, dir) =>
      Corpus.withSplit(docs(s, dir), "text")
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy(col("doc_id")),
    oracle =
      s"""WITH h AS (SELECT doc_id, ${dpolyhash("text")} % 100 AS bucket
         |  FROM documents)
         |SELECT doc_id, bucket,
         |  CASE WHEN bucket < 90 THEN 'train'
         |       WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin),

    // sequence packing: per-shard token cumsum → 256-token context windows
    Gate("q66_sequence_pack", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      Corpus.sequencePack(d, "doc_id", "n_tokens", ctxLen = 256, nShards = 8)
        .select("doc_id", "shard", "n_tokens", "tok_start", "pack_first",
          "pack_last", "n_windows", "pack_uid")
        .orderBy(col("doc_id"))
    },
    oracle =
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY shard
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum FROM t)
        |SELECT doc_id, shard, n_tokens, cum - n_tokens AS tok_start,
        |  (cum - n_tokens) // 256 AS pack_first,
        |  GREATEST(cum - 1, cum - n_tokens) // 256 AS pack_last,
        |  (GREATEST(cum - 1, cum - n_tokens) // 256)
        |    - ((cum - n_tokens) // 256) + 1 AS n_windows,
        |  shard * 1099511627776 + ((cum - n_tokens) // 256) AS pack_uid
        |FROM c ORDER BY doc_id""".stripMargin),

    // top-50 vocabulary with a deterministic total order
    Gate("q67_vocabulary", (s, dir) =>
      Corpus.vocabulary(docs(s, dir), "text", 50),
    oracle =
      """WITH w AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0)) AS word FROM documents)
        |SELECT word, COUNT(1) AS n_occurrences FROM w GROUP BY word
        |ORDER BY n_occurrences DESC, word ASC LIMIT 50""".stripMargin),

    // PII redaction: inject known PII per doc, count+mask it category by
    // category (URL → EMAIL → IP → PHONE, sequentially, so nested matches
    // count once)
    Gate("q68_pii_redact", (s, dir) => {
      val id = col("doc_id").cast("string")
      val synth = concat(col("text"), lit("\nContact user"), id,
        lit("@example.com or https://example.org/p/"), id,
        lit(" at 10.0."), (col("doc_id") % 256).cast("string"),
        lit("."), (col("doc_id") % 100).cast("string"),
        lit(" call 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val (redacted, counts) = Corpus.redactPii(synth)
      docs(s, dir).select(
        col("doc_id") +: counts.map { case (n, c) => c.cast("long").as(n) } :+
          redacted.as("text"): _*
      ).orderBy(col("doc_id"))
    },
    oracle =
      """WITH d AS (SELECT doc_id,
        |    text || chr(10) || 'Contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com or https://example.org/p/' || CAST(doc_id AS VARCHAR) ||
        |    ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
        |    CAST(doc_id % 100 AS VARCHAR) || ' call 555-' ||
        |    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t0
        |  FROM documents),
        |s1 AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(t0, 'https?://[^\s]+')) AS BIGINT) AS n_url,
        |    regexp_replace(t0, 'https?://[^\s]+', '<URL>', 'g') AS t1 FROM d),
        |s2 AS (SELECT doc_id, n_url,
        |    CAST(len(regexp_extract_all(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |    regexp_replace(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t2 FROM s1),
        |s3 AS (SELECT doc_id, n_url, n_email,
        |    CAST(len(regexp_extract_all(t2, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip,
        |    regexp_replace(t2, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t3 FROM s2),
        |s4 AS (SELECT doc_id, n_url, n_email, n_ip,
        |    CAST(len(regexp_extract_all(t3, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
        |    regexp_replace(t3, '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS text FROM s3)
        |SELECT doc_id, n_url, n_email, n_ip, n_phone, text
        |FROM s4 ORDER BY doc_id""".stripMargin),

    // multimodal tier 3: REAL ImageIO round-trip — encode a synthetic PNG
    // per doc (dims + every pixel a linear function of doc_id), decode it
    // back with javax.imageio, emit per-channel mean/extrema; the oracle
    // recomputes the same statistics arithmetically, so the whole
    // encode→decode→aggregate path is hash-checked
    Gate("q69_image_decode", (s, dir) =>
      Multimodal.decodeImageStats(
        Multimodal.withSyntheticImage(docs(s, dir), "doc_id"))
        .toDF().withColumnRenamed("media_id", "doc_id")
        .withColumn("mean_r", round(col("mean_r"), 6))
        .withColumn("mean_g", round(col("mean_g"), 6))
        .withColumn("mean_b", round(col("mean_b"), 6))
        .orderBy(col("doc_id")),
    oracle =
      """WITH px AS (SELECT doc_id,
        |    CAST(doc_id % 16 + 1 AS INTEGER) AS width,
        |    CAST((doc_id * 7) % 16 + 1 AS INTEGER) AS height
        |  FROM documents),
        |v AS (SELECT doc_id, width, height,
        |    flatten(list_transform(generate_series(0, height - 1),
        |      y -> list_transform(generate_series(0, width - 1),
        |        x -> (doc_id + 3*x + 5*y) % 256))) AS r,
        |    flatten(list_transform(generate_series(0, height - 1),
        |      y -> list_transform(generate_series(0, width - 1),
        |        x -> (3*doc_id + 7*x + y) % 256))) AS g,
        |    flatten(list_transform(generate_series(0, height - 1),
        |      y -> list_transform(generate_series(0, width - 1),
        |        x -> (5*doc_id + x + 11*y) % 256))) AS b
        |  FROM px)
        |SELECT doc_id, width, height,
        |  ROUND(CAST(list_sum(r) AS DOUBLE) / (width*height), 6) AS mean_r,
        |  ROUND(CAST(list_sum(g) AS DOUBLE) / (width*height), 6) AS mean_g,
        |  ROUND(CAST(list_sum(b) AS DOUBLE) / (width*height), 6) AS mean_b,
        |  CAST(list_min(r) AS BIGINT) AS min_r, CAST(list_max(r) AS BIGINT) AS max_r,
        |  CAST(list_min(g) AS BIGINT) AS min_g, CAST(list_max(g) AS BIGINT) AS max_g,
        |  CAST(list_min(b) AS BIGINT) AS min_b, CAST(list_max(b) AS BIGINT) AS max_b
        |FROM v ORDER BY doc_id""".stripMargin),

    // multimodal audio tier: synthesize a canonical WAV header per doc
    // (rate/channels/width/samples deterministic in doc_id), parse it back
    // with the codec-free RIFF chunk walker; the oracle recomputes every
    // field arithmetically, so the construct↔parse round-trip hash-checks
    Gate("q70_audio_meta", (s, dir) =>
      Multimodal.audioMetadata(
        Multimodal.withSyntheticWav(docs(s, dir), "doc_id"))
        .toDF().withColumnRenamed("media_id", "doc_id")
        .orderBy(col("doc_id")),
    oracle =
      """SELECT doc_id, 'wav' AS format,
        |  CAST(8000 * (1 + doc_id % 5) AS INTEGER) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS INTEGER) AS bits_per_sample,
        |  CAST((doc_id * 31) % 10000 AS BIGINT) AS n_samples,
        |  CAST(((doc_id * 31) % 10000) * 1000 // (8000 * (1 + doc_id % 5)) AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin),

    // int8 embedding quantization: per-vector scale + half-up rounding +
    // reconstruction error, the float32→int8 compression pass before ANN
    // index build / training shipping — fully replayed by the oracle.
    // Runs the one-pass codegen'd stats expression; the interpreted-lambda
    // formulation (quantizeInt8) is its cross-validated spec in OpsSpec
    Gate("q71_embed_quantize", (s, dir) => {
      val st = Similarity.quantizeInt8Stats(col("embedding"))
      emb(s, dir).select(
        col("vec_id"),
        round(st.getField("scale"), 6).as("scale"),
        st.getField("q_sum").as("q_sum"),
        st.getField("q_min").as("q_min"),
        st.getField("q_max").as("q_max"),
        st.getField("q_nonzero").as("q_nonzero"),
        round(st.getField("max_abs_err"), 6).as("max_abs_err")
      ).orderBy(col("vec_id"))
    },
    oracle =
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
        |  FROM embeddings),
        |s AS (SELECT vec_id, x,
        |    list_max(list_transform(x, v -> abs(v))) / 127.0 AS scale FROM e),
        |q AS (SELECT vec_id, x, scale,
        |    CASE WHEN scale = 0 THEN list_transform(x, v -> CAST(0 AS BIGINT))
        |         ELSE list_transform(x, v -> CAST(floor(v / scale + 0.5) AS BIGINT))
        |    END AS qv
        |  FROM s)
        |SELECT vec_id, ROUND(scale, 6) AS scale,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_min(qv) AS BIGINT) AS q_min,
        |  CAST(list_max(qv) AS BIGINT) AS q_max,
        |  CAST(len(list_filter(qv, v -> v <> 0)) AS BIGINT) AS q_nonzero,
        |  CASE WHEN scale = 0 THEN 0.0 ELSE
        |    ROUND(list_max(list_transform(generate_series(1, len(x)),
        |      i -> abs(x[i] - qv[i] * scale))), 6) END AS max_abs_err
        |FROM q ORDER BY vec_id""".stripMargin),

    // multimodal audio tier, REAL decode: synthesize a full PCM WAV per
    // doc (every 16-bit sample a linear function of doc_id/index/channel),
    // decode its PCM back off the RIFF data chunk, emit per-channel
    // mean/extrema; the oracle recomputes the statistics arithmetically —
    // the audio twin of q69's image round-trip
    Gate("q72_audio_decode", (s, dir) =>
      Multimodal.decodeAudioStats(
        Multimodal.withSyntheticWavPcm(docs(s, dir), "doc_id"))
        .toDF().withColumnRenamed("media_id", "doc_id")
        .withColumn("mean_c0", round(col("mean_c0"), 6))
        .withColumn("mean_c1", round(col("mean_c1"), 6))
        .orderBy(col("doc_id")),
    oracle =
      """WITH s AS (SELECT doc_id, CAST(1 + doc_id % 2 AS INTEGER) AS channels
        |  FROM documents),
        |v AS (SELECT doc_id, channels,
        |    list_transform(generate_series(0, 63),
        |      i -> (doc_id*31 + i*7) % 4001 - 2000) AS c0,
        |    list_transform(generate_series(0, 63),
        |      i -> (doc_id*31 + i*7 + 13) % 4001 - 2000) AS c1
        |  FROM s)
        |SELECT doc_id, 8000 AS sample_rate, channels,
        |  CAST(64 AS BIGINT) AS n_samples,
        |  ROUND(CAST(list_sum(c0) AS DOUBLE) / 64, 6) AS mean_c0,
        |  CAST(list_min(c0) AS BIGINT) AS min_c0,
        |  CAST(list_max(c0) AS BIGINT) AS max_c0,
        |  CASE WHEN channels = 2
        |    THEN ROUND(CAST(list_sum(c1) AS DOUBLE) / 64, 6) ELSE 0.0 END AS mean_c1,
        |  CASE WHEN channels = 2
        |    THEN CAST(list_min(c1) AS BIGINT) ELSE 0 END AS min_c1,
        |  CASE WHEN channels = 2
        |    THEN CAST(list_max(c1) AS BIGINT) ELSE 0 END AS max_c1
        |FROM v ORDER BY doc_id""".stripMargin),

    // multimodal video tier: synthesize a structurally-real AVI per doc
    // (dims, frame count, every frame byte linear in doc_id), walk the
    // container codec-free and sample every 2nd frame with an
    // order-sensitive digest — the oracle replays count/bytes/digest
    // arithmetically, so the construct↔walk↔sample loop is hash-checked
    Gate("q73_video_frames", (s, dir) =>
      Multimodal.sampleVideoFrames(
        Multimodal.withSyntheticAvi(docs(s, dir), "doc_id"), stride = 2)
        .toDF().withColumnRenamed("media_id", "doc_id")
        .orderBy(col("doc_id")),
    oracle =
      """WITH p AS (SELECT doc_id,
        |    CAST(doc_id % 100 + 1 AS INTEGER) AS width,
        |    CAST((doc_id * 3) % 100 + 1 AS INTEGER) AS height,
        |    CAST(doc_id % 7 + 1 AS BIGINT) AS n_frames
        |  FROM documents),
        |b AS (SELECT doc_id, width, height, n_frames,
        |    flatten(list_transform(
        |      list_filter(generate_series(0, CAST(n_frames AS INTEGER) - 1),
        |        f -> f % 2 = 0),
        |      f -> list_transform(generate_series(0, 31),
        |        j -> (doc_id + f*31 + j*7) % 256))) AS bytes,
        |    len(list_filter(generate_series(0, CAST(n_frames AS INTEGER) - 1),
        |      f -> f % 2 = 0)) AS ns
        |  FROM p)
        |SELECT doc_id, width, height, n_frames,
        |  CAST(ns AS BIGINT) AS n_sampled,
        |  CAST(ns * 32 AS BIGINT) AS sampled_bytes,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), bytes),
        |    (a, x) -> (a * 131 + x) % 1000000007) AS frames_checksum
        |FROM b ORDER BY doc_id""".stripMargin),

    // LSH-bucketed ANN: the full pipeline — sign-bit bucketing, hamming-1
    // multiprobe, bucket join, rank — is replayed by the oracle (the
    // hyperplanes are deterministic axis planes, so the bucket assignment
    // is engine-independent), and each row also carries recall@k against
    // the q45 brute-force twin as oracle-replayable evidence of the
    // approximation's quality
    Gate("q74_ann_lsh", (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val lsh = Similarity.lshTopK(q, e, "vec_id", "embedding", 3, bits = 8)
      val bf = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 3)
      val hits = lsh.select(col("query_id"), col("neighbor_id"))
        .join(bf.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      lsh.join(hits, Seq("query_id"), "left")
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"),
          round(coalesce(col("n_hit"), lit(0L)) / lit(3.0), 6).as("recall_at_k"))
        .orderBy(col("query_id"), col("rank"))
    },
    // DuckDB replay of the whole lshTopK pipeline (bits=8, hamming-1
    // multiprobe, k=3, queries vec_id&lt;10) + recall@3 vs brute force.
    oracle = {
      val bucket = (0 until 8).map { i =>
        s"(CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      val masks = (0L +: (0 until 8).map(1L << _)).mkString(", ")
      s"""WITH e AS (SELECT vec_id, embedding, CAST($bucket AS BIGINT) AS bucket
         |    FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, bucket AS sig
         |    FROM e WHERE vec_id < 10),
         |probes AS (SELECT query_id, qv, xor(sig, CAST(m AS BIGINT)) AS bucket
         |    FROM q CROSS JOIN (SELECT unnest([$masks]) AS m)),
         |scored AS (SELECT p.query_id, c.vec_id AS neighbor_id,
         |    ${dcosine("p.qv", "c.embedding")} AS cos_raw
         |  FROM probes p JOIN e c ON p.bucket = c.bucket
         |  WHERE p.query_id <> c.vec_id),
         |lshk AS (SELECT * FROM (
         |    SELECT query_id, neighbor_id, cos_raw,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY cos_raw DESC, neighbor_id) AS rank
         |    FROM scored) WHERE rank <= 3),
         |bscored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ${dcosine("q.qv", "c.embedding")} AS cos_raw
         |  FROM q, e c WHERE q.query_id <> c.vec_id),
         |bk AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY cos_raw DESC, neighbor_id) AS rank
         |    FROM bscored) WHERE rank <= 3),
         |hits AS (SELECT l.query_id, COUNT(*) AS n_hit
         |  FROM lshk l JOIN bk b
         |    ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
         |  GROUP BY l.query_id)
         |SELECT l.query_id, l.neighbor_id, ROUND(l.cos_raw, 6) AS cosine,
         |  CAST(l.rank AS INTEGER) AS rank,
         |  ROUND(COALESCE(h.n_hit, 0) / 3.0, 6) AS recall_at_k
         |FROM lshk l LEFT JOIN hits h ON l.query_id = h.query_id
         |ORDER BY l.query_id, l.rank""".stripMargin
    }),

    // production language-ID: the full ~60×11 word lists through the same
    // codegen'd argmax — oracle-inlined verbatim, so the production lists
    // themselves are now part of the verified contract
    Gate("q76_langid_full", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.languageIdFull(col("text")).as("lang_pred_full")
      ).orderBy(col("doc_id")),
    // q76: the PRODUCTION ~60-word × 11-language lists replayed verbatim —
    // the full lists are string literals, so the oracle inlines them into
    // the same argmax mechanism q47 pins for the 8-word lists.
    oracle =
      langCaseFor(graft.functions.TextImpls.fullStopwords, "lang_pred_full")),

    // benchmark decontamination: every 10th doc plays the benchmark set;
    // training docs sharing any word 8-gram with it are contaminated
    // (ground truth: the benchmark docs themselves plus exact/near copies)
    Gate("q77_decontaminate", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") % 10 === 0).select(col("text"))
      graft.ops.Dedup.decontaminate(d, "doc_id", "text", bench, "text", n = 8)
        .orderBy(col("doc_id"))
    },
    oracle =
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(coalesce(text, ''), ' '),
        |                x -> x <> '') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    CASE WHEN len(ws) >= 8 THEN
        |      list_distinct(list_transform(
        |        generate_series(1, len(ws) - 7),
        |        i -> array_to_string(ws[i:i+7], ' ')))
        |    ELSE [] END AS grams
        |  FROM w),
        |bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g
        |  WHERE doc_id % 10 = 0),
        |e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        |o AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS overlap_ngrams
        |  FROM e SEMI JOIN bg USING (gram) GROUP BY e.doc_id)
        |SELECT g.doc_id,
        |  coalesce(o.overlap_ngrams, 0) AS overlap_ngrams,
        |  coalesce(o.overlap_ngrams, 0) > 0 AS contaminated
        |FROM g LEFT JOIN o USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // per-source quota cap: at most 10 docs per source, ordered by
    // n_chars (which DUPLICATES within sources at sf0.01 — the doc_id
    // tie-break is what keeps survivorship deterministic) with doc_id
    // breaking ties; fixture sources hold 25 docs each, so the cap BINDS
    Gate("q78_cap_per_source", (s, dir) =>
      graft.ops.Corpus.capPerKey(
        docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        "source", 10, "n_chars", "doc_id")
        .orderBy(col("doc_id")),
    oracle =
      """SELECT doc_id, source, n_chars FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source
        |  ORDER BY n_chars, doc_id) <= 10
        |ORDER BY doc_id""".stripMargin),

    // corpus-wide paragraph dedup: every doc carries a shared intro
    // paragraph, its own text, and (odd docs) a repeat of its own text —
    // only first occurrences survive corpus-wide
    Gate("q79_dedup_paragraphs", (s, dir) => {
      val txt = coalesce(col("text"), lit(""))
      val d = docs(s, dir).select(col("doc_id"),
        concat_ws("\n\n",
          lit("SHARED INTRO PARAGRAPH"), txt,
          when(col("doc_id") % 2 === 1, txt)
            .otherwise(lit("CALL TO ACTION"))).as("text"))
      graft.ops.Dedup.dedupParagraphs(d, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    oracle =
      """WITH d AS (SELECT doc_id,
        |    'SHARED INTRO PARAGRAPH' || chr(10) || chr(10) ||
        |    coalesce(text, '') || chr(10) || chr(10) ||
        |    CASE WHEN doc_id % 2 = 1 THEN coalesce(text, '')
        |         ELSE 'CALL TO ACTION' END AS text
        |  FROM documents),
        |ps AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS arr
        |  FROM d),
        |e AS (SELECT doc_id, unnest(arr) AS para,
        |    generate_subscripts(arr, 1) AS ord FROM ps),
        |k AS (SELECT doc_id, para, ord,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, ord) AS rn
        |  FROM e),
        |r AS (SELECT doc_id,
        |    string_agg(para, chr(10) || chr(10) ORDER BY ord) AS text
        |  FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.text, '') AS text
        |FROM d LEFT JOIN r USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // deterministic mixture sampling: drop src0, halve src1, upsample
    // src2 2.25x and src3 3x, everything else at weight 1
    Gate("q80_sample_mixture", (s, dir) =>
      graft.ops.Corpus.sampleMixture(
        docs(s, dir).select(col("doc_id"), col("source"), col("text")),
        "source", "text",
        Map("src0" -> 0.0, "src1" -> 0.5, "src2" -> 2.25, "src3" -> 3.0))
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch")),
    oracle =
      s"""WITH m AS (SELECT doc_id, source,
         |    CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 500000
         |      WHEN 'src2' THEN 2250000 WHEN 'src3' THEN 3000000
         |      ELSE 1000000 END AS micros,
         |    ${dpolyhash("coalesce(text, '')")} % 1000000 AS bucket
         |  FROM documents),
         |n AS (SELECT doc_id, source,
         |    micros // 1000000 +
         |      CASE WHEN bucket < micros % 1000000 THEN 1 ELSE 0 END AS n
         |  FROM m)
         |SELECT doc_id, source,
         |  unnest(generate_series(0, CAST(n AS BIGINT) - 1)) AS epoch
         |FROM n WHERE n > 0 ORDER BY doc_id, epoch""".stripMargin),

    // duplicated-span profile: per-doc count/fraction of word 8-shingles
    // occurring >= 2 times corpus-wide (the span-level dedup signal)
    Gate("q81_dup_spans", (s, dir) =>
      graft.ops.Dedup.dupSpanProfile(docs(s, dir), "doc_id", "text", k = 8)
        .orderBy(col("doc_id")),
    oracle =
      s"""WITH t AS (SELECT doc_id,
         |    ${dshingleHashesK("coalesce(text, '')", 8)} AS sh
         |  FROM documents),
         |e AS (SELECT doc_id, unnest(sh) AS h FROM t),
         |o AS (SELECT doc_id,
         |    COUNT(*) OVER (PARTITION BY h) AS occ FROM e)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_shingles,
         |  ROUND(CAST(SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*), 6) AS dup_fraction
         |FROM o GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // token-budget selection: per source, largest docs first until 3000
    // chars — the budget BINDS (119 of 500 docs survive at sf0.01)
    Gate("q82_token_budget", (s, dir) =>
      graft.ops.Corpus.selectByTokenBudget(
        docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        "source", "n_chars", "n_chars", 3000L, "doc_id")
        .orderBy(col("doc_id")),
    oracle =
      """SELECT doc_id, source, n_chars FROM documents
        |QUALIFY SUM(n_chars) OVER (PARTITION BY source
        |  ORDER BY n_chars DESC, doc_id ROWS UNBOUNDED PRECEDING) <= 3000
        |ORDER BY doc_id""".stripMargin),

    // duplicated-span removal: later occurrences of corpus-repeated word
    // 8-shingles are excised token-wise; first occurrences survive
    Gate("q83_remove_dup_spans", (s, dir) =>
      graft.ops.Dedup.removeDupSpans(docs(s, dir), "doc_id", "text", k = 8)
        .orderBy(col("doc_id")),
    oracle =
      s"""WITH t AS (SELECT doc_id, coalesce(text, '') AS text,
         |    ${dshingleHashesK("coalesce(text, '')", 8)} AS sh
         |  FROM documents),
         |e AS (SELECT doc_id, unnest(sh) AS h,
         |    generate_subscripts(sh, 1) AS pos FROM t),
         |f AS (SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) >= 2
         |      AS rm FROM e),
         |fl AS (SELECT doc_id, list(rm ORDER BY pos) AS flags
         |  FROM f GROUP BY doc_id),
         |r AS (SELECT t.doc_id,
         |    regexp_split_to_array(t.text, '\\s+') AS toks, fl.flags
         |  FROM t JOIN fl USING (doc_id))
         |SELECT doc_id,
         |  coalesce(array_to_string(list_filter(list_transform(
         |    generate_series(1, len(toks)),
         |    j -> CASE WHEN len(list_filter(
         |          flags[greatest(1, j - 7):least(j, len(flags))],
         |          x -> x)) > 0
         |        THEN NULL ELSE toks[j] END), x -> x IS NOT NULL), ' '), '')
         |    AS text
         |FROM r ORDER BY doc_id""".stripMargin),

    // incremental exact dedup: docs with doc_id % 3 = 0 play yesterday's
    // retained corpus; the new batch is every doc plus an id-shifted
    // exact copy of each fifth doc (the fixture corpus has no natural
    // byte-identical duplicates, so both dedup axes are synthesized to
    // BIND: ~1/3 of the batch is already-seen, the shifted copies are
    // within-batch duplicates keeping their first id)
    Gate("q84_dedup_incremental", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val batch = d.unionAll(
        d.filter(col("doc_id") % 5 === 1)
          .select((col("doc_id") + 100000L).as("doc_id"),
            col("source"), col("text")))
      graft.ops.Dedup.dedupAgainstCorpus(batch, "doc_id", "text",
        d.filter(col("doc_id") % 3 === 0), "text")
        .orderBy(col("doc_id"))
    },
    oracle =
      """WITH batch AS (
        |    SELECT doc_id, source, text FROM documents
        |    UNION ALL
        |    SELECT doc_id + 100000, source, text FROM documents
        |    WHERE doc_id % 5 = 1),
        |  seen AS (SELECT DISTINCT coalesce(text, '') AS t
        |    FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id, source, text FROM batch
        |WHERE coalesce(text, '') NOT IN (SELECT t FROM seen)
        |QUALIFY row_number() OVER (PARTITION BY coalesce(text, '')
        |  ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin),

    // cluster representatives: LSH near-dup clusters, then keep the best
    // member per cluster (longest text, doc_id tie-break) — the retention
    // step after q54's clustering
    Gate("q85_cluster_representatives", (s, dir) => {
      val d = docs(s, dir)
      val pairs = nearDupPairs(d)
      Dedup.clusterRepresentatives(
        d.select(col("doc_id"), col("n_chars"), col("text")),
        "doc_id", pairs, "n_chars")
        .orderBy(col("doc_id"))
    },
    oracle =
      s"""WITH RECURSIVE $pairsCcCtes,
         |cl AS (SELECT id AS doc_id, MIN(label) AS cluster FROM cc GROUP BY id)
         |SELECT d.doc_id, d.n_chars, cl.cluster
         |FROM documents d JOIN cl USING (doc_id)
         |QUALIFY row_number() OVER (PARTITION BY cl.cluster
         |  ORDER BY d.n_chars DESC, d.doc_id) = 1
         |ORDER BY d.doc_id""".stripMargin),

    // per-document top-5 TF-IDF keywords (linearized idf — see
    // Corpus.tfidfKeywords for the exact-arithmetic rationale)
    Gate("q86_tfidf_keywords", (s, dir) =>
      Corpus.tfidfKeywords(docs(s, dir), "doc_id", "text", 5)
        .orderBy(col("doc_id"), col("rank")),
    oracle =
      """WITH w AS (SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0)) AS word FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(1) AS tf FROM w GROUP BY 1, 2),
        |df AS (SELECT word, COUNT(1) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.word, tf.tf, df.df,
        |    CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
        |  FROM tf JOIN df USING (word) CROSS JOIN n)
        |SELECT doc_id, word, tf, df, score, CAST(rk AS INTEGER) AS rank
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, word ASC) AS rk FROM s) t
        |WHERE rk <= 5 ORDER BY doc_id, rank""".stripMargin),

    // per-document unigram corpus statistics: token count, exact mean
    // inverse token frequency, mean token log-probability (the
    // quality-filter signal, corpus as its own LM)
    Gate("q87_unigram_stats", (s, dir) =>
      Corpus.unigramStats(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
    oracle =
      """WITH w AS (SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0)) AS word FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(1) AS tf FROM w GROUP BY 1, 2),
        |cw AS (SELECT word, SUM(tf) AS cw FROM tf GROUP BY 1),
        |tot AS (SELECT COUNT(1) AS total FROM w),
        |terms AS (SELECT tf.doc_id, tf.word, tf.tf,
        |    CAST(tf.tf AS DOUBLE) *
        |      (CAST(tot.total AS DOUBLE) / CAST(cw.cw AS DOUBLE)) AS inv,
        |    CAST(tf.tf AS DOUBLE) *
        |      ln(CAST(cw.cw AS DOUBLE) / CAST(tot.total AS DOUBLE)) AS lp
        |  FROM tf JOIN cw USING (word) CROSS JOIN tot),
        |d AS (SELECT doc_id,
        |    list(inv ORDER BY word) AS invs,
        |    list(lp ORDER BY word) AS lps,
        |    CAST(SUM(tf) AS BIGINT) AS n_tokens
        |  FROM terms GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  ROUND(list_reduce(invs, (a, b) -> a + b) / n_tokens, 6)
        |    AS mean_inv_freq,
        |  ROUND(list_reduce(lps, (a, b) -> a + b) / n_tokens, 6)
        |    AS mean_logprob
        |FROM d ORDER BY doc_id""".stripMargin),

    // k-means corpus clustering over embeddings: fixed-point Lloyd's,
    // 2 iterations from the k-smallest-id seed — assignments and exact
    // integer distances (see Clustering for the determinism design)
    Gate("q88_kmeans", (s, dir) =>
      Clustering.kmeansAssign(emb(s, dir), "vec_id", "embedding",
        k = 4, iters = 2, scale = 1000)
        .orderBy(col("vec_id")),
    // 2 unrolled Lloyd's iterations in relational form: quantize, explode
    // to (vec, dim, value), join against the centroid matrix per
    // iteration, arg-min by QUALIFY; COALESCE keeps an emptied cluster's
    // previous centroid, exactly like the Spark side
    oracle =
      s"""WITH $kmeansCtes
         |SELECT vec_id, cluster, dist2 FROM a2 ORDER BY vec_id""".stripMargin),

    // q84's fixture through the bloom-pruned path: the batch's digest
    // bloom filters the seen scan before the exchange; result must be
    // bit-identical to the plain anti-join (same oracle shape)
    Gate("q89_dedup_bloom", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val batch = d.unionAll(
        d.filter(col("doc_id") % 5 === 1)
          .select((col("doc_id") + 100000L).as("doc_id"),
            col("source"), col("text")))
      graft.ops.Dedup.dedupAgainstCorpusBloom(batch, "doc_id", "text",
        d.filter(col("doc_id") % 3 === 0), "text",
        expectedBatch = 1000L)
        .orderBy(col("doc_id"))
    },
    // bloom pruning is an exact optimization: the oracle is q84's plain
    // anti-join semantics, blind to the filter
    oracle =
      """WITH batch AS (
        |    SELECT doc_id, source, text FROM documents
        |    UNION ALL
        |    SELECT doc_id + 100000, source, text FROM documents
        |    WHERE doc_id % 5 = 1),
        |  seen AS (SELECT DISTINCT coalesce(text, '') AS t
        |    FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id, source, text FROM batch
        |WHERE coalesce(text, '') NOT IN (SELECT t FROM seen)
        |QUALIFY row_number() OVER (PARTITION BY coalesce(text, '')
        |  ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin),

    // AS-OF JOIN: each click matched to the user's most recent
    // prior-or-simultaneous purchase — union + running-last shape, one
    // shuffle, no nested loop; DuckDB's native ASOF JOIN is the oracle
    Gate("q90_asof_join", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("tus", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("tus"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tus").as("pts"),
          col("event_id").as("pid"), col("value").as("purchase_value"))
      EventAnalytics.asofJoin(clicks, purchases, Seq("user_id"),
          "tus", "pts", valueCols = Seq("purchase_value"),
          matchedTsCol = "purchase_ts", tieCol = Some("pid"))
        .orderBy(col("event_id"))
    },
    // DuckDB's native ASOF JOIN replays the union+running-last plan;
    // ties at identical (user, ts) resolved to the max event_id row,
    // exactly the Spark side's __tie__ ordering
    oracle =
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus,
        |    event_type, value FROM events),
        |c AS (SELECT event_id, user_id, tus, value FROM e
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id, tus AS pts, value AS purchase_value FROM e
        |  WHERE event_type = 'purchase'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, tus
        |    ORDER BY event_id DESC) = 1)
        |SELECT c.event_id, c.user_id, c.tus, c.value,
        |  p.pts AS purchase_ts, p.purchase_value
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.tus >= p.pts
        |ORDER BY c.event_id""".stripMargin),

    // ordered-step funnel view → click → purchase per user: earliest
    // greedy completion times, strictly-increasing timestamps
    Gate("q91_funnel", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("tus", unix_micros(col("ts")))
      EventAnalytics.funnel(ev, "user_id", "tus", "event_type",
          Seq("view", "click", "purchase"))
        .orderBy(col("user_id"))
    },
    // iterated earliest-match CTEs == the greedy funnel semantic
    oracle =
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_type
        |  FROM events),
        |s1 AS (SELECT user_id, MIN(tus) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.tus) AS t2 FROM e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.tus > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.tus) AS t3 FROM e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.tus > s2.t2 GROUP BY 1)
        |SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
        |  CAST(1 + CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END
        |     + CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
        |    AS steps_completed
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin),

    // weekly cohort retention: distinct active users per
    // (first-event week, weeks-since) cell
    Gate("q92_cohort_retention", (s, dir) =>
      EventAnalytics.cohortRetention(
          events(s, dir), "user_id", "ts")
        .orderBy(col("cohort_week"), col("week_offset")),
    oracle =
      """WITH f AS (SELECT user_id, MIN(date_trunc('week', ts)) AS cw
        |  FROM events GROUP BY 1),
        |a AS (SELECT e.user_id,
        |    strftime(CAST(f.cw AS DATE), '%Y-%m-%d') AS cohort_week,
        |    CAST(date_diff('day', CAST(f.cw AS DATE),
        |      CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INTEGER)
        |      AS week_offset
        |  FROM events e JOIN f USING (user_id))
        |SELECT cohort_week, week_offset,
        |  COUNT(DISTINCT user_id) AS n_active
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // content-defined chunking: per-chunk (pos, len, digest) table —
    // Rabin boundaries, insertion-tolerant chunk identity
    Gate("q93_cdc_chunks", (s, dir) =>
      Dedup.cdcChunks(docs(s, dir), "doc_id", "text", w = 16, divisor = 64L)
        .orderBy(col("doc_id"), col("chunk_idx")),
    oracle =
      s"""WITH $cdcChunkCtes
         |SELECT doc_id, chunk_idx, CAST(p0 AS INTEGER) AS chunk_pos,
         |  CAST(p1 - p0 AS INTEGER) AS chunk_len,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), codes[p0+1:p1]),
         |    (a, x) -> (a * 131 + x) % 1000000007) AS digest
         |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin),

    // deterministic ±1 Johnson–Lindenstrauss projection to 16 dims,
    // exact BIGINT arithmetic on the quantized grid
    Gate("q94_random_projection", (s, dir) =>
      Similarity.randomProjection(emb(s, dir), "vec_id", "embedding", 16)
        // gate export: the projected vector leaves as a space-joined
        // string (see stringifyArray); the operator API stays typed
        .withColumn("proj", stringifyArray("proj"))
        .orderBy(col("vec_id")),
    oracle =
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv,
        |    len(embedding) AS d
        |  FROM embeddings)
        |SELECT vec_id, array_to_string(list_transform(range(0, 16), j ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(0, d), i ->
        |        (1 - 2 * ((((1103515245 * (j * d + i) + 12345)
        |          % 2147483648) // 65536) % 2)) * qv[i + 1])),
        |      (a, x) -> a + x)), ' ') AS proj
        |FROM q ORDER BY vec_id""".stripMargin),

    // chunk-level duplication profile: how much of each doc is made of
    // corpus-repeated CDC chunks (skew-safe groupBy+join, q81 shape)
    Gate("q95_cdc_dedup", (s, dir) =>
      Dedup.cdcDedupStats(docs(s, dir), "doc_id", "text", 16, 64L)
        .orderBy(col("doc_id")),
    oracle =
      s"""WITH $cdcChunkCtes,
         |dg AS (SELECT doc_id, CAST(p1 - p0 AS BIGINT) AS chunk_len,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), codes[p0+1:p1]),
         |      (a, x) -> (a * 131 + x) % 1000000007) AS digest
         |  FROM chunks),
         |cnt AS (SELECT digest, COUNT(1) AS n FROM dg GROUP BY 1)
         |SELECT dg.doc_id, COUNT(1) AS n_chunks,
         |  CAST(SUM(CASE WHEN cnt.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_chunks,
         |  CAST(SUM(CASE WHEN cnt.n > 1 THEN dg.chunk_len ELSE 0 END)
         |    AS BIGINT) AS dup_chars,
         |  ROUND(CAST(SUM(CASE WHEN cnt.n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(1), 6) AS dup_ratio
         |FROM dg JOIN cnt USING (digest)
         |GROUP BY dg.doc_id ORDER BY dg.doc_id""".stripMargin),

    // α-temperature domain mixing: per-source tempered shares and the
    // sampling multiplier feeding sampleMixture (α = 0.7)
    Gate("q96_mixture_weights", (s, dir) =>
      Corpus.mixtureWeights(docs(s, dir), "source", "n_chars", 0.7)
        .orderBy(col("source")),
    oracle =
      """WITH per AS (SELECT source, COUNT(1) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |p2 AS (SELECT *, pow(CAST(n_tokens AS DOUBLE), 0.7) AS pw FROM per),
        |tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS t,
        |    SUM(pw) AS pt FROM p2)
        |SELECT source, n_docs, n_tokens,
        |  ROUND(n_tokens / t, 6) AS nat_share,
        |  ROUND(pw / pt, 6) AS alpha_share,
        |  ROUND((pw / pt) / (n_tokens / t), 6) AS multiplier
        |FROM p2 CROSS JOIN tot ORDER BY source""".stripMargin),

    // RANGE (interval) join: clicks inside the hour before each
    // purchase — bucketed equi-join encoding, 10-minute buckets (the
    // naive inequality join would plan as a nested loop)
    Gate("q97_range_join", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("tus", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("tus"))
      val windows = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"),
          (col("tus") - 3600000000L).as("w_start"), col("tus").as("w_end"))
      EventAnalytics.rangeJoin(clicks, windows, Seq("user_id"),
          "tus", "w_start", "w_end", bucket = 600000000L)
        .select(col("event_id"), col("user_id"), col("tus"),
          col("pid"), col("w_start"), col("w_end"))
        .orderBy(col("event_id"), col("pid"))
    },
    oracle =
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus,
        |    event_type FROM events),
        |c AS (SELECT event_id, user_id, tus FROM e
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS pid, tus - 3600000000 AS w_start,
        |    tus AS w_end FROM e WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.tus, p.pid, p.w_start, p.w_end
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND c.tus >= p.w_start AND c.tus < p.w_end
        |ORDER BY c.event_id, p.pid""".stripMargin),

    // inverted index with document-frequency cutoff: word → sorted
    // posting list, stopword-frequency terms never materialize. The
    // cutoff is RELATIVE (78% of the corpus) so it bins the same way at
    // every scale factor; exact integer floor on both engines.
    Gate("q98_inverted_index", (s, dir) => {
      val d = docs(s, dir)
      Corpus.invertedIndex(d, "doc_id", "text",
          maxDf = d.count() * 78L / 100L)
        // gate export: posting list as a space-joined string
        .withColumn("postings", stringifyArray("postings"))
        .orderBy(col("word"))
    },
    oracle =
      """WITH w AS (SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0)) AS word FROM documents),
        |d AS (SELECT DISTINCT doc_id, word FROM w),
        |dfc AS (SELECT word, COUNT(1) AS df FROM d GROUP BY 1
        |  HAVING COUNT(1) <=
        |    (SELECT (COUNT(1) * 78) // 100 FROM documents))
        |SELECT d.word, dfc.df,
        |  array_to_string(list(d.doc_id ORDER BY d.doc_id), ' ')
        |    AS postings
        |FROM d JOIN dfc USING (word)
        |GROUP BY d.word, dfc.df ORDER BY d.word""".stripMargin),

    // Z-order (Morton) clustering value over (user, hour) — the layout
    // key behind two-dimensional min/max file skipping
    Gate("q99_zorder", (s, dir) =>
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          floor(unix_micros(col("ts")) / 3600000000L).cast("long").as("hr"))
        .withColumn("z",
          graft.ops.Layout.zorderValue(col("user_id"), col("hr")))
        .orderBy(col("event_id")),
    oracle = {
      val dz = (0 until 31).map(i =>
        s"((((user_id & 2147483647) >> $i) & 1) << ${2 * i}) + " +
          s"((((hr & 2147483647) >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH e AS (SELECT event_id, user_id,
         |    epoch_us(ts) // 3600000000 AS hr FROM events)
         |SELECT event_id, user_id, hr, $dz AS z
         |FROM e ORDER BY event_id""".stripMargin
    }),

    // SemDeDup: kmeans partition (k=4, 2 iters) then exact cosine only
    // within clusters — the published semantic-dedup recipe; every
    // surviving pair's cosine is oracle-replayed
    Gate("q100_semantic_neardup", (s, dir) =>
      Similarity.clusteredNearDups(emb(s, dir), "vec_id", "embedding",
          k = 4, iters = 2, threshold = 0.2)
        .orderBy(col("id_a"), col("id_b")),
    // SemDeDup (within-cluster pairwise cosine): kmeans partitions, then
    // exact cosine only inside each cluster — the oracle replays the
    // full clustering AND every surviving pair's 64-term dot products
    oracle =
      s"""WITH $kmeansCtes,
         |wc AS (SELECT a2.vec_id, a2.cluster, e.embedding
         |  FROM a2 JOIN embeddings e USING (vec_id)),
         |pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${dcosine("a.embedding", "b.embedding")} AS cos
         |  FROM wc a JOIN wc b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, ROUND(cos, 6) AS cosine FROM pr
         |WHERE cos >= 0.2 AND NOT isnan(cos)
         |ORDER BY id_a, id_b""".stripMargin),

    // count-min heavy hitters: exact top-10 words + the CMS estimate of
    // each, gated by the sketch's one-sided error bound (q30 pattern —
    // the boolean is what the oracle checks)
    Gate("q101_heavy_hitters", (s, dir) =>
      graft.ops.Sketches.heavyHitters(docs(s, dir), "text", topK = 10),
    oracle =
      """WITH w AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0)) AS word FROM documents),
        |c AS (SELECT word, COUNT(1) AS n FROM w GROUP BY 1
        |  ORDER BY n DESC, word ASC LIMIT 10)
        |SELECT word, n, TRUE AS cms_ok FROM c
        |ORDER BY n DESC, word ASC""".stripMargin),

    // sharded HLL distinct: one sketch per event_type shard, union-merged
    // corpus estimate vs the exact distinct user count
    Gate("q102_sharded_distinct", (s, dir) =>
      graft.ops.Sketches.shardedDistinct(
        events(s, dir),
        "user_id", "event_type"),
    oracle =
      """SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_shards,
        |  COUNT(DISTINCT user_id) AS exact, TRUE AS hll_ok
        |FROM events""".stripMargin),

    // one-pass table profile over the documents snapshot: row/null/
    // distinct counts + stringified extrema per column
    Gate("q103_profile", (s, dir) =>
      graft.ops.Profiling.profile(docs(s, dir),
          Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy(col("col_name")),
    oracle = Seq("doc_id", "lang", "source", "n_chars").map(c =>
      s"""SELECT '$c' AS col_name, COUNT(1) AS n_rows,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_null,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_value,
         |  CAST(MAX($c) AS VARCHAR) AS max_value
         |FROM documents""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),

    // deterministic stratified sample: exactly 7 docs per source by
    // content-hash order (uniform, seedless, reproducible) — the cap
    // BINDS (sources hold 25 docs each at sf0.01)
    Gate("q104_stratified_sample", (s, dir) =>
      Corpus.stratifiedSample(
        docs(s, dir).select(col("doc_id"), col("source"), col("text")),
        "source", 7, "text", "doc_id")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id")),
    oracle =
      s"""WITH h AS (SELECT doc_id, source,
         |    ${dpolyhash("coalesce(text, '')")} AS hh FROM documents)
         |SELECT doc_id, source FROM h
         |QUALIFY row_number() OVER (PARTITION BY source
         |  ORDER BY hh, doc_id) <= 7
         |ORDER BY doc_id""".stripMargin),

    // hourly volume anomalies per event type: integer-exact z²-test
    // (no sqrt/division — both engines agree on every boundary bucket)
    Gate("q105_anomalous_hours", (s, dir) =>
      EventAnalytics.anomalousBuckets(
        events(s, dir), "event_type", "ts",
        bucketMicros = 3600000000L, zNum = 2, zDen = 1)
        .orderBy(col("event_type"), col("bucket")),
    oracle =
      s"""WITH $hourlyCountsCte,
        |m AS (SELECT event_type, CAST(COUNT(1) AS HUGEINT) AS m,
        |    CAST(SUM(n) AS HUGEINT) AS s,
        |    CAST(SUM(n * n) AS HUGEINT) AS ss
        |  FROM g GROUP BY 1)
        |SELECT g.event_type, g.bucket, g.n,
        |  (m.m * g.n - m.s) * (m.m * g.n - m.s)
        |    > 4 * (m.m * m.ss - m.s * m.s) AS anomalous
        |FROM g JOIN m USING (event_type)
        |ORDER BY event_type, bucket""".stripMargin),

    // PageRank over the supplier-nation → customer-nation trade graph:
    // 3 exact integer-quantized iterations — bit-identical ranks across
    // engines and cluster layouts
    Gate("q107_pagerank", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val supp = s.read.parquet(s"$dir/supplier.parquet")
      val edges = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(supp, li("l_suppkey") === supp("s_suppkey"))
        .select(supp("s_nationkey").as("src"), cust("c_nationkey").as("dst"))
        .distinct()
      graft.ops.Graph.pageRank(edges, "src", "dst", iters = 3)
        .orderBy(col("node"))
    },
    oracle = {
      // 3 unrolled exact-integer PageRank iterations; `//` is DuckDB
      // floor division ≡ Spark `div` on the non-negative ranks
      def iter(prev: String, out: String): String =
        s"""c$out AS (SELECT e.dst, SUM(r.r // d.od) AS s FROM edges e
           |  JOIN $prev r ON r.id = e.src JOIN deg d ON d.src = e.src
           |  GROUP BY 1),
           |$out AS (SELECT n.id,
           |    CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN c$out c ON c.dst = n.id)""".stripMargin
      s"""WITH edges AS (SELECT DISTINCT s.s_nationkey AS src,
         |    c.c_nationkey AS dst
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey),
         |nodes AS (SELECT src AS id FROM edges
         |  UNION SELECT dst FROM edges),
         |deg AS (SELECT src, COUNT(1) AS od FROM edges GROUP BY 1),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")}
         |SELECT id AS node, r AS rank_micros FROM r3
         |ORDER BY node""".stripMargin
    }),

    // manifest-pruned read over a z-ordered layout: write 16 z-clustered
    // files, build the per-file min/max manifest, prune to the files whose
    // boxes overlap a (user, hour) rectangle, scan only those + exact
    // filter — result ≡ plain filter over the full table (the oracle)
    Gate("q108_prune_read", (s, dir) => {
      val path =
        java.nio.file.Files.createTempDirectory("graft_zorder").toString
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"),
          floor(unix_micros(col("ts")) / 3600000000L).cast("long").as("hr"))
      graft.ops.Layout.zorderWrite(ev, "user_id", "hr", path, nFiles = 16)
      val mf = graft.ops.Layout.manifest(s, path, Seq("user_id", "hr"))
      graft.ops.Layout.prunedRead(s, path, mf,
          Map("user_id" -> (3L, 9L), "hr" -> (473400L, 473519L)))
        .select(col("event_id"), col("user_id"), col("hr"))
        .orderBy(col("event_id"))
    },
    oracle =
      """WITH e AS (SELECT event_id, user_id,
        |    epoch_us(ts) // 3600000000 AS hr FROM events)
        |SELECT event_id, user_id, hr FROM e
        |WHERE user_id BETWEEN 3 AND 9
        |  AND hr BETWEEN 473400 AND 473519
        |ORDER BY event_id""".stripMargin),

    // unicode-normalized exact dedup: synthesized UPPERCASE and
    // whitespace-padded copies of every doc collapse onto the original's
    // normalized key (3 copies per distinct text)
    Gate("q109_normalize_dedup", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val variants = d
        .union(d.select(col("doc_id") + 100000L, upper(col("text"))))
        .union(d.select(col("doc_id") + 200000L,
          concat(lit("  "), regexp_replace(col("text"), " ", "   "))))
      variants
        .withColumn("norm", TextAnalysis.normalizeText(col("text")))
        .groupBy(col("norm"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
        .orderBy(col("doc_id"))
    },
    oracle =
      """WITH d AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, upper(text) FROM documents
        |  UNION ALL SELECT doc_id + 200000,
        |    '  ' || replace(text, ' ', '   ') FROM documents),
        |k AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM d)
        |SELECT MIN(doc_id) AS doc_id, COUNT(1) AS n_copies
        |FROM k GROUP BY norm ORDER BY doc_id""".stripMargin),

    // percentile-threshold filtering: per source, keep docs at/above the
    // 0.8 length quantile — the relative quality cutoff
    Gate("q111_quantile_filter", (s, dir) =>
      Corpus.filterByQuantile(
        docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        "source", "n_chars", 0.8)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id")),
    oracle =
      """WITH th AS (SELECT source,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.8) AS t
        |  FROM documents GROUP BY 1)
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d JOIN th USING (source)
        |WHERE CAST(d.n_chars AS DOUBLE) >= th.t
        |ORDER BY doc_id""".stripMargin),

    // prequential (online) anomaly flags: bucket k judged against the
    // moments of buckets 1..k only — the semantics the streaming twin
    // computes; same integer-exact z² test
    Gate("q113_anomaly_prequential", (s, dir) =>
      EventAnalytics.anomalousBucketsPrequential(
        events(s, dir), "event_type", "ts",
        zNum = 2, zDen = 1)
        .orderBy(col("event_type"), col("bucket")),
    oracle =
      s"""WITH $hourlyCountsCte,
        |c AS (SELECT event_type, bucket, n,
        |    CAST(COUNT(1) OVER w AS HUGEINT) AS m,
        |    CAST(SUM(n) OVER w AS HUGEINT) AS s,
        |    CAST(SUM(n * n) OVER w AS HUGEINT) AS ss
        |  FROM g WINDOW w AS (PARTITION BY event_type ORDER BY bucket
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT event_type, bucket, n,
        |  (m * n - s) * (m * n - s) > 4 * (m * ss - s * s) AS anomalous
        |FROM c ORDER BY event_type, bucket""".stripMargin),

    // URL extraction → canonicalization → per-host stats: two injected
    // URLs per doc (a per-source host with www/query/fragment/slash
    // noise, and one shared tracker host); canonical dedup collapses the
    // noise, host grouping counts the crawl's per-domain footprint
    Gate("q114_url_stats", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val withUrls = d.withColumn("text", concat(col("text"),
        lit(" https://www."), upper(col("source")), lit(".example.com/P"),
        col("doc_id").cast("string"), lit("/?utm=x#frag"),
        lit(" http://Tracker.net/p/"), col("doc_id").cast("string")))
      withUrls
        .select(col("doc_id"),
          explode(TextAnalysis.extractUrls(col("text"))).as("url"))
        .select(col("doc_id"), TextAnalysis.urlHost(col("url")).as("host"),
          TextAnalysis.canonicalizeUrl(col("url")).as("canon"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("doc_id")).as("n_docs"),
          countDistinct(col("canon")).as("n_canonical"))
        .orderBy(col("host"))
    },
    oracle =
      """WITH d AS (SELECT doc_id, text || ' https://www.' || upper(source)
        |    || '.example.com/P' || CAST(doc_id AS VARCHAR) || '/?utm=x#frag'
        |    || ' http://Tracker.net/p/' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents),
        |u AS (SELECT doc_id,
        |    unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
        |  FROM d),
        |c AS (SELECT doc_id,
        |    lower(regexp_extract(url,
        |      '^https?://(?:www\.)?([^/?#]+)', 1)) AS host,
        |    lower(regexp_extract(url,
        |      '^https?://(?:www\.)?([^/?#]+)', 1)) ||
        |    rtrim(regexp_extract(url,
        |      '^https?://[^/?#]+([^?#]*)', 1), '/') AS canon
        |  FROM u)
        |SELECT host, COUNT(1) AS n_urls,
        |  COUNT(DISTINCT doc_id) AS n_docs,
        |  COUNT(DISTINCT canon) AS n_canonical
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),

    // gap-filled per-type hourly grid: every bucket in each type's
    // observed span, zero-filled (215 silent hours at sf0.01 — the
    // zero-fill BINDS)
    Gate("q115_densify", (s, dir) =>
      EventAnalytics.densify(
        events(s, dir), "event_type", "ts")
        .orderBy(col("event_type"), col("bucket")),
    oracle =
      s"""WITH $hourlyCountsCte,
        |s AS (SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
        |  FROM g GROUP BY 1),
        |d AS (SELECT event_type, unnest(generate_series(lo, hi)) AS bucket
        |  FROM s)
        |SELECT d.event_type, d.bucket, COALESCE(g.n, 0) AS n
        |FROM d LEFT JOIN g USING (event_type, bucket)
        |ORDER BY event_type, bucket""".stripMargin),

    // corpus tokenization to vocabulary ids: top-50 words → ids 1..50 by
    // rank (count desc, word asc — deterministic), OOV → 0; the literal
    // vocab map keeps tokenization per-row and shuffle-free
    Gate("q116_tokenize", (s, dir) =>
      Corpus.tokenizeToIds(docs(s, dir), "doc_id", "text", vocabSize = 50)
        // gate export: token-id sequence as a space-joined string
        .withColumn("token_ids", stringifyArray("token_ids"))
        .orderBy(col("doc_id")),
    oracle =
      """WITH toks AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[^\s]+') AS ts
        |  FROM documents),
        |w AS (SELECT unnest(ts) AS word FROM toks),
        |v AS (SELECT word,
        |    row_number() OVER (ORDER BY COUNT(1) DESC, word) AS id
        |  FROM w GROUP BY word
        |  ORDER BY COUNT(1) DESC, word LIMIT 50),
        |e AS (SELECT doc_id, unnest(ts) AS word,
        |    generate_subscripts(ts, 1) AS ord FROM toks),
        |r AS (SELECT e.doc_id,
        |    list(COALESCE(v.id, 0) ORDER BY e.ord) AS tids
        |  FROM e LEFT JOIN v USING (word) GROUP BY 1)
        |SELECT t.doc_id,
        |  array_to_string(COALESCE(r.tids, CAST([] AS BIGINT[])), ' ')
        |    AS token_ids
        |FROM toks t LEFT JOIN r USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // edit-distance-≤1 fuzzy key join via deletion neighborhoods:
    // injected one-char-prefixed variants of synthetic product-code keys
    // meet their originals in the variant equi-join; exact levenshtein
    // verifies (candidate completeness is a theorem, not a heuristic)
    Gate("q117_fuzzy_join", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"))
      val keys = d.select(col("doc_id"),
          concat(col("source"), lit("-"),
            col("doc_id").cast("string")).as("key"))
        .union(d.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id") + 300000L,
            concat(lit("x"), col("source"), lit("-"),
              col("doc_id").cast("string"))))
      graft.ops.Fuzzy.fuzzyPairs(keys, "doc_id", "key")
        .orderBy(col("id_a"), col("id_b"))
    },
    oracle =
      """WITH k AS (SELECT doc_id,
        |    source || '-' || CAST(doc_id AS VARCHAR) AS key
        |  FROM documents
        |  UNION ALL SELECT doc_id + 300000,
        |    'x' || source || '-' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id % 5 = 0),
        |n AS (SELECT doc_id, key, unnest(list_distinct(list_prepend(key,
        |    list_transform(range(1, len(key) + 1),
        |      i -> substr(key, 1, i - 1) || substr(key, i + 1, len(key))))))
        |    AS variant
        |  FROM k)
        |SELECT DISTINCT a.doc_id AS id_a, a.key AS key_a,
        |  b.doc_id AS id_b, b.key AS key_b,
        |  CAST(levenshtein(a.key, b.key) AS INTEGER) AS dist
        |FROM n a JOIN n b USING (variant)
        |WHERE a.doc_id < b.doc_id AND levenshtein(a.key, b.key) <= 1
        |ORDER BY id_a, id_b""".stripMargin),

    // asymmetric shingle containment: 6-word excerpts of every 10th doc
    // are fully contained in their parents (Jaccard ≈ 0 — the signal
    // banded MinHash structurally misses); df-cutoff prunes boilerplate
    // shingles BEFORE the self-join, integer-exact threshold
    Gate("q118_containment", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val withExcerpts = d.union(
        d.filter(col("doc_id") % 10 === 0).select(col("doc_id") + 400000L,
          array_join(slice(split(col("text"), "\\s+"), 1, 6), " ")))
      graft.ops.Fuzzy.containmentPairs(withExcerpts, "doc_id", "text",
          shingleK = 3, maxDf = 20L, pctMin = 80)
        .orderBy(col("id_a"), col("id_b"))
    },
    oracle = {
      s"""WITH d AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 400000,
         |    array_to_string(regexp_split_to_array(text, '\\s+')[1:6], ' ')
         |  FROM documents WHERE doc_id % 10 = 0),
         |sh AS (SELECT doc_id,
         |    unnest(list_distinct(${dshingleHashesK("text", 3)})) AS h
         |  FROM d),
         |rare AS (SELECT h FROM sh GROUP BY h HAVING COUNT(1) <= 20),
         |pr AS (SELECT sh.doc_id, sh.h FROM sh JOIN rare USING (h)),
         |sz AS (SELECT doc_id, COUNT(1) AS n FROM pr GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    COUNT(1) AS inter
         |  FROM pr a JOIN pr b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, inter, sa.n AS n_a, sb.n AS n_b,
         |  TRUE AS contained
         |FROM pairs
         |JOIN sz sa ON sa.doc_id = id_a
         |JOIN sz sb ON sb.doc_id = id_b
         |WHERE inter * 100 >= LEAST(sa.n, sb.n) * 80
         |ORDER BY id_a, id_b""".stripMargin
    }),

    // bigram LM count table: top-50 bigrams with exact (n_gram,
    // n_prefix) integer pairs — conditional probability without float
    // division; counts merge associatively across shards
    Gate("q119_bigram_lm", (s, dir) =>
      Corpus.ngramLmCounts(docs(s, dir), "text", n = 2, topK = 50),
    oracle =
      """WITH toksf AS (SELECT list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |e AS (SELECT ts[i] || ' ' || ts[i + 1] AS gram, ts[i] AS prefix
        |  FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM toksf)),
        |grams AS (SELECT gram, COUNT(1) AS n_gram FROM e GROUP BY 1),
        |prefixes AS (SELECT prefix, COUNT(1) AS n_prefix FROM e GROUP BY 1)
        |SELECT g.gram, split_part(g.gram, ' ', 1) AS prefix,
        |  g.n_gram, p.n_prefix
        |FROM grams g JOIN prefixes p ON split_part(g.gram, ' ', 1) = p.prefix
        |ORDER BY n_gram DESC, gram LIMIT 50""".stripMargin),

    // per-source percent_rank length normalization: ties share a rank
    // (identical docs must normalize identically)
    Gate("q120_rank_normalize", (s, dir) =>
      Corpus.rankNormalize(
        docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        "source", "n_chars")
        .orderBy(col("doc_id")),
    oracle =
      """SELECT doc_id, source, n_chars,
        |  percent_rank() OVER (PARTITION BY source ORDER BY n_chars)
        |    AS pct_rank
        |FROM documents ORDER BY doc_id""".stripMargin),

    // BM25 top-20 for a 3-term query: ln-free rational idf keeps the
    // score pure IEEE +,-,*,/ (hash-comparable); one single-row stats
    // broadcast, no postings shuffle
    Gate("q121_bm25", (s, dir) =>
      Corpus.bm25TopK(docs(s, dir), "doc_id", "text",
        Seq("join", "vector", "scan"), topK = 20),
    oracle = {
      val terms = Seq("join", "vector", "scan")
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(toks, w -> w = '$t')) AS DOUBLE) AS tf$i"
      }.mkString(",\n    ")
      val dfCols = terms.indices.map(i =>
        s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
        .mkString(",\n    ")
      // EXACT parenthesization of the Spark fold: ((0.0 + t0) + t1) + t2,
      // each term ((idf * (tf * 2.5)) / (tf + 1.5*(0.25 + 0.75*(dl/avgdl))))
      val score = terms.indices.foldLeft("0.0") { (acc, i) =>
        s"($acc + ((((n - df$i + 0.5) / (df$i + 0.5)) * (tf$i * 2.5)) / " +
          s"(tf$i + 1.5 * (0.25 + 0.75 * (dl / avgdl)))))"
      }
      s"""WITH t AS (SELECT doc_id,
         |    regexp_extract_all(lower(text), '[^\\s]+') AS toks
         |  FROM documents),
         |d AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
         |    $tfCols
         |  FROM t),
         |s AS (SELECT CAST(COUNT(1) AS DOUBLE) AS n, SUM(dl) AS sumdl,
         |    $dfCols
         |  FROM d),
         |sc AS (SELECT d.doc_id, d.dl, s.n, s.sumdl / s.n AS avgdl,
         |    ${terms.indices.map(i => s"d.tf$i, s.df$i").mkString(", ")}
         |  FROM d CROSS JOIN s)
         |SELECT doc_id, CAST(dl AS BIGINT) AS dl, $score AS score,
         |  CAST(ROW_NUMBER() OVER (ORDER BY $score DESC, doc_id ASC)
         |    AS INTEGER) AS rank
         |FROM sc
         |QUALIFY rank <= 20 ORDER BY rank""".stripMargin
    }),

    // deterministic weighted priority sample: 5 docs per source, weight
    // n_chars — polyhash(id)/weight priority, reproducible across runs
    // and engines (no seed, no pow)
    Gate("q122_weighted_sample", (s, dir) =>
      Corpus.weightedSample(
        docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        "source", "n_chars", "doc_id", k = 5)
        .orderBy(col("doc_id")),
    oracle =
      s"""WITH h AS (SELECT doc_id, source, n_chars,
         |    CAST(${dpolyhash("CAST(doc_id AS VARCHAR)")} AS DOUBLE) /
         |      CAST(n_chars AS DOUBLE) AS prio
         |  FROM documents)
         |SELECT doc_id, source, n_chars FROM h
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY source
         |  ORDER BY prio ASC, doc_id ASC) <= 5
         |ORDER BY doc_id""".stripMargin),

    // sliding-window RAG chunking: 24-token windows advancing by 16
    // (overlap 8); the short final window BINDS on most docs
    Gate("q123_chunk", (s, dir) =>
      Corpus.chunkDocuments(docs(s, dir).filter(col("doc_id") < 50),
        "doc_id", "text", window = 24, stride = 16)
        .orderBy(col("doc_id"), col("chunk_idx")),
    oracle =
      """WITH t AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[^\s]+') AS toks
        |  FROM documents WHERE doc_id < 50),
        |n AS (SELECT doc_id, toks,
        |    CASE WHEN len(toks) <= 24 THEN 1
        |      ELSE CAST(floor((len(toks) - 24 + 15) / 16) AS INTEGER) + 1
        |    END AS nc
        |  FROM t),
        |c AS (SELECT doc_id, toks, unnest(range(0, nc)) AS ci FROM n),
        |x AS (SELECT doc_id, ci,
        |    toks[ci * 16 + 1 : ci * 16 + 24] AS chunk
        |  FROM c)
        |SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
        |  CAST(ci * 16 AS BIGINT) AS start,
        |  CAST(len(chunk) AS BIGINT) AS n_tokens,
        |  array_to_string(chunk, ' ') AS chunk_text
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin),

    // incremental pre-agg maintenance: base aggregate (ts < Jan 16) +
    // signed CDC delta (inserts after the cut; retractions of the %11
    // inserts and of the %13 base facts) must EQUAL the from-scratch
    // recompute the oracle runs — integer counts + milli-scaled sums,
    // only the delta is scanned on the Spark side's refresh path
    Gate("q124_incremental_preagg", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("user_bucket", pmod(col("user_id"), lit(10L)))
        .withColumn("vmil",
          floor(col("value") * 1000 + 0.5).cast("long"))
      val t0 = lit("2024-01-16 00:00:00").cast("timestamp")
      val keys = Seq("event_type", "user_bucket")
      val base = Incremental.aggregateSigned(
        ev.filter(col("ts") < t0).withColumn("sign", lit(1L)),
        keys, "sign", Seq("vmil"))
      val delta = ev.filter(col("ts") >= t0).withColumn("sign", lit(1L))
        .unionByName(
          ev.filter(col("ts") >= t0 && col("event_id") % 11 === 0)
            .withColumn("sign", lit(-1L)))
        .unionByName(
          ev.filter(col("ts") < t0 && col("event_id") % 13 === 0)
            .withColumn("sign", lit(-1L)))
      Incremental.merge(base,
        Incremental.aggregateSigned(delta, keys, "sign", Seq("vmil")), keys)
        .orderBy(col("event_type"), col("user_bucket"))
    },
    oracle =
      """SELECT event_type, user_id % 10 AS user_bucket,
        |  CAST(COUNT(1) AS BIGINT) AS n,
        |  CAST(SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS vmil_sum
        |FROM events
        |WHERE (ts < TIMESTAMP '2024-01-16 00:00:00' AND event_id % 13 <> 0)
        |   OR (ts >= TIMESTAMP '2024-01-16 00:00:00' AND event_id % 11 <> 0)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // contrastive hard negatives: per anchor, top-3 by cosine INSIDE the
    // band [0.125, 0.25) — informative negatives below the near-dup zone
    Gate("q125_hard_negatives", (s, dir) => {
      val e = emb(s, dir)
      Similarity.hardNegatives(e.filter(col("vec_id") < 8), e,
        "vec_id", "embedding", k = 3, lo = 0.125, hi = 0.25)
        .orderBy(col("query_id"), col("rank"))
    },
    oracle =
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 8),
         |scored AS (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ${dcosine("q.qv", "c.embedding")} AS cos_raw
         |  FROM q, embeddings c WHERE q.query_id <> c.vec_id),
         |band AS (SELECT * FROM scored
         |  WHERE cos_raw >= 0.125 AND cos_raw < 0.25),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos_raw,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos_raw DESC, neighbor_id) AS rank
         |  FROM band)
         |SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
         |  CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin),

    // gaps-and-islands interval coalescing: 30-min visit intervals per
    // user merged into maximal disjoint sessions (touching merges)
    Gate("q126_interval_merge", (s, dir) => {
      val iv = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("s"),
          (unix_micros(col("ts")) + 1800000000L).as("e"))
      EventAnalytics.coalesceIntervals(iv, Seq("user_id"), "s", "e")
        .orderBy(col("user_id"), col("island"))
    },
    oracle =
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 1800000000 AS e FROM events),
        |f AS (SELECT user_id, s, e,
        |    CASE WHEN s <= MAX(e) OVER (PARTITION BY user_id
        |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING) THEN 0 ELSE 1 END AS ni
        |  FROM iv),
        |g AS (SELECT user_id, s, e,
        |    SUM(ni) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM f)
        |SELECT user_id, CAST(island AS BIGINT) AS island,
        |  MIN(s) AS island_start, MAX(e) AS island_end,
        |  COUNT(1) AS n_merged
        |FROM g GROUP BY 1, 2 ORDER BY user_id, island""".stripMargin),

    // per-user EWMA of event value (α=0.25, first-value seed): fixed
    // left-to-right fold over the time-sorted history — bit-identical
    // doubles in both engines
    Gate("q127_ewma", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"), col("value"))
      EventAnalytics.ewma(ev, "user_id", "tus", "event_id", "value",
          alpha = 0.25)
        .orderBy(col("user_id"))
    },
    oracle =
      """WITH h AS (SELECT user_id,
        |    list(struct_pack(ts := epoch_us(ts), id := event_id,
        |      v := value) ORDER BY epoch_us(ts), event_id) AS hh,
        |    COUNT(1) AS n_events
        |  FROM events GROUP BY 1)
        |SELECT user_id, n_events, hh[-1].ts AS last_ts,
        |  list_reduce(
        |    list_prepend(hh[1].v, list_transform(hh[2:], x -> x.v)),
        |    (a, v) -> a * 0.75 + v * 0.25) AS ewma
        |FROM h ORDER BY user_id""".stripMargin),

    // last-touch attribution: purchases credited to the latest preceding
    // view/click of the same user (asof composition); integer
    // milli-value sums so totals are hash-exact
    Gate("q128_attribution", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"), col("event_type"),
          floor(col("value") * 1000 + 0.5).cast("long").as("vmil"))
      EventAnalytics.attribution(ev, "user_id", "tus", "event_id",
          "event_type", "vmil", convType = "purchase",
          touchTypes = Seq("view", "click"))
        .orderBy(col("touch_type"))
    },
    // last-touch attribution: DuckDB ASOF with the q90 tie discipline
    oracle =
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    event_type,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vmil
        |  FROM events),
        |c AS (SELECT user_id, tus, vmil FROM e
        |  WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, tus AS tts, event_type AS touch_type
        |  FROM e WHERE event_type IN ('view', 'click')
        |  QUALIFY row_number() OVER (PARTITION BY user_id, tus
        |    ORDER BY event_id DESC) = 1)
        |SELECT COALESCE(t.touch_type, '(none)') AS touch_type,
        |  COUNT(1) AS n_conversions,
        |  CAST(SUM(c.vmil) AS BIGINT) AS value_sum
        |FROM c ASOF LEFT JOIN t
        |  ON c.user_id = t.user_id AND c.tus >= t.tts
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // bucketed co-located join: lineitem + orders pre-bucketed on the
    // order key (shuffle paid once at WRITE time), joined with zero
    // exchange — revenue per order priority; oracle is the plain join
    // (layout is invisible to semantics, which is the claim)
    Gate("q129_bucket_join", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(22,4)").as("rev"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderpriority"))
      graft.ops.Layout.bucketWrite(li, "l_orderkey", 8,
        "graft_bkt_lineitem")
      graft.ops.Layout.bucketWrite(ord, "o_orderkey", 8,
        "graft_bkt_orders")
      s.table("graft_bkt_lineitem")
        .join(s.table("graft_bkt_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("rev")).cast("double").as("revenue"))
        .orderBy(col("o_orderpriority"))
    },
    // layout is invisible to semantics: the oracle is the PLAIN join
    oracle =
      """SELECT o_orderpriority, COUNT(1) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(22,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // per-source winsorization of n_chars into the [p10, p90] band:
    // row-preserving outlier treatment (the filter's sibling)
    Gate("q130_winsorize", (s, dir) =>
      Corpus.winsorize(
        docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        "source", "n_chars", loQ = 0.1, hiQ = 0.9)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("band_lo"), col("band_hi"), col("n_chars_w"))
        .orderBy(col("doc_id")),
    oracle =
      """WITH th AS (SELECT source,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.1) AS band_lo,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.9) AS band_hi
        |  FROM documents GROUP BY 1)
        |SELECT d.doc_id, d.source, d.n_chars, th.band_lo, th.band_hi,
        |  LEAST(GREATEST(CAST(d.n_chars AS DOUBLE), th.band_lo),
        |    th.band_hi) AS n_chars_w
        |FROM documents d JOIN th USING (source)
        |ORDER BY d.doc_id""".stripMargin),

    // per-node triangle counts on the part↔supplier co-trade graph
    // (both endpoints folded into one 50-node id space so triangles
    // exist): degree-oriented wedge join, never the naive Σdeg² explode
    Gate("q131_triangles", (s, dir) => {
      val e = s.read.parquet(s"$dir/lineitem.parquet")
        .select(pmod(col("l_partkey"), lit(50L)).as("a"),
          pmod(col("l_suppkey"), lit(50L)).as("b"))
      graft.ops.Graph.triangleCounts(e, "a", "b")
        .orderBy(col("node"))
    },
    oracle =
      """WITH raw AS (SELECT l_partkey % 50 AS a, l_suppkey % 50 AS b
        |  FROM lineitem WHERE l_partkey % 50 <> l_suppkey % 50),
        |und AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        |  FROM raw),
        |deg AS (SELECT n, COUNT(1) AS d FROM (
        |    SELECT u AS n FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY 1),
        |ori AS (SELECT
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
        |      THEN u ELSE v END AS s,
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
        |      THEN v ELSE u END AS t
        |  FROM und JOIN deg du ON du.n = u JOIN deg dv ON dv.n = v),
        |wedge AS (SELECT w1.s, w1.t AS x, w2.t AS y
        |  FROM ori w1 JOIN ori w2 ON w1.s = w2.s AND w1.t < w2.t),
        |tri AS (SELECT s, x, y FROM wedge
        |  JOIN und ON und.u = x AND und.v = y)
        |SELECT node, COUNT(1) AS n_triangles FROM (
        |  SELECT s AS node FROM tri
        |  UNION ALL SELECT x FROM tri UNION ALL SELECT y FROM tri)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // first-order Markov transitions over each user's event-type
    // sequence: exact (n_trans, n_from) integer pairs — P(to|from)
    // without float division (the LM-counts discipline)
    Gate("q132_markov", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"), col("event_type"))
      EventAnalytics.markovTransitions(ev, "user_id", "tus",
          "event_id", "event_type")
        .orderBy(col("from_state"), col("to_state"))
    },
    oracle =
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    event_type FROM events),
        |p AS (SELECT
        |    LAG(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY tus, event_id) AS from_state,
        |    event_type AS to_state
        |  FROM e QUALIFY from_state IS NOT NULL),
        |t AS (SELECT from_state, to_state, COUNT(1) AS n_trans
        |  FROM p GROUP BY 1, 2),
        |f AS (SELECT from_state, COUNT(1) AS n_from FROM p GROUP BY 1)
        |SELECT t.from_state, t.to_state, t.n_trans, f.n_from
        |FROM t JOIN f USING (from_state)
        |ORDER BY from_state, to_state""".stripMargin),

    // snapshot diff by content digest: every 13th doc removed, every
    // 7th changed, 20 added — added/removed/changed/unchanged exact
    Gate("q133_snapshot_diff", (s, dir) => {
      val dig = graft.functions.NativeHashes.poly_hash(col("text"))
      val old = docs(s, dir).select(col("doc_id"), dig.as("digest"))
      val neu = docs(s, dir)
        .filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit("!")))
            .otherwise(col("text")))
        .select(col("doc_id"), dig.as("digest"))
        .union(docs(s, dir).filter(col("doc_id") < 20)
          .select((col("doc_id") + 500000L).as("doc_id"),
            dig.as("digest")))
      graft.ops.Incremental.snapshotDiff(old, neu, "doc_id", "digest")
        .orderBy(col("doc_id"))
    },
    oracle = {
      val dig = dpolyhash("text")
      s"""WITH old AS (SELECT doc_id, $dig AS od FROM documents),
         |neu AS (
         |  SELECT doc_id, ${dpolyhash(
            "CASE WHEN doc_id % 7 = 0 THEN text || '!' ELSE text END")} AS nd
         |  FROM documents WHERE doc_id % 13 <> 0
         |  UNION ALL
         |  SELECT doc_id + 500000, $dig FROM documents WHERE doc_id < 20)
         |SELECT COALESCE(old.doc_id, neu.doc_id) AS doc_id,
         |  CASE WHEN old.doc_id IS NULL THEN 'added'
         |       WHEN neu.doc_id IS NULL THEN 'removed'
         |       WHEN od = nd THEN 'unchanged'
         |       ELSE 'changed' END AS status,
         |  od AS old_digest, nd AS new_digest
         |FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id
         |ORDER BY doc_id""".stripMargin
    }),

    // per-source equi-depth quintiles of n_chars (ANSI ntile fill,
    // id tie-break): the quantile-adaptive twin of the q110 histogram
    Gate("q134_binning", (s, dir) =>
      graft.ops.Profiling.equiDepthBins(
        docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        "source", "n_chars", "doc_id", nBins = 5)
        .orderBy(col("doc_id")),
    oracle =
      """SELECT doc_id, source, n_chars,
        |  CAST(NTILE(5) OVER (PARTITION BY source
        |    ORDER BY n_chars, doc_id) AS INTEGER) AS bin
        |FROM documents ORDER BY doc_id""".stripMargin),

    // SCD2 validity intervals from each user's event-type change stream:
    // no-op updates collapse, eff_to = next change (null while current)
    Gate("q135_scd2", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"), col("event_type"))
      graft.ops.Incremental.scd2(ev, "user_id", "tus", "event_id",
          "event_type")
        .orderBy(col("user_id"), col("version"))
    },
    oracle =
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    event_type FROM events),
        |c AS (SELECT user_id, event_type, tus, event_id FROM (
        |    SELECT *, LAG(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY tus, event_id) AS prev FROM e)
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, tus AS eff_from,
        |  LEAD(tus, 1) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id) AS eff_to,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id) AS BIGINT) AS version
        |FROM c ORDER BY user_id, version""".stripMargin),

    // per-user linear trend of event value over the hour index: OLS
    // slope carried as the exact integer rational
    // (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) — one mergeable-moments pass,
    // no float division, rising verdict bit-identical across engines
    Gate("q136_trend", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"),
          (expr("unix_micros(ts) div 3600000000") - 473000L).as("x"),
          floor(col("value") * 1000 + 0.5).cast("long").as("y"))
      EventAnalytics.trend(ev, "user_id", "x", "y")
        // gate export: the exact rational rides the plan as
        // decimal(38,0); at sf0.1 the values fit BIGINT, and exporting
        // them as such avoids the DuckDB-HUGEINT→pandas-float64
        // rendering mismatch in the driver's hash compare
        .withColumn("slope_num", col("slope_num").cast("long"))
        .withColumn("slope_den", col("slope_den").cast("long"))
        .orderBy(col("user_id"))
    },
    oracle =
      """WITH e AS (SELECT user_id,
        |    epoch_us(ts) // 3600000000 - 473000 AS x,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS y FROM events),
        |s AS (SELECT user_id, CAST(COUNT(1) AS HUGEINT) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM e GROUP BY 1)
        |SELECT user_id, CAST(n AS BIGINT) AS n,
        |  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
        |  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |       ELSE n * sxy - sx * sy > 0 END AS rising
        |FROM s ORDER BY user_id""".stripMargin),

    // event-type mix drift between two shards (even vs odd event ids,
    // with 1/5 of the odd shard's views dropped to fake a broken feed):
    // two-proportion test via integer cross-multiplication at t = 2% —
    // 'view' flags, the rebalanced others stay under threshold
    Gate("q137_category_drift", (s, dir) => {
      val ev = events(s, dir)
      val old = ev.filter(col("event_id") % 2 === 0)
      val neu = ev.filter(col("event_id") % 2 === 1 &&
        !(col("event_type") === "view" && col("event_id") % 10 === 1))
      graft.ops.Profiling.categoryDrift(old, neu, "event_type", 2, 100)
        .select(col("category"), col("n_old"), col("n_new"),
          col("drift"))
        .orderBy(col("category"))
    },
    oracle =
      """WITH old AS (SELECT event_type, COUNT(1) AS n_old FROM events
        |  WHERE event_id % 2 = 0 GROUP BY 1),
        |neu AS (SELECT event_type, COUNT(1) AS n_new FROM events
        |  WHERE event_id % 2 = 1
        |    AND NOT (event_type = 'view' AND event_id % 10 = 1)
        |  GROUP BY 1),
        |t1 AS (SELECT CAST(COUNT(1) AS HUGEINT) AS n1 FROM events
        |  WHERE event_id % 2 = 0),
        |t2 AS (SELECT CAST(COUNT(1) AS HUGEINT) AS n2 FROM events
        |  WHERE event_id % 2 = 1
        |    AND NOT (event_type = 'view' AND event_id % 10 = 1))
        |SELECT event_type AS category,
        |  COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new,
        |  abs(COALESCE(n_old, 0) * n2 - COALESCE(n_new, 0) * n1) * 100
        |    > n1 * n2 * 2 AS drift
        |FROM old FULL OUTER JOIN neu USING (event_type)
        |CROSS JOIN t1 CROSS JOIN t2
        |ORDER BY category""".stripMargin),

    // debounce: collapse each user's event bursts (gap <= 4h chains) to
    // their first event — gaps-and-islands flags, then the skew-safe
    // min(struct) keep-first per burst
    Gate("q138_debounce", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"))
      EventAnalytics.debounce(ev, "user_id", "tus", "event_id",
          cooldownUs = 14400000000L)
        .orderBy(col("user_id"), col("burst"))
    },
    oracle =
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id
        |  FROM events),
        |f AS (SELECT user_id, tus, event_id,
        |    CASE WHEN LAG(tus, 1) OVER w IS NULL
        |         OR tus - LAG(tus, 1) OVER w > 14400000000
        |      THEN 1 ELSE 0 END AS nb
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |g AS (SELECT user_id, tus, event_id,
        |    SUM(nb) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS UNBOUNDED PRECEDING) AS burst
        |  FROM f)
        |SELECT user_id, CAST(burst AS BIGINT) AS burst,
        |  tus AS first_ts, event_id AS first_id,
        |  COUNT(1) OVER (PARTITION BY user_id, burst) AS n_events
        |FROM g
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, burst
        |  ORDER BY tus, event_id) = 1
        |ORDER BY user_id, burst""".stripMargin),

    // order-independent mergeable dataset fingerprint per source shard
    // (count, xor, sum-mod of row digests) + the corpus total computed
    // FROM the shard rows — the add-summaries versioning path
    Gate("q139_fingerprint", (s, dir) =>
      graft.ops.Incremental.datasetFingerprint(docs(s, dir), "source",
          "doc_id", "text")
        .orderBy(col("shard")),
    oracle = {
      val h = dpolyhash("CAST(doc_id AS VARCHAR) || '|' || text")
      s"""WITH h AS (SELECT source AS shard, $h AS h FROM documents),
         |s AS (SELECT shard, COUNT(1) AS n_rows,
         |    bit_xor(h) AS xor_digest,
         |    CAST(SUM(CAST(h AS HUGEINT)) % 1000000007 AS BIGINT)
         |      AS sum_digest
         |  FROM h GROUP BY 1),
         |t AS (SELECT '(total)' AS shard,
         |    CAST(SUM(n_rows) AS BIGINT) AS n_rows,
         |    bit_xor(xor_digest) AS xor_digest,
         |    CAST(SUM(CAST(sum_digest AS HUGEINT)) % 1000000007
         |      AS BIGINT) AS sum_digest
         |  FROM s)
         |SELECT * FROM s UNION ALL SELECT * FROM t
         |ORDER BY shard""".stripMargin
    }),

    // hybrid-search reciprocal-rank fusion: BM25 top-20 (3 terms) merged
    // with dense cosine top-20 (query vec 0) in integer micro-units —
    // scale-free rank merge, bit-identical fused order
    Gate("q140_rrf_fusion", (s, dir) => {
      val a = Corpus.bm25TopK(docs(s, dir), "doc_id", "text",
          Seq("join", "vector", "scan"), topK = 20)
        .select(col("doc_id"), col("rank"))
      val e = emb(s, dir)
      val b = Similarity.bruteForceTopK(e.filter(col("vec_id") === 0), e,
          "vec_id", "embedding", 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Similarity.rrfFuse(Seq(a, b), "doc_id", "rank", kParam = 60,
          topM = 10)
        .orderBy(col("rank"))
    },
    oracle = {
      val terms = Seq("join", "vector", "scan")
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(toks, w -> w = '$t')) AS DOUBLE) AS tf$i"
      }.mkString(",\n    ")
      val dfCols = terms.indices.map(i =>
        s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
        .mkString(",\n    ")
      val score = terms.indices.foldLeft("0.0") { (acc, i) =>
        s"($acc + ((((n - df$i + 0.5) / (df$i + 0.5)) * (tf$i * 2.5)) / " +
          s"(tf$i + 1.5 * (0.25 + 0.75 * (dl / avgdl)))))"
      }
      s"""WITH t AS (SELECT doc_id,
         |    regexp_extract_all(lower(text), '[^\\s]+') AS toks
         |  FROM documents),
         |d AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
         |    $tfCols
         |  FROM t),
         |s AS (SELECT CAST(COUNT(1) AS DOUBLE) AS n, SUM(dl) AS sumdl,
         |    $dfCols
         |  FROM d),
         |sc AS (SELECT d.doc_id, d.dl, s.n, s.sumdl / s.n AS avgdl,
         |    ${terms.indices.map(i => s"d.tf$i, s.df$i").mkString(", ")}
         |  FROM d CROSS JOIN s),
         |bmr AS (SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY $score DESC, doc_id ASC) AS rank
         |  FROM sc QUALIFY rank <= 20),
         |q0 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |ascored AS (SELECT c.vec_id AS doc_id,
         |    ${dcosine("q0.qv", "c.embedding")} AS cr
         |  FROM q0 CROSS JOIN embeddings c WHERE c.vec_id <> 0),
         |annr AS (SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY cr DESC, doc_id ASC) AS rank
         |  FROM ascored QUALIFY rank <= 20),
         |u AS (SELECT doc_id, rank FROM bmr
         |  UNION ALL SELECT doc_id, rank FROM annr),
         |f AS (SELECT doc_id,
         |    CAST(SUM(1000000 // (CAST(rank AS BIGINT) + 60)) AS BIGINT)
         |      AS rrf_mil,
         |    COUNT(1) AS n_lists
         |  FROM u GROUP BY 1)
         |SELECT doc_id, rrf_mil, n_lists,
         |  CAST(ROW_NUMBER() OVER (ORDER BY rrf_mil DESC, doc_id ASC)
         |    AS INTEGER) AS rank
         |FROM f QUALIFY rank <= 10 ORDER BY rank""".stripMargin
    }),

    // per-user robust outliers: |v − median| > 5·MAD in all-integer
    // doubled/quadrupled form — immune to the spike poisoning its own
    // baseline, every boundary row identical across engines
    Gate("q141_mad_outliers", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("event_id"),
          floor(col("value") * 1000 + 0.5).cast("long").as("vmil"))
      graft.ops.Profiling.madOutliers(ev, "user_id", "vmil", k = 5)
        .orderBy(col("event_id"))
    },
    oracle =
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vmil
        |  FROM events),
        |m AS (SELECT user_id, CAST(2 * median(vmil) AS BIGINT) AS med2
        |  FROM e GROUP BY 1),
        |d AS (SELECT e.user_id, event_id, vmil,
        |    abs(2 * vmil - med2) AS dev2
        |  FROM e JOIN m USING (user_id)),
        |md AS (SELECT user_id, CAST(2 * median(dev2) AS BIGINT) AS mad4
        |  FROM d GROUP BY 1)
        |SELECT d.user_id, event_id, vmil, dev2,
        |  2 * dev2 > 5 * mad4 AS outlier
        |FROM d JOIN md USING (user_id)
        |ORDER BY event_id""".stripMargin),

    // k-anonymity suppression over (lang, source, 500-char length
    // bucket): quasi-identifier groups smaller than 3 are dropped
    // entirely — 76 of 500 docs suppress at sf0.01
    Gate("q142_k_anonymize", (s, dir) =>
      Corpus.kAnonymize(
        docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
          expr("n_chars div 500").as("len_bucket")),
        Seq("lang", "source", "len_bucket"), k = 3)
        .orderBy(col("doc_id")),
    oracle =
      """SELECT lang, source, n_chars // 500 AS len_bucket, doc_id,
        |  COUNT(1) OVER (PARTITION BY lang, source, n_chars // 500)
        |    AS group_n
        |FROM documents
        |QUALIFY group_n >= 3
        |ORDER BY doc_id""".stripMargin),

    // deterministic class rebalancing: every language oversampled to
    // exactly the majority count; the `target mod n` extra copies go to
    // the first rows in content-hash order (seedless, engine-stable)
    Gate("q144_balance_classes", (s, dir) =>
      Corpus.balanceClasses(docs(s, dir), "lang", "doc_id")
        .orderBy(col("doc_id"), col("copy")),
    oracle = {
      val h = dpolyhash("CAST(doc_id AS VARCHAR)")
      s"""WITH c AS (SELECT lang, COUNT(1) AS n FROM documents GROUP BY 1),
         |t AS (SELECT MAX(n) AS target FROM c),
         |r AS (SELECT doc_id, lang,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY $h, doc_id) AS rn
         |  FROM documents),
         |x AS (SELECT r.doc_id, r.lang,
         |    t.target // c.n +
         |      CASE WHEN r.rn <= t.target % c.n THEN 1 ELSE 0 END
         |      AS copies
         |  FROM r JOIN c USING (lang) CROSS JOIN t)
         |SELECT doc_id, lang,
         |  CAST(unnest(range(1, copies + 1)) AS BIGINT) AS copy
         |FROM x ORDER BY doc_id, copy""".stripMargin
    }),

    // BPE merge-candidate statistics: adjacent char-pair counts weighted
    // by word frequency, rolled up over DISTINCT words (the histogram
    // shape production tokenizer trainers use); deterministic top-30
    Gate("q145_bpe_pairs", (s, dir) =>
      Corpus.bpePairCounts(docs(s, dir), "text", topK = 30),
    oracle =
      """WITH w AS (SELECT unnest(string_split_regex(lower(text), '\s+'))
        |    AS w FROM documents),
        |wf AS (SELECT w, COUNT(1) AS wn FROM w
        |  WHERE len(w) >= 2 GROUP BY 1),
        |p0 AS (SELECT wn, string_split(w, '') AS cs FROM wf),
        |p1 AS (SELECT wn, cs, unnest(range(1, len(cs))) AS i FROM p0),
        |p AS (SELECT wn, cs[i] AS a, cs[i + 1] AS b FROM p1),
        |g AS (SELECT a, b, CAST(SUM(wn) AS BIGINT) AS n
        |  FROM p GROUP BY 1, 2)
        |SELECT a, b, n,
        |  CAST(ROW_NUMBER() OVER (ORDER BY n DESC, a ASC, b ASC)
        |    AS INTEGER) AS rank
        |FROM g QUALIFY rank <= 30 ORDER BY rank""".stripMargin),

    // join-key skew profile over the language column: exact top-5 counts
    // + integer cross-multiplied hot flags at 30% — only 'en' (43.6% at
    // sf0.01) flags
    Gate("q146_key_skew", (s, dir) =>
      graft.ops.Profiling.keySkew(docs(s, dir), "lang", topN = 5,
        pctNum = 30, pctDen = 100),
    oracle =
      """WITH c AS (SELECT lang, COUNT(1) AS n FROM documents GROUP BY 1),
        |t AS (SELECT CAST(COUNT(1) AS HUGEINT) AS total FROM documents)
        |SELECT lang, n,
        |  CAST(ROW_NUMBER() OVER (ORDER BY n DESC, lang ASC)
        |    AS INTEGER) AS rank,
        |  CAST(n AS HUGEINT) * 100 > total * 30 AS hot
        |FROM c CROSS JOIN t
        |QUALIFY rank <= 5 ORDER BY rank""".stripMargin),

    // Unicode-script profile with injected Cyrillic (every 9th doc) and
    // CJK (every 17th) noise: per-script counts, strict-≻ dominant
    // label, integer ≥20% mixed-script flag — all replayed by RE2
    Gate("q147_script_profile", (s, dir) => {
      val d = docs(s, dir).withColumn("text", concat(col("text"),
        when(col("doc_id") % 9 === 0,
          lit(" привет мир это тест смешанного письма")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          lit(" 数据 管道 去重 质量 检查")).otherwise(lit(""))))
      val cols = TextAnalysis.scriptProfile(col("text"))
        .map { case (n, c) => c.as(n) }
      d.select(col("doc_id") +: cols: _*).orderBy(col("doc_id"))
    },
    oracle =
      """WITH d AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 9 = 0
        |      THEN ' привет мир это тест смешанного письма' ELSE '' END ||
        |    CASE WHEN doc_id % 17 = 0
        |      THEN ' 数据 管道 去重 质量 检查' ELSE '' END AS text
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text,
        |      '[A-Za-z\x{00C0}-\x{024F}]')) AS BIGINT) AS n_latin,
        |    CAST(len(regexp_extract_all(text,
        |      '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]')) AS BIGINT) AS n_cjk,
        |    CAST(len(regexp_extract_all(text,
        |      '[\x{0400}-\x{04FF}]')) AS BIGINT) AS n_cyrillic,
        |    CAST(len(regexp_extract_all(text,
        |      '[\x{0600}-\x{06FF}]')) AS BIGINT) AS n_arabic
        |  FROM d),
        |s AS (SELECT *,
        |    n_latin + n_cjk + n_cyrillic + n_arabic AS letters,
        |    GREATEST(n_latin, n_cjk, n_cyrillic, n_arabic) AS dom
        |  FROM c)
        |SELECT doc_id, n_latin, n_cjk, n_cyrillic, n_arabic,
        |  CASE WHEN letters = 0 THEN 'none'
        |       WHEN n_latin >= n_cjk AND n_latin >= n_cyrillic
        |         AND n_latin >= n_arabic THEN 'latin'
        |       WHEN n_cjk >= n_cyrillic AND n_cjk >= n_arabic THEN 'cjk'
        |       WHEN n_cyrillic >= n_arabic THEN 'cyrillic'
        |       ELSE 'arabic' END AS script,
        |  letters > 0 AND (letters - dom) * 5 >= letters AS mixed_script
        |FROM s ORDER BY doc_id""".stripMargin),

    // CDC compaction: latest row per user wins, error events act as
    // delete markers — users whose LAST event is an error vanish from
    // the compacted state (no tombstone surfaces)
    Gate("q148_cdc_compact", (s, dir) => {
      val cdc = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"),
          when(col("event_type") === "error", "delete")
            .otherwise("upsert").as("op"),
          col("event_type"))
      graft.ops.Incremental.compactCdc(cdc, "user_id", "tus",
          "event_id", "op")
        .orderBy(col("user_id"))
    },
    oracle =
      """WITH c AS (SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CASE WHEN event_type = 'error' THEN 'delete'
        |         ELSE 'upsert' END AS op,
        |    event_type FROM events)
        |SELECT user_id, tus, event_id, op, event_type FROM c
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY tus DESC, event_id DESC) = 1
        |  AND op <> 'delete'
        |ORDER BY user_id""".stripMargin),

    // common-journey discovery: each user's first 5 event types as a
    // path string, top-20 paths by user count
    Gate("q149_top_paths", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"), col("event_type"))
      EventAnalytics.topPaths(ev, "user_id", "tus", "event_id",
        "event_type", maxSteps = 5, topK = 20)
    },
    oracle =
      """WITH h AS (SELECT user_id,
        |    list(event_type ORDER BY epoch_us(ts), event_id) AS states
        |  FROM events GROUP BY 1),
        |p AS (SELECT array_to_string(states[1:5], '>') AS path FROM h),
        |c AS (SELECT path, COUNT(1) AS n_entities FROM p GROUP BY 1)
        |SELECT path, n_entities,
        |  CAST(ROW_NUMBER() OVER (ORDER BY n_entities DESC, path ASC)
        |    AS INTEGER) AS rank
        |FROM c QUALIFY rank <= 20 ORDER BY rank""".stripMargin),

    // detector-evaluation harness: TP/FP/FN over unordered pair sets —
    // synthesized pred (every-3rd adjacent pair + reversed every-9th
    // duplicates) vs truth (every-2nd); normalization must collapse the
    // reversed injections
    Gate("q150_pair_metrics", (s, dir) => {
      val ids = docs(s, dir).select(col("doc_id"))
      val pred = ids.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
        .union(ids.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 1).as("a"), col("doc_id").as("b")))
      val truth = ids.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
      Dedup.pairMetrics(pred, truth, "a", "b")
    },
    oracle =
      """WITH ids AS (SELECT doc_id FROM documents),
        |pred AS (SELECT LEAST(a, b) AS lo, GREATEST(a, b) AS hi FROM (
        |    SELECT doc_id AS a, doc_id + 1 AS b FROM ids
        |    WHERE doc_id % 3 = 0
        |    UNION ALL
        |    SELECT doc_id + 1, doc_id FROM ids WHERE doc_id % 9 = 0)
        |  GROUP BY 1, 2),
        |truth AS (SELECT doc_id AS lo, doc_id + 1 AS hi FROM ids
        |  WHERE doc_id % 2 = 0),
        |j AS (SELECT pred.lo IS NOT NULL AS p, truth.lo IS NOT NULL AS t
        |  FROM pred FULL OUTER JOIN truth
        |    ON pred.lo = truth.lo AND pred.hi = truth.hi)
        |SELECT
        |  CAST(SUM(CASE WHEN p AND t THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |  CAST(SUM(CASE WHEN p AND NOT t THEN 1 ELSE 0 END) AS BIGINT)
        |    AS fp,
        |  CAST(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT)
        |    AS fn
        |FROM j""".stripMargin),

    // snapshot-versioned table: v1 = nation, v2 = every-5th name edited;
    // pinned v1 read + latest-resolution read summarized per version —
    // history is immutable, time travel exact
    Gate("q151_snapshots", (s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft_snap").toString
      val nation = s.read.parquet(s"$dir/nation.parquet")
      graft.ops.Layout.snapshotWrite(nation, base)
      graft.ops.Layout.snapshotWrite(
        nation.withColumn("n_name",
          when(col("n_nationkey") % 5 === 0,
            concat(col("n_name"), lit("_X")))
            .otherwise(col("n_name"))), base)
      val dig = graft.functions.NativeHashes.poly_hash(col("n_name"))
      def summ(df: DataFrame, v: Long) =
        df.agg(count(lit(1)).as("n_rows"), sum(dig).as("name_sum"))
          .withColumn("version", lit(v))
      summ(graft.ops.Layout.readSnapshot(s, base, Some(1)), 1L)
        .unionByName(summ(graft.ops.Layout.readSnapshot(s, base), 2L))
        .orderBy(col("version"))
    },
    oracle = {
      val d1 = dpolyhash("n_name")
      val d2 = dpolyhash(
        "CASE WHEN n_nationkey % 5 = 0 THEN n_name || '_X' ELSE n_name END")
      s"""SELECT CAST(1 AS BIGINT) AS version, COUNT(1) AS n_rows,
         |  CAST(SUM($d1) AS BIGINT) AS name_sum FROM nation
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), COUNT(1),
         |  CAST(SUM($d2) AS BIGINT) FROM nation
         |ORDER BY version""".stripMargin
    }),

    // corpus overlap by HLL inclusion-exclusion + exact twin: returning
    // (user, minute) entities across the two month halves; the engine's
    // HLL estimate never leaves the plan — the gate boolean does
    Gate("q152_overlap", (s, dir) => {
      val ev = events(s, dir)
        .select((col("user_id") * 100 + minute(col("ts"))).as("ent"),
          dayofmonth(col("ts")).as("d"))
      graft.ops.Sketches.overlapEstimate(
        ev.filter(col("d") < 15), ev.filter(col("d") >= 15), "ent")
    },
    oracle =
      """WITH a AS (SELECT DISTINCT user_id * 100 + minute(ts) AS ent
        |  FROM events WHERE day(ts) < 15),
        |b AS (SELECT DISTINCT user_id * 100 + minute(ts) AS ent
        |  FROM events WHERE day(ts) >= 15),
        |u AS (SELECT ent FROM a UNION SELECT ent FROM b)
        |SELECT (SELECT COUNT(1) FROM a) AS n_a,
        |  (SELECT COUNT(1) FROM b) AS n_b,
        |  (SELECT COUNT(1) FROM u) AS n_union,
        |  (SELECT COUNT(1) FROM a) + (SELECT COUNT(1) FROM b)
        |    - (SELECT COUNT(1) FROM u) AS inter_exact,
        |  TRUE AS hll_ok""".stripMargin),

    // exact join-size profile WITHOUT running the join: the events
    // user_id self-join cardinality Σn² + its top-5 contributing keys
    Gate("q153_join_size", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"))
      graft.ops.Profiling.joinSizeProfile(ev, ev, "user_id", topN = 5)
        // gate export: Σn² fits BIGINT at sf0.1; see q136 note
        .withColumn("n_out", col("n_out").cast("long"))
        .orderBy(col("rank"))
    },
    oracle =
      """WITH c AS (SELECT user_id, COUNT(1) AS n FROM events GROUP BY 1),
        |r AS (SELECT user_id, n,
        |    CAST(ROW_NUMBER() OVER (
        |      ORDER BY CAST(n AS HUGEINT) * n DESC, user_id ASC)
        |      AS INTEGER) AS rank
        |  FROM c)
        |SELECT CAST(user_id AS VARCHAR) AS key, n AS n_left,
        |  n AS n_right, CAST(CAST(n AS HUGEINT) * n AS BIGINT) AS n_out,
        |  rank
        |FROM r WHERE rank <= 5
        |UNION ALL
        |SELECT '(total)', CAST(SUM(n) AS BIGINT), CAST(SUM(n) AS BIGINT),
        |  CAST(SUM(CAST(n AS HUGEINT) * n) AS BIGINT), 0 FROM c
        |ORDER BY rank""".stripMargin),

    // keep-BEST exact dedup: among duplicates the highest synthetic
    // quality (doc_id mod 7) wins, id ascending on ties — canonical
    // selection policy vs q40's keep-first
    Gate("q154_keep_best", (s, dir) =>
      Dedup.keepBest(
        docs(s, dir).withColumn("q", col("doc_id") % 7),
        "text", "doc_id", "q")
        .orderBy(col("doc_id")),
    oracle =
      """SELECT doc_id, q, n_copies FROM (
        |  SELECT doc_id, doc_id % 7 AS q, text,
        |    COUNT(1) OVER (PARTITION BY text) AS n_copies
        |  FROM documents)
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY text
        |  ORDER BY q DESC, doc_id ASC) = 1
        |ORDER BY doc_id""".stripMargin),

    // templated-source detection: src1 docs get a stamped 12-word
    // footer — its internal 8-shingles hit every src1 doc, max_df/n_docs
    // crosses 50% and only src1 flags
    Gate("q155_template_detect", (s, dir) => {
      val d = docs(s, dir).withColumn("text", concat(col("text"),
        when(col("source") === "src1",
          lit(" common footer boilerplate phrase shared across every" +
            " page of this site")).otherwise(lit(""))))
      Dedup.templateScore(d, "doc_id", "text", "source", k = 8,
          pctNum = 50, pctDen = 100)
        .orderBy(col("source"))
    },
    oracle = {
      val stamped = "text || CASE WHEN source = 'src1' THEN " +
        "' common footer boilerplate phrase shared across every" +
        " page of this site' ELSE '' END"
      s"""WITH d AS (SELECT doc_id, source, $stamped AS text
         |  FROM documents),
         |g0 AS (SELECT source, doc_id,
         |    unnest(${dshingleHashesK("text", 8)}) AS h FROM d),
         |g AS (SELECT DISTINCT source, doc_id, h FROM g0),
         |f AS (SELECT source, h, COUNT(1) AS df FROM g GROUP BY 1, 2),
         |m AS (SELECT source, MAX(df) AS max_df FROM f GROUP BY 1),
         |n AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs
         |  FROM d GROUP BY 1)
         |SELECT source, n_docs, max_df,
         |  max_df * 100 > n_docs * 50 AS templated
         |FROM m JOIN n USING (source) ORDER BY source""".stripMargin
    }),

    // the cleaning pipeline END-TO-END in one plan: length-band quality
    // filter → exact dedup keep-first → per-source cap 15 (content-hash
    // order) → deterministic split assignment
    Gate("q156_clean_pipeline", (s, dir) => {
      val base = docs(s, dir)
        .filter(col("n_chars") >= 100 && col("n_chars") <= 400)
      val keepers = Dedup.exactKeepers(base, "text", "doc_id")
        .select(col("doc_id"))
      val deduped = base.join(keepers, "doc_id")
      val capped = Corpus.stratifiedSample(deduped, "source", 15,
        "text", "doc_id")
      Corpus.withSplit(capped, "text")
        .select(col("doc_id"), col("source"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    },
    oracle = {
      val h = dpolyhash("text")
      s"""WITH f AS (SELECT doc_id, source, text FROM documents
         |  WHERE n_chars BETWEEN 100 AND 400),
         |d AS (SELECT * FROM f
         |  QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY text)),
         |c AS (SELECT * FROM d
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY source
         |    ORDER BY $h, doc_id) <= 15)
         |SELECT doc_id, source, $h % 100 AS bucket,
         |  CASE WHEN $h % 100 < 90 THEN 'train'
         |       WHEN $h % 100 < 95 THEN 'val' ELSE 'test' END AS split
         |FROM c ORDER BY doc_id""".stripMargin
    }),

    // leakage-safe split: near-dup CLUSTERS land in one split — the
    // split hash runs on the cluster label, not the doc, so a test doc's
    // near-copy can never sit in train (the leak content-addressed
    // per-doc splitting cannot prevent)
    Gate("q157_leakage_safe_split", (s, dir) => {
      val d = docs(s, dir)
      val pairs = nearDupPairs(d)
      val clusters = Dedup.nearDupClusters(d, "doc_id", pairs)
      Corpus.withSplit(
          clusters.withColumn("ck", col("cluster").cast("string")), "ck")
        .select(col("doc_id"), col("cluster"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    },
    oracle = {
      val h = dpolyhash("CAST(cluster AS VARCHAR)")
      s"""WITH RECURSIVE $pairsCcCtes,
         |cl AS (SELECT id AS doc_id, MIN(label) AS cluster
         |  FROM cc GROUP BY id)
         |SELECT doc_id, cluster, $h % 100 AS bucket,
         |  CASE WHEN $h % 100 < 90 THEN 'train'
         |       WHEN $h % 100 < 95 THEN 'val' ELSE 'test' END AS split
         |FROM cl ORDER BY doc_id""".stripMargin
    }),

    // per-source duplication health: src2's docs injected twice (ids
    // shifted) → 50% dup rate flags at the 20% threshold; clean sources
    // stay unflagged
    Gate("q158_dup_profile", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val withDups = d.unionByName(
        d.filter(col("source") === "src2")
          .select((col("doc_id") + 700000L).as("doc_id"), col("source"),
            col("text")))
      graft.ops.Profiling.duplicationProfile(withDups, "source", "text",
          pctNum = 20, pctDen = 100)
        .orderBy(col("source"))
    },
    oracle =
      """WITH d AS (SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 700000, source, text FROM documents
        |  WHERE source = 'src2')
        |SELECT source, COUNT(1) AS n_docs,
        |  COUNT(DISTINCT text) AS n_distinct,
        |  COUNT(1) - COUNT(DISTINCT text) AS n_dups,
        |  (COUNT(1) - COUNT(DISTINCT text)) * 100 > COUNT(1) * 20
        |    AS dup_heavy
        |FROM d GROUP BY source ORDER BY source""".stripMargin),

    // funnel latency: per user, first view/click → first purchase delay;
    // organic (pre-touch) conversions keep their negative delay
    Gate("q159_time_to_conversion", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_type"))
      EventAnalytics.timeToConversion(ev, "user_id", "tus",
          "event_type", Seq("view", "click"), "purchase")
        .orderBy(col("user_id"))
    },
    oracle =
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_type
        |  FROM events),
        |t AS (SELECT user_id, MIN(tus) AS first_touch FROM e
        |  WHERE event_type IN ('view', 'click') GROUP BY 1),
        |c AS (SELECT user_id, MIN(tus) AS first_conv FROM e
        |  WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT t.user_id, first_touch, first_conv,
        |  first_conv - first_touch AS delay_us,
        |  first_conv - first_touch < 0 AS organic
        |FROM t JOIN c ON t.user_id = c.user_id
        |ORDER BY t.user_id""".stripMargin),

    // embedding-distribution drift: odd-id snapshot gets dimension 5
    // shifted +0.25 — per-dim integer centroid sums, cross-multiplied
    // 0.1-milli-mean threshold; the injected dim flags
    Gate("q160_embedding_drift", (s, dir) => {
      val e = emb(s, dir)
      val a = e.filter(col("vec_id") % 2 === 0)
      val b = e.filter(col("vec_id") % 2 === 1)
        .withColumn("embedding", transform(col("embedding"),
          (x, i) => when(i === 5, x + lit(0.25f)).otherwise(x)))
      Similarity.embeddingDrift(a, b, "embedding", tNum = 100, tDen = 1)
        .orderBy(col("dim"))
    },
    oracle =
      """WITH a AS (SELECT embedding FROM embeddings WHERE vec_id % 2 = 0),
        |b0 AS (SELECT embedding FROM embeddings WHERE vec_id % 2 = 1),
        |ai AS (SELECT unnest(range(1, 65)) AS i, embedding FROM a),
        |ae AS (SELECT i - 1 AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5)
        |      AS BIGINT) AS q FROM ai),
        |sa AS (SELECT dim, CAST(COUNT(1) AS HUGEINT) AS n_a,
        |    CAST(SUM(q) AS HUGEINT) AS sum_a FROM ae GROUP BY 1),
        |bi AS (SELECT unnest(range(1, 65)) AS i, embedding FROM b0),
        |be AS (SELECT i - 1 AS dim,
        |    CAST(floor(CAST(CASE WHEN i = 6
        |        THEN embedding[i] + CAST(0.25 AS FLOAT)
        |        ELSE embedding[i] END AS DOUBLE) * 1000 + 0.5)
        |      AS BIGINT) AS q FROM bi),
        |sb AS (SELECT dim, CAST(COUNT(1) AS HUGEINT) AS n_b,
        |    CAST(SUM(q) AS HUGEINT) AS sum_b FROM be GROUP BY 1)
        |SELECT dim, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(sum_a AS BIGINT) AS sum_a, CAST(sum_b AS BIGINT) AS sum_b,
        |  abs(sum_a * n_b - sum_b * n_a) * 1 > n_a * n_b * 100 AS drift
        |FROM sa JOIN sb USING (dim) ORDER BY dim""".stripMargin),

    // inter-arrival profile + bot flag: exact per-user gap statistics;
    // a sub-60s minimum gap over a 50+-event run reads as scripted
    Gate("q161_interarrival", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"))
      EventAnalytics.interArrivalProfile(ev, "user_id", "tus",
          "event_id", minEvents = 50, maxMinGapUs = 60000000L)
        .orderBy(col("user_id"))
    },
    oracle =
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id
        |  FROM events),
        |g AS (SELECT user_id,
        |    tus - LAG(tus, 1) OVER (PARTITION BY user_id
        |      ORDER BY tus, event_id) AS gap
        |  FROM e QUALIFY gap IS NOT NULL)
        |SELECT user_id, COUNT(1) AS n_gaps, MIN(gap) AS min_gap,
        |  MAX(gap) AS max_gap, CAST(SUM(gap) AS BIGINT) AS sum_gap,
        |  COUNT(1) >= 50 AND MIN(gap) <= 60000000 AS bot
        |FROM g GROUP BY 1 ORDER BY user_id""".stripMargin),

    // markup-density features with injected residual HTML on every 11th
    // doc: tag/entity counts + the tag-char ratio flag extraction bugs
    // leave behind
    Gate("q162_markup", (s, dir) => {
      val d = docs(s, dir).withColumn("text",
        when(col("doc_id") % 11 === 0,
          concat(lit("<div id=x>"), col("text"),
            lit("</div> &amp; <br/> x &#39;"))).otherwise(col("text")))
      val cols = TextAnalysis.markupFeatures(col("text"))
        .map { case (n, c) => c.as(n) }
      d.select(col("doc_id") +: cols: _*).orderBy(col("doc_id"))
    },
    oracle =
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0
        |      THEN '<div id=x>' || text || '</div> &amp; <br/> x &#39;'
        |      ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '</?[A-Za-z][A-Za-z0-9]*[^<>]*>')) AS BIGINT) AS n_tags,
        |  CAST(len(regexp_extract_all(text,
        |    '&[A-Za-z]+;|&#[0-9]+;')) AS BIGINT) AS n_entities,
        |  CAST(len(text) - len(regexp_replace(text,
        |    '</?[A-Za-z][A-Za-z0-9]*[^<>]*>', '', 'g')) AS BIGINT)
        |    AS n_tag_chars,
        |  (len(text) - len(regexp_replace(text,
        |    '</?[A-Za-z][A-Za-z0-9]*[^<>]*>', '', 'g'))) * 100
        |    > len(text) * 5 AS markup_heavy
        |FROM d ORDER BY doc_id""".stripMargin),

    // cross-source duplicate matrix with an injected mirror feed (every
    // 4th doc) and a scraper (a third of src3 re-hosted as src5): shared
    // distinct-text mass per source pair, fan-out bounded by |sources|
    Gate("q163_cross_source_dups", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val mirror = d.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 800000L).as("doc_id"),
          lit("mirror").as("source"), col("text"))
      val scraped = d.filter(col("source") === "src3" &&
          col("doc_id") % 3 === 0)
        .select((col("doc_id") + 900000L).as("doc_id"),
          lit("src5").as("source"), col("text"))
      Dedup.crossSourceDups(
          d.unionByName(mirror).unionByName(scraped), "source", "text")
        .orderBy(col("src_a"), col("src_b"))
    },
    oracle =
      """WITH base AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'mirror', text FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT 'src5', text FROM documents
        |  WHERE source = 'src3' AND doc_id % 3 = 0),
        |sd AS (SELECT DISTINCT source, text FROM base)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  COUNT(1) AS n_shared
        |FROM sd a JOIN sd b ON a.text = b.text AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin),

    // exact DAU/WAU: daily distinct users + 7-day rolling distinct via
    // the presence-to-window-days explode (rolling distinct does not
    // decompose over frames; the fan-out is the bounded W factor)
    Gate("q164_rolling_active", (s, dir) =>
      EventAnalytics.rollingActiveUsers(
        events(s, dir)
          .select(col("user_id"), col("ts")),
        "user_id", "ts", windowDays = 7)
        .orderBy(col("day")),
    oracle =
      s"""WITH $dauWauCtes
        |SELECT dau.day, dau, wau FROM dau JOIN wau USING (day)
        |ORDER BY day""".stripMargin),

    // directed reciprocity over a synthetic follow graph from the event
    // log: exact (n_edges, n_reciprocal) integer pair
    Gate("q165_reciprocity", (s, dir) => {
      val ev = events(s, dir)
        .select(pmod(col("user_id"), lit(50L)).as("src"),
          pmod(col("user_id") * 7 + col("event_id"), lit(50L)).as("dst"))
      graft.ops.Graph.reciprocity(ev, "src", "dst")
    },
    oracle =
      """WITH e AS (SELECT DISTINCT user_id % 50 AS s,
        |    (user_id * 7 + event_id) % 50 AS d
        |  FROM events WHERE user_id % 50 <> (user_id * 7 + event_id) % 50)
        |SELECT (SELECT COUNT(1) FROM e) AS n_edges,
        |  (SELECT COUNT(1) FROM e
        |   WHERE EXISTS (SELECT 1 FROM e r
        |     WHERE r.s = e.d AND r.d = e.s)) AS n_reciprocal""".stripMargin),

    // per-doc novelty vs the even-id half as reference corpus: exact
    // (n_shingles, n_novel) pairs — exact copies of reference docs
    // score zero novel, genuinely new text scores high
    Gate("q166_novelty", (s, dir) => {
      val d = docs(s, dir)
      Dedup.shingleNovelty(d.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", d.filter(col("doc_id") % 2 === 0), "text",
          k = 3)
        .orderBy(col("doc_id"))
    },
    oracle = {
      val sh = dshingleHashesK("text", 3)
      s"""WITH dg0 AS (SELECT doc_id, unnest($sh) AS h FROM documents
         |  WHERE doc_id % 2 = 1),
         |dg AS (SELECT DISTINCT doc_id, h FROM dg0),
         |rg AS (SELECT DISTINCT unnest($sh) AS h FROM documents
         |  WHERE doc_id % 2 = 0)
         |SELECT doc_id, COUNT(1) AS n_shingles,
         |  CAST(SUM(CASE WHEN rg.h IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel
         |FROM dg LEFT JOIN rg ON dg.h = rg.h
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),

    // traffic concentration: per-user event counts bucketed into rank
    // deciles — exact entity/event counts per decile (the view a
    // per-key quota cap is chosen from)
    Gate("q167_concentration", (s, dir) =>
      EventAnalytics.concentrationProfile(
        events(s, dir), "user_id",
        nBuckets = 10)
        .orderBy(col("decile")),
    oracle =
      """WITH per AS (SELECT user_id, COUNT(1) AS n FROM events
        |  GROUP BY 1),
        |b AS (SELECT user_id, n, NTILE(10) OVER (ORDER BY n DESC,
        |    user_id ASC) AS decile FROM per)
        |SELECT CAST(decile AS INTEGER) AS decile,
        |  COUNT(1) AS n_entities, CAST(SUM(n) AS BIGINT) AS n_events
        |FROM b GROUP BY 1 ORDER BY decile""".stripMargin),

    // bigram collocation detection (the word2vec phrase rule, integer
    // cross-multiplied): a ' deep learning' phrase stamped into every
    // third doc must flag; the near-uniform organic bigrams must not.
    // minCount is RELATIVE (4% of docs) so it bins identically at
    // every scale factor.
    Gate("q168_collocations", (s, dir) => {
      val d0 = docs(s, dir)
      val d = d0.withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" deep learning")))
          .otherwise(col("text")))
      // clamped to >= 1: below 25 docs the 4% cutoff floors to zero,
      // which the operator rejects while the oracle's HAVING >= 0
      // keeps everything
      Corpus.collocations(d, "text",
          minCount = math.max(1L, d0.count() * 4 / 100),
          delta = 5, thresholdNum = 3, thresholdDen = 2)
        .orderBy(col("w1"), col("w2"))
    },
    oracle =
      """WITH d AS (SELECT CASE WHEN doc_id % 3 = 0
        |    THEN text || ' deep learning' ELSE text END AS text
        |  FROM documents),
        |toks AS (SELECT list_filter(
        |    regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0) AS ts FROM d),
        |uc AS (SELECT w, COUNT(1) AS n FROM
        |  (SELECT unnest(ts) AS w FROM toks) GROUP BY 1),
        |tot AS (SELECT SUM(n) AS total FROM uc),
        |bc AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(1) AS n_pair
        |  FROM (SELECT unnest(list_transform(range(1, len(ts)),
        |      i -> {'w1': ts[i], 'w2': ts[i+1]})) AS b FROM toks)
        |  GROUP BY 1, 2
        |  HAVING COUNT(1) >=
        |    (SELECT (COUNT(1) * 4) // 100 FROM documents))
        |SELECT w1, w2, n_pair, u1.n AS n_w1, u2.n AS n_w2,
        |  CAST(n_pair - 5 AS HUGEINT) * total * 2 >
        |    3 * CAST(u1.n AS HUGEINT) * u2.n AS phrase
        |FROM bc JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w
        |CROSS JOIN tot ORDER BY w1, w2""".stripMargin),

    // per-source lexical diversity: token/type/hapax counts — the
    // type-token-ratio ingredients as exact integers
    Gate("q169_lexical_diversity", (s, dir) =>
      Corpus.lexicalDiversity(docs(s, dir), "source", "text")
        .orderBy(col("source")),
    oracle =
      """WITH w AS (SELECT source, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0)) AS word FROM documents),
        |c AS (SELECT source, word, COUNT(1) AS n FROM w GROUP BY 1, 2)
        |SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |  COUNT(1) AS n_types,
        |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax
        |FROM c GROUP BY 1 ORDER BY source""".stripMargin),

    // exact pairwise audience overlap between event types (distinct
    // users in both / each side) — the Jaccard numerators
    Gate("q171_audience_overlap", (s, dir) =>
      EventAnalytics.audienceOverlap(
        events(s, dir),
        "event_type", "user_id")
        .orderBy(col("type_a"), col("type_b")),
    oracle =
      """WITH p AS (SELECT DISTINCT event_type AS t, user_id AS e
        |  FROM events),
        |s AS (SELECT t, COUNT(1) AS n FROM p GROUP BY 1),
        |b AS (SELECT a.t AS type_a, b.t AS type_b, COUNT(1) AS n_both
        |  FROM p a JOIN p b ON a.e = b.e AND a.t < b.t GROUP BY 1, 2)
        |SELECT type_a, type_b, n_both, sa.n AS n_a, sb.n AS n_b
        |FROM b JOIN s sa ON b.type_a = sa.t JOIN s sb ON b.type_b = sb.t
        |ORDER BY type_a, type_b""".stripMargin),

    // vocabulary coverage curve at 50/90/99% token mass — distributed
    // prefix sum over the frequency-ranked vocabulary (never a global
    // single-partition running window)
    Gate("q172_vocab_coverage", (s, dir) =>
      Corpus.vocabCoverage(docs(s, dir), "text", Seq(50, 90, 99))
        .orderBy(col("pct")),
    oracle =
      """WITH w AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0)) AS word FROM documents),
        |c AS (SELECT word, COUNT(1) AS n FROM w GROUP BY 1),
        |r AS (SELECT ROW_NUMBER() OVER (ORDER BY n DESC, word ASC)
        |    AS rank,
        |    SUM(n) OVER (ORDER BY n DESC, word ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM c),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
        |th AS (SELECT unnest([50, 90, 99]) AS pct)
        |SELECT th.pct, CAST(MIN(r.rank) AS BIGINT) AS vocab_size,
        |  CAST(MIN(r.cum) AS BIGINT) AS covered_tokens,
        |  tot.total AS total_tokens
        |FROM r CROSS JOIN tot JOIN th
        |  ON CAST(r.cum AS HUGEINT) * 100 >=
        |     CAST(th.pct AS HUGEINT) * tot.total
        |GROUP BY th.pct, tot.total ORDER BY pct""".stripMargin),

    // exact PR curve for a length-bucket "quality" score against an
    // is-English label: per-threshold confusion counts, keep iff
    // score >= s — the filter-tuning table
    Gate("q173_pr_curve", (s, dir) =>
      graft.ops.Profiling.prCurve(
        docs(s, dir)
          .withColumn("score", expr("n_chars div 100").cast("long"))
          .withColumn("y", col("lang") === "en"),
        "score", "y")
        .orderBy(col("score")),
    oracle =
      """WITH d AS (SELECT n_chars // 100 AS score,
        |    lang = 'en' AS y FROM documents),
        |ps AS (SELECT score,
        |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |    CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
        |  FROM d GROUP BY 1),
        |t AS (SELECT CAST(SUM(pos) AS BIGINT) AS p,
        |    CAST(SUM(neg) AS BIGINT) AS n FROM ps),
        |c AS (SELECT score,
        |    CAST(SUM(pos) OVER (ORDER BY score DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
        |    CAST(SUM(neg) OVER (ORDER BY score DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
        |  FROM ps)
        |SELECT score, tp, fp, t.p - tp AS fn, t.n - fp AS tn
        |FROM c CROSS JOIN t ORDER BY score""".stripMargin),

    // Jaro-Winkler record linkage: distinct part names + their
    // third-char-deleted misspellings, blocked on the 2-char prefix
    // (the Winkler-privileged key), codegen'd verify >= 0.87
    Gate("q174_jaro_winkler", (s, dir) => {
      val names = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_name")).distinct()
      val variants = names.select(
        concat(substring(col("p_name"), 1, 2),
          expr("substring(p_name, 4)")).as("p_name"))
      graft.ops.Fuzzy.jaroWinklerPairs(names.union(variants).distinct(),
          "p_name", blockLen = 2, minSim = 0.87)
        .withColumn("jw", round(col("jw"), 6))
        .orderBy(col("key_a"), col("key_b"))
    },
    oracle =
      """WITH n AS (SELECT DISTINCT p_name FROM part),
        |u AS (SELECT p_name FROM n
        |  UNION SELECT substr(p_name, 1, 2) || substr(p_name, 4) FROM n)
        |SELECT a.p_name AS key_a, b.p_name AS key_b,
        |  ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
        |FROM u a JOIN u b
        |  ON a.p_name < b.p_name
        | AND lower(substr(a.p_name, 1, 2)) = lower(substr(b.p_name, 1, 2))
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.87
        |ORDER BY key_a, key_b""".stripMargin),

    // prefix-filtered EXACT set-similarity self-join (All-Pairs/PPJoin
    // candidate rule): every doc pair with 3-shingle Jaccard >= 1/2,
    // no LSH banding misses — the oracle replays ALL pairs and must
    // agree exactly. Every 25th doc gets a drop-last-word twin
    // (Jaccard ~ (n-2)/n, comfortably above 1/2) so the join BINDS;
    // organic cross-doc pairs stay below threshold.
    Gate("q175_ppjoin", (s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
      val twins = d.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id") + 500000L,
          array_join(slice(split(col("text"), "\\s+"), lit(1),
            size(split(col("text"), "\\s+")) - 1), " "))
      graft.ops.Fuzzy.prefixFilterJaccardPairs(d.union(twins),
          "doc_id", "text", shingleK = 3, thNum = 1, thDen = 2)
        .orderBy(col("id_a"), col("id_b"))
    },
    oracle = {
      val sh = dshingleHashesK("text", 3)
      s"""WITH d0 AS (SELECT doc_id, text FROM documents
         |  WHERE doc_id % 5 = 0),
         |tw AS (SELECT doc_id + 500000 AS doc_id,
         |    array_to_string(list_slice(regexp_split_to_array(text, '\\s+'),
         |      1, len(regexp_split_to_array(text, '\\s+')) - 1), ' ') AS text
         |  FROM d0 WHERE doc_id % 25 = 0),
         |d AS (SELECT * FROM d0 UNION ALL SELECT * FROM tw),
         |s AS (SELECT doc_id, list_distinct($sh) AS sh FROM d),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
         |    CAST(len(a.sh) AS BIGINT) AS n_a,
         |    CAST(len(b.sh) AS BIGINT) AS n_b
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, inter, n_a, n_b FROM p
         |WHERE inter * 2 >= (n_a + n_b - inter)
         |ORDER BY id_a, id_b""".stripMargin
    }),

    // gazetteer phrase matching: per-doc occurrence counts of a
    // mixed-length dictionary (1/2/3-token phrases from the corpus
    // vocabulary) — broadcast dictionary equi-join, one explode per
    // distinct phrase length
    Gate("q176_gazetteer", (s, dir) =>
      Corpus.gazetteerMatch(docs(s, dir), "doc_id", "text",
          Seq("spark", "hash join", "key agg row"))
        .orderBy(col("doc_id"), col("phrase")),
    oracle =
      """WITH p AS (SELECT * FROM (VALUES ('spark', 1), ('hash join', 2),
        |    ('key agg row', 3)) AS t(phrase, plen)),
        |toks AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS ts
        |  FROM documents),
        |g AS (SELECT doc_id, p.phrase,
        |    len(list_filter(range(1, len(ts) - p.plen + 2),
        |      i -> array_to_string(list_slice(ts, i, i + p.plen - 1), ' ')
        |           = p.phrase)) AS n
        |  FROM toks CROSS JOIN p WHERE len(ts) >= p.plen)
        |SELECT doc_id, phrase, CAST(n AS BIGINT) AS n FROM g
        |WHERE n > 0 ORDER BY doc_id, phrase""".stripMargin),

    // rendezvous (highest-random-weight) sharding: per-shard doc counts
    // at n=8 plus how many of each shard's docs MOVE at n=9 — the
    // stability contract (~1/9 move, vs ~8/9 under mod-n)
    Gate("q177_rendezvous", (s, dir) => {
      val k = col("doc_id").cast("string")
      docs(s, dir).select(
          graft.ops.Layout.rendezvousShard(k, 8).as("shard8"),
          graft.ops.Layout.rendezvousShard(k, 9).as("shard9"))
        .groupBy(col("shard8"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("shard9") =!= col("shard8"), 1L).otherwise(0L))
            .as("n_moved"))
        .orderBy(col("shard8"))
    },
    oracle = {
      // mix(h) = (h^2 % P)^2 % P replayed by textual duplication of the
      // rolling-hash expression (no variable binding in DuckDB lambdas)
      def shard(n: Int) = {
        val h = dpolyhash(
          "CAST(doc_id AS VARCHAR) || '#' || CAST(s AS VARCHAR)")
        val h2 = s"(($h) * ($h) % 1000000007)"
        s"list_max(list_transform(range(0, $n), " +
          s"s -> ($h2 * $h2 % 1000000007) * 64 + s)) % 64"
      }
      s"""WITH a AS (SELECT ${shard(8)} AS shard8, ${shard(9)} AS shard9
         |  FROM documents)
         |SELECT shard8, COUNT(1) AS n_docs,
         |  CAST(SUM(CASE WHEN shard9 <> shard8 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_moved
         |FROM a GROUP BY 1 ORDER BY shard8""".stripMargin
    }),

    // 2-D Pareto frontier over (length, content-hash pseudo-quality):
    // the docs no other doc beats on BOTH axes — uncorrelated axes so
    // the frontier is a real staircase, not a single max point
    Gate("q178_skyline", (s, dir) =>
      graft.ops.Profiling.skyline2d(
        docs(s, dir).withColumn("q",
          graft.functions.NativeHashes.poly_hash(col("text")) % 1000),
        "n_chars", "q")
        .select(col("doc_id"), col("n_chars"), col("q"))
        .orderBy(col("doc_id")),
    oracle = {
      val q = s"${dpolyhash("text")} % 1000"
      s"""WITH d AS (SELECT doc_id, n_chars, $q AS q FROM documents)
         |SELECT doc_id, n_chars, q FROM d a
         |WHERE NOT EXISTS (SELECT 1 FROM d b
         |  WHERE b.n_chars >= a.n_chars AND b.q >= a.q
         |    AND (b.n_chars > a.n_chars OR b.q > a.q))
         |ORDER BY doc_id""".stripMargin
    }),

    // deterministic synchronous label propagation (2 rounds, min-label
    // ties) over the derived 200-node event graph — every node's
    // community label replayed exactly
    Gate("q179_label_prop", (s, dir) =>
      graft.ops.Graph.labelPropagation(
        events(s, dir)
          .select((col("user_id") % 200).as("src"),
            ((col("user_id") * 7 + col("event_id")) % 200).as("dst")),
        "src", "dst", iters = 2)
        .orderBy(col("node")),
    oracle =
      """WITH e0 AS (SELECT DISTINCT
        |    LEAST(user_id % 200, (user_id * 7 + event_id) % 200) AS a,
        |    GREATEST(user_id % 200, (user_id * 7 + event_id) % 200) AS b
        |  FROM events
        |  WHERE user_id % 200 <> (user_id * 7 + event_id) % 200),
        |adj AS (SELECT a AS n, b AS m FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |l0 AS (SELECT DISTINCT n AS node, n AS label FROM adj),
        |c1 AS (SELECT adj.n AS n, l0.label AS label, COUNT(1) AS c
        |  FROM adj JOIN l0 ON adj.m = l0.node GROUP BY 1, 2),
        |l1 AS (SELECT n AS node, label FROM c1
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY n
        |    ORDER BY c DESC, label ASC) = 1),
        |c2 AS (SELECT adj.n AS n, l1.label AS label, COUNT(1) AS c
        |  FROM adj JOIN l1 ON adj.m = l1.node GROUP BY 1, 2),
        |l2 AS (SELECT n AS node, label FROM c2
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY n
        |    ORDER BY c DESC, label ASC) = 1)
        |SELECT node, label FROM l2 ORDER BY node""".stripMargin),

    // CCNet-style LM quality score: add-one unigram LM trained on the
    // English docs, every doc scored by average negative log-prob (ln
    // perplexity) + exact OOV counts
    Gate("q180_lm_score", (s, dir) => {
      val d = docs(s, dir)
      Corpus.lmScore(d, "doc_id", "text",
          d.filter(col("lang") === "en"), "text")
        .orderBy(col("doc_id"))
    },
    oracle =
      s"""$lmScoreCtes
        |SELECT doc_id, n_tokens, n_oov,
        |  ROUND((n_tokens * ln(nv.n + nv.v + 1) - sum_ln) / n_tokens, 6)
        |    AS avg_neg_logprob
        |FROM agg CROSS JOIN nv ORDER BY doc_id""".stripMargin),

    // DSIR importance weights: hashed-unigram (64 buckets) target-vs-raw
    // log-ratio per doc, target = every 3rd English doc — positive
    // means "looks like the target distribution"
    Gate("q181_dsir", (s, dir) => {
      val d = docs(s, dir)
      Corpus.dsirWeights(d, "doc_id", "text",
          d.filter(col("lang") === "en" && col("doc_id") % 3 === 0),
          "text", numBuckets = 64)
        .orderBy(col("doc_id"))
    },
    oracle = {
      val pw = dpolyhash("w")
      s"""WITH tt AS (SELECT unnest(list_filter(
         |    regexp_split_to_array(lower(text), '\\s+'),
         |    t -> length(t) > 0)) AS w FROM documents
         |  WHERE lang = 'en' AND doc_id % 3 = 0),
         |rt AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(lower(text), '\\s+'),
         |    t -> length(t) > 0)) AS w FROM documents),
         |tb AS (SELECT $pw % 64 AS b, COUNT(1) AS ct FROM tt GROUP BY 1),
         |rb AS (SELECT $pw % 64 AS b, COUNT(1) AS cr FROM rt GROUP BY 1),
         |m AS (SELECT COALESCE(tb.b, rb.b) AS b,
         |    ln(COALESCE(ct, 0) + 1) - ln(COALESCE(cr, 0) + 1) AS lr
         |  FROM tb FULL JOIN rb ON tb.b = rb.b),
         |nt AS (SELECT COUNT(1) AS n FROM tt),
         |nr AS (SELECT COUNT(1) AS n FROM rt),
         |agg AS (SELECT doc_id, COUNT(1) AS n_tokens,
         |    SUM(COALESCE(m.lr, 0)) AS s
         |  FROM rt LEFT JOIN m ON $pw % 64 = m.b GROUP BY 1)
         |SELECT doc_id, n_tokens,
         |  ROUND(s + n_tokens * (ln(nr.n + 64) - ln(nt.n + 64)), 6)
         |    AS log_w
         |FROM agg CROSS JOIN nt CROSS JOIN nr
         |ORDER BY doc_id""".stripMargin
    }),

    // degree assortativity of the 200-node event graph: exact integer
    // moments + the Pearson r as one division of engine-identical
    // integers
    Gate("q182_assortativity", (s, dir) =>
      graft.ops.Graph.assortativity(
        events(s, dir)
          .select((col("user_id") % 200).as("src"),
            ((col("user_id") * 7 + col("event_id")) % 200).as("dst")),
        "src", "dst"),
    oracle =
      """WITH e0 AS (SELECT DISTINCT
        |    LEAST(user_id % 200, (user_id * 7 + event_id) % 200) AS a,
        |    GREATEST(user_id % 200, (user_id * 7 + event_id) % 200) AS b
        |  FROM events
        |  WHERE user_id % 200 <> (user_id * 7 + event_id) % 200),
        |e2 AS (SELECT a AS s, b AS d FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT s AS n, COUNT(1) AS dg FROM e2 GROUP BY 1),
        |xy AS (SELECT da.dg AS x, db.dg AS y FROM e2
        |  JOIN deg da ON e2.s = da.n JOIN deg db ON e2.d = db.n),
        |mo AS (SELECT COUNT(1) AS m,
        |    CAST(SUM(x * y) AS BIGINT) AS sum_xy,
        |    CAST(SUM(x) AS BIGINT) AS sum_x,
        |    CAST(SUM(x * x) AS BIGINT) AS sum_x2 FROM xy)
        |SELECT m, sum_xy, sum_x, sum_x2,
        |  CASE WHEN m * sum_x2 - sum_x * sum_x = 0 THEN NULL
        |    ELSE ROUND(CAST(m * sum_xy - sum_x * sum_x AS DOUBLE)
        |      / (m * sum_x2 - sum_x * sum_x), 6) END AS r
        |FROM mo""".stripMargin),

    // EXACT stratified 80/10/10 split per source: largest-remainder
    // apportionment, content-hash ranked — every doc's assignment
    // replayed
    Gate("q183_stratified_split", (s, dir) =>
      Corpus.exactStratifiedSplit(docs(s, dir), "source", "text",
          "doc_id", Seq(("train", 80), ("val", 10), ("test", 10)))
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy(col("doc_id")),
    oracle = {
      val h = dpolyhash("text")
      s"""WITH rk AS (SELECT doc_id, source, ROW_NUMBER() OVER (
         |    PARTITION BY source ORDER BY $h, doc_id) AS r
         |  FROM documents),
         |c AS (SELECT source, COUNT(1) AS n FROM documents GROUP BY 1),
         |sp AS (SELECT * FROM (VALUES ('train', 80, 0), ('val', 10, 1),
         |    ('test', 10, 2)) t(split, pct, idx)),
         |a0 AS (SELECT c.source, sp.split, sp.idx,
         |    (c.n * sp.pct) // 100 AS base,
         |    (c.n * sp.pct) % 100 AS rem, c.n AS n
         |  FROM c CROSS JOIN sp),
         |a1 AS (SELECT *, n - SUM(base) OVER (PARTITION BY source)
         |      AS leftover,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY rem DESC, idx ASC) AS er FROM a0),
         |a2 AS (SELECT source, split, idx,
         |    base + CASE WHEN er <= leftover THEN 1 ELSE 0 END AS sz
         |  FROM a1),
         |a3 AS (SELECT source, split,
         |    SUM(sz) OVER (PARTITION BY source ORDER BY idx
         |      ROWS UNBOUNDED PRECEDING) AS hi,
         |    SUM(sz) OVER (PARTITION BY source ORDER BY idx
         |      ROWS UNBOUNDED PRECEDING) - sz AS lo FROM a2)
         |SELECT rk.doc_id, rk.source, a3.split
         |FROM rk JOIN a3 ON rk.source = a3.source
         |  AND rk.r > a3.lo AND rk.r <= a3.hi
         |ORDER BY doc_id""".stripMargin
    }),

    // power-law exponent of per-user activity per event type
    // (Clauset-Shalizi-Newman MLE, xmin=2) — the organic-vs-bot tail
    // diagnostic
    Gate("q184_power_law", (s, dir) =>
      graft.ops.Profiling.powerLawAlpha(
        events(s, dir)
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("x")),
        "event_type", "x", xmin = 2)
        .orderBy(col("event_type")),
    oracle =
      """WITH pu AS (SELECT user_id, event_type, COUNT(1) AS x
        |  FROM events GROUP BY 1, 2),
        |f AS (SELECT event_type, x FROM pu WHERE x >= 2),
        |a AS (SELECT event_type, COUNT(1) AS n,
        |    SUM(ln(CAST(x AS DOUBLE) / 1.5)) AS s
        |  FROM f GROUP BY 1)
        |SELECT event_type, n, ROUND(1.0 + n / s, 6) AS alpha
        |FROM a ORDER BY event_type""".stripMargin),

    // bounded k-core peeling (k=2, 2 rounds) of the mod-97 quadratic
    // functional graph — scale-stable (distinct residue pairs saturate
    // at every SF) and leaves genuinely peel
    Gate("q185_kcore", (s, dir) =>
      graft.ops.Graph.kCorePeel(
        events(s, dir)
          .select((col("user_id") % 97).as("src"),
            ((col("user_id") * col("user_id") + col("user_id") * 3) % 97)
              .as("dst")).distinct(),
        "src", "dst", k = 2, rounds = 2)
        .orderBy(col("node")),
    oracle =
      """WITH e0 AS (SELECT DISTINCT
        |    LEAST(user_id % 97, (user_id * user_id + user_id * 3) % 97)
        |      AS a,
        |    GREATEST(user_id % 97, (user_id * user_id + user_id * 3) % 97)
        |      AS b
        |  FROM events
        |  WHERE user_id % 97 <> (user_id * user_id + user_id * 3) % 97),
        |d1 AS (SELECT n, COUNT(1) AS dg FROM (SELECT a AS n FROM e0
        |    UNION ALL SELECT b FROM e0) GROUP BY 1),
        |k1 AS (SELECT n FROM d1 WHERE dg >= 2),
        |e1 AS (SELECT a, b FROM e0
        |  WHERE a IN (SELECT n FROM k1) AND b IN (SELECT n FROM k1)),
        |d2 AS (SELECT n, COUNT(1) AS dg FROM (SELECT a AS n FROM e1
        |    UNION ALL SELECT b FROM e1) GROUP BY 1),
        |k2 AS (SELECT n FROM d2 WHERE dg >= 2),
        |e2 AS (SELECT a, b FROM e1
        |  WHERE a IN (SELECT n FROM k2) AND b IN (SELECT n FROM k2))
        |SELECT n AS node, COUNT(1) AS degree FROM (SELECT a AS n FROM e2
        |  UNION ALL SELECT b FROM e2) GROUP BY 1 ORDER BY node""".stripMargin),

    // CCNet head/middle/tail: LM score → milli quantization → global
    // 33/66 quantile buckets off the quantization-bounded histogram
    // (never an ntile over the corpus)
    Gate("q186_ccnet_buckets", (s, dir) => {
      val d = docs(s, dir)
      val scored = Corpus.lmScore(d, "doc_id", "text",
          d.filter(col("lang") === "en"), "text")
        .withColumn("score_milli",
          round(col("avg_neg_logprob") * 1000).cast("long"))
        .select(col("doc_id"), col("score_milli"))
      graft.ops.Profiling.quantileBuckets(scored, "score_milli",
          Seq(33, 66))
        .orderBy(col("doc_id"))
    },
    oracle =
      s"""$lmScoreCtes,
        |sc AS (SELECT doc_id, CAST(ROUND(ROUND((n_tokens *
        |      ln(nv.n + nv.v + 1) - sum_ln) / n_tokens, 6) * 1000)
        |    AS BIGINT) AS score_milli
        |  FROM agg CROSS JOIN nv),
        |pv AS (SELECT score_milli AS v, COUNT(1) AS c FROM sc GROUP BY 1),
        |cm AS (SELECT v, SUM(c) OVER (ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM pv),
        |tot AS (SELECT COUNT(1) AS n FROM sc),
        |bd AS (SELECT pp.p, MIN(v) AS b FROM cm CROSS JOIN tot
        |  JOIN (SELECT unnest([33, 66]) AS p) pp ON cum * 100 >= pp.p * n
        |  GROUP BY pp.p)
        |SELECT sc.doc_id, sc.score_milli,
        |  CAST(1 + SUM(CASE WHEN sc.score_milli > bd.b THEN 1 ELSE 0 END)
        |    AS INTEGER) AS bucket
        |FROM sc CROSS JOIN bd GROUP BY 1, 2
        |ORDER BY doc_id""".stripMargin),

    // MOSS winnowing fingerprints: word 3-shingle hashes, window w=4,
    // rightmost-min selection — the local fingerprinting scheme whose
    // guarantee (shared runs >= w+k-1 tokens always share a print)
    // makes exact-substring dedup storable at ~2/(w+1) density
    Gate("q187_winnowing", (s, dir) =>
      Dedup.winnowFingerprints(docs(s, dir), "doc_id", "text",
          k = 3, w = 4)
        .orderBy(col("doc_id"), col("pos")),
    oracle =
      s"""WITH t AS (SELECT doc_id,
         |    ${dshingleHashesK("coalesce(text, '')", 3)} AS hs
         |  FROM documents),
         |u AS (SELECT doc_id, hs, len(hs) AS m FROM t),
         |wins AS (SELECT doc_id, hs, m,
         |    unnest(generate_series(1, GREATEST(m - 3, 1))) AS j FROM u),
         |b AS (SELECT doc_id, hs, j, LEAST(j + 3, m) AS jj FROM wins),
         |sel AS (SELECT doc_id,
         |    CAST(list_max(list_filter(generate_series(j, jj),
         |      i -> hs[i] = list_min(hs[j:jj]))) AS INTEGER) AS pos,
         |    list_min(hs[j:jj]) AS h
         |  FROM b)
         |SELECT DISTINCT doc_id, pos, h FROM sel
         |ORDER BY doc_id, pos""".stripMargin),

    // per-node local clustering coefficient of the q131 bipartite-ish
    // part/supp residue graph: exact (degree, n_triangles) integers +
    // the rounded 2T/d(d-1) presentation ratio
    Gate("q188_clustering_coeff", (s, dir) => {
      val e = s.read.parquet(s"$dir/lineitem.parquet")
        .select(pmod(col("l_partkey"), lit(50L)).as("a"),
          pmod(col("l_suppkey"), lit(50L)).as("b"))
      graft.ops.Graph.clusteringCoefficient(e, "a", "b")
        .orderBy(col("node"))
    },
    oracle =
      """WITH raw AS (SELECT l_partkey % 50 AS a, l_suppkey % 50 AS b
        |  FROM lineitem WHERE l_partkey % 50 <> l_suppkey % 50),
        |und AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        |  FROM raw),
        |deg AS (SELECT n, COUNT(1) AS d FROM (
        |    SELECT u AS n FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY 1),
        |ori AS (SELECT
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
        |      THEN u ELSE v END AS s,
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
        |      THEN v ELSE u END AS t
        |  FROM und JOIN deg du ON du.n = u JOIN deg dv ON dv.n = v),
        |wedge AS (SELECT w1.s, w1.t AS x, w2.t AS y
        |  FROM ori w1 JOIN ori w2 ON w1.s = w2.s AND w1.t < w2.t),
        |tri AS (SELECT s, x, y FROM wedge
        |  JOIN und ON und.u = x AND und.v = y),
        |tcnt AS (SELECT node, COUNT(1) AS n_triangles FROM (
        |  SELECT s AS node FROM tri
        |  UNION ALL SELECT x FROM tri UNION ALL SELECT y FROM tri)
        |GROUP BY 1)
        |SELECT deg.n AS node, deg.d AS degree,
        |  COALESCE(t.n_triangles, 0) AS n_triangles,
        |  CASE WHEN deg.d >= 2 THEN
        |    ROUND(2.0 * COALESCE(t.n_triangles, 0)
        |      / (deg.d * (deg.d - 1)), 6)
        |  ELSE NULL END AS coefficient
        |FROM deg LEFT JOIN tcnt t ON t.node = deg.n
        |ORDER BY node""".stripMargin),

    // sorted-neighborhood blocking: within each lang block, docs sort
    // by (n_chars, doc_id) and pair with the next 2 records — O(n·w)
    // linkage candidates, no equi-key needed
    Gate("q189_sorted_neighborhood", (s, dir) =>
      graft.ops.Fuzzy.sortedNeighborhood(
        docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", Seq("lang"), Seq("n_chars"), w = 3)
        .orderBy(col("lang"), col("id_a"), col("gap")),
    oracle =
      """WITH l AS (SELECT lang, doc_id AS id_a,
        |    LEAD(doc_id, 1) OVER (PARTITION BY lang
        |      ORDER BY n_chars, doc_id) AS b1,
        |    LEAD(doc_id, 2) OVER (PARTITION BY lang
        |      ORDER BY n_chars, doc_id) AS b2
        |  FROM documents)
        |SELECT lang, id_a, id_b, gap FROM (
        |  SELECT lang, id_a, b1 AS id_b, 1 AS gap FROM l
        |  UNION ALL SELECT lang, id_a, b2 AS id_b, 2 AS gap FROM l)
        |WHERE id_b IS NOT NULL
        |ORDER BY lang, id_a, gap""".stripMargin),

    // item co-occurrence PMI over (user, purchased props.k) presence:
    // the item2item co-engagement signal. Purchases keep the per-user
    // item set scale-STABLE (median 12, max ~25 at every SF — clicks
    // saturate toward the whole catalog as SF grows), so the 20-item
    // activity cap binds on the hyperactive tail at every scale
    Gate("q190_cooccurrence", (s, dir) => {
      val ev = events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
            .cast("long").as("item"))
      EventAnalytics.cooccurrencePmi(ev, "user_id", "item",
          maxItemsPerKey = 20, minPairCount = 2)
        .orderBy(col("item_a"), col("item_b"))
    },
    oracle =
      """WITH ki AS (SELECT DISTINCT user_id AS k,
        |    CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '')
        |      AS BIGINT) AS i
        |  FROM events
        |  WHERE event_type = 'purchase' AND user_id IS NOT NULL
        |    AND NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '')
        |      IS NOT NULL),
        |sz AS (SELECT k, COUNT(1) AS n FROM ki GROUP BY 1),
        |kept AS (SELECT ki.k, ki.i FROM ki JOIN sz USING (k)
        |  WHERE sz.n <= 20),
        |nk AS (SELECT COUNT(DISTINCT k) AS n_keys FROM kept),
        |marg AS (SELECT i, COUNT(1) AS m FROM kept GROUP BY 1),
        |p AS (SELECT a.i AS item_a, b.i AS item_b, COUNT(1) AS n_ab
        |  FROM kept a JOIN kept b ON a.k = b.k AND a.i < b.i
        |  GROUP BY 1, 2 HAVING COUNT(1) >= 2)
        |SELECT item_a, item_b, n_ab, ma.m AS n_a, mb.m AS n_b,
        |  nk.n_keys,
        |  ROUND(LN(CAST(n_ab * nk.n_keys AS DOUBLE)
        |    / CAST(ma.m * mb.m AS DOUBLE)), 6) AS pmi
        |FROM p JOIN marg ma ON ma.i = p.item_a
        |JOIN marg mb ON mb.i = p.item_b
        |CROSS JOIN nk ORDER BY item_a, item_b""".stripMargin),

    // decision-stump information gain: which candidate feature predicts
    // the embedding label — sign-of-dimension features carry signal,
    // the id-parity control sits at ~0 bits
    Gate("q191_info_gain", (s, dir) => {
      val e = emb(s, dir).select(col("label"),
        (element_at(col("embedding"), 1) > 0).as("dim1_pos"),
        (element_at(col("embedding"), 2) > 0).as("dim2_pos"),
        (col("vec_id") % 2 === 0).as("id_parity"))
      graft.ops.Profiling.infoGain(e,
          Seq("dim1_pos", "dim2_pos", "id_parity"), "label")
        .orderBy(col("feature"))
    },
    oracle =
      """WITH m AS (
        |  SELECT 'dim1_pos' AS f, CAST(embedding[1] > 0 AS VARCHAR) AS v,
        |    CAST(label AS VARCHAR) AS l FROM embeddings
        |  WHERE label IS NOT NULL AND embedding[1] IS NOT NULL
        |  UNION ALL
        |  SELECT 'dim2_pos', CAST(embedding[2] > 0 AS VARCHAR),
        |    CAST(label AS VARCHAR) FROM embeddings
        |  WHERE label IS NOT NULL AND embedding[2] IS NOT NULL
        |  UNION ALL
        |  SELECT 'id_parity', CAST(vec_id % 2 = 0 AS VARCHAR),
        |    CAST(label AS VARCHAR) FROM embeddings
        |  WHERE label IS NOT NULL AND vec_id IS NOT NULL),
        |cells AS (SELECT f, v, l, COUNT(1) AS c FROM m GROUP BY 1, 2, 3),
        |perfv AS (SELECT f, v, CAST(SUM(c) AS BIGINT) AS cv,
        |    SUM(CAST(c AS DOUBLE) * log2(c)) AS scl
        |  FROM cells GROUP BY 1, 2),
        |perf AS (SELECT f, CAST(SUM(cv) AS BIGINT) AS n,
        |    SUM(CAST(cv AS DOUBLE) * log2(cv)) AS sv,
        |    SUM(scl) AS svl
        |  FROM perfv GROUP BY 1),
        |perl AS (SELECT f,
        |    SUM(CAST(cl AS DOUBLE) * log2(cl)) AS sl
        |  FROM (SELECT f, l, CAST(SUM(c) AS BIGINT) AS cl
        |    FROM cells GROUP BY 1, 2) GROUP BY 1)
        |SELECT f AS feature, n,
        |  ROUND(log2(n) - sl / n, 6) AS h_label,
        |  ROUND((sv - svl) / n, 6) AS h_cond,
        |  ROUND((log2(n) - sl / n) - (sv - svl) / n, 6) AS gain
        |FROM perf JOIN perl USING (f) ORDER BY feature""".stripMargin),

    // χ² distinctive keywords per source: cross-class contrast (vs
    // q86's within-doc tf-idf) — top-5 words whose document frequency
    // is most skewed toward one source
    Gate("q192_chi2_keywords", (s, dir) =>
      Corpus.chi2Keywords(docs(s, dir), "doc_id", "source", "text",
          topK = 5, minDf = 2)
        .orderBy(col("source"), col("rank")),
    oracle =
      """WITH base AS (SELECT doc_id, CAST(source AS VARCHAR) AS cls,
        |    list_distinct(list_filter(
        |      regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
        |      x -> x <> '')) AS ws
        |  FROM documents),
        |nd AS (SELECT COUNT(1) AS n_docs FROM base),
        |cn AS (SELECT cls, COUNT(1) AS class_n FROM base GROUP BY 1),
        |pres AS (SELECT cls, doc_id, unnest(ws) AS w FROM base),
        |cells AS (SELECT w, cls, COUNT(1) AS n11 FROM pres GROUP BY 1, 2),
        |wdf AS (SELECT w, CAST(SUM(n11) AS BIGINT) AS df FROM cells
        |  GROUP BY 1 HAVING SUM(n11) >= 2),
        |sc AS (SELECT cells.cls, cells.w, n11, df, class_n, n_docs,
        |    ROUND(CAST(n_docs AS DOUBLE) *
        |      (CAST(n11 * (n_docs - df - class_n + n11)
        |          - (df - n11) * (class_n - n11) AS DOUBLE) *
        |       CAST(n11 * (n_docs - df - class_n + n11)
        |          - (df - n11) * (class_n - n11) AS DOUBLE)) /
        |      (CAST(df AS DOUBLE) * CAST(n_docs - df AS DOUBLE) *
        |       CAST(class_n AS DOUBLE) *
        |       CAST(n_docs - class_n AS DOUBLE)), 6) AS chi2
        |  FROM cells JOIN wdf USING (w)
        |  JOIN cn ON cn.cls = cells.cls CROSS JOIN nd
        |  WHERE df < n_docs AND class_n < n_docs)
        |SELECT cls AS source, w AS word, n11, df, class_n, n_docs, chi2,
        |  CAST(rnk AS INTEGER) AS rank
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cls
        |    ORDER BY chi2 DESC, w ASC) AS rnk FROM sc)
        |WHERE rnk <= 5 ORDER BY source, rank""".stripMargin),

    // two-sample KS distance between even- and odd-shard event values
    // (milli-quantized), with 1/5 of the odd shard's views dropped via
    // the q137 fixture trick — D and its location are exact integers
    Gate("q193_ks_test", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("vmil", floor(col("value") * 1000 + 0.5).cast("long"))
      val a = ev.filter(col("event_id") % 2 === 0)
      val b = ev.filter(col("event_id") % 2 === 1)
        .filter(!(col("event_type") === "view" && col("event_id") % 5 === 1))
      graft.ops.Profiling.ksTest(a, b, "vmil")
    },
    oracle =
      """WITH ev AS (SELECT event_id, event_type,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vmil
        |  FROM events),
        |a AS (SELECT vmil FROM ev
        |  WHERE event_id % 2 = 0 AND vmil IS NOT NULL),
        |b AS (SELECT vmil FROM ev WHERE event_id % 2 = 1
        |  AND NOT (event_type = 'view' AND event_id % 5 = 1)
        |  AND vmil IS NOT NULL),
        |ha AS (SELECT vmil AS v, COUNT(1) AS ca FROM a GROUP BY 1),
        |hb AS (SELECT vmil AS v, COUNT(1) AS cb FROM b GROUP BY 1),
        |grid AS (SELECT COALESCE(ha.v, hb.v) AS v,
        |    COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM ha FULL OUTER JOIN hb ON ha.v = hb.v),
        |cum AS (SELECT v, SUM(ca) OVER (ORDER BY v) AS cuma,
        |    SUM(cb) OVER (ORDER BY v) AS cumb FROM grid),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |    CAST(SUM(cb) AS BIGINT) AS n_b FROM grid),
        |sc AS (SELECT v,
        |    CAST(ABS(cuma * n_b - cumb * n_a) AS BIGINT) AS dnum
        |  FROM cum CROSS JOIN tot)
        |SELECT n_a, n_b,
        |  (SELECT MAX(dnum) FROM sc) AS d_num,
        |  n_a * n_b AS d_den,
        |  (SELECT MIN(v) FROM sc
        |   WHERE dnum = (SELECT MAX(dnum) FROM sc)) AS d_at,
        |  ROUND(CAST((SELECT MAX(dnum) FROM sc) AS DOUBLE)
        |    / CAST(n_a * n_b AS DOUBLE), 6) AS d
        |FROM tot""".stripMargin),

    // per-user burstiness: Fano factor of hourly event counts over the
    // user's active span — ~1 organic, >>1 bursty, ~0 metronomic
    Gate("q194_burstiness", (s, dir) =>
      EventAnalytics.burstiness(
        events(s, dir),
        "user_id", "ts", bucketUs = 3600000000L)
        .orderBy(col("user_id")),
    oracle =
      """WITH e AS (SELECT user_id,
        |    epoch_us(ts) // 3600000000 AS b FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |pb AS (SELECT user_id, b, COUNT(1) AS c FROM e GROUP BY 1, 2),
        |agg AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
        |    CAST(SUM(c * c) AS BIGINT) AS s2,
        |    MAX(b) - MIN(b) + 1 AS n_buckets
        |  FROM pb GROUP BY 1)
        |SELECT user_id, n_events, n_buckets,
        |  n_buckets * s2 - n_events * n_events AS fano_num,
        |  n_buckets * n_events AS fano_den,
        |  ROUND(CAST(n_buckets * s2 - n_events * n_events AS DOUBLE)
        |    / CAST(n_buckets * n_events AS DOUBLE), 6) AS fano
        |FROM agg ORDER BY user_id""".stripMargin),

    // product-quantization codes: 64 dims → 4 subspaces × 4 codewords
    // (integer Lloyd's per subspace, the q88 arithmetic) — the
    // compression step that makes billion-vector ANN RAM-resident
    Gate("q195_pq_codes", (s, dir) =>
      Clustering.pqCodes(emb(s, dir), "vec_id", "embedding",
          dims = 64, m = 4, k = 4, iters = 2)
        .orderBy(col("vec_id")),
    oracle =
      s"""$dpqCtes
         |SELECT q.vec_id,
         |  a20.cluster AS code_0, a20.d2 AS dist2_0,
         |  a21.cluster AS code_1, a21.d2 AS dist2_1,
         |  a22.cluster AS code_2, a22.d2 AS dist2_2,
         |  a23.cluster AS code_3, a23.d2 AS dist2_3
         |FROM q
         |JOIN a20 ON a20.vec_id = q.vec_id
         |JOIN a21 ON a21.vec_id = q.vec_id
         |JOIN a22 ON a22.vec_id = q.vec_id
         |JOIN a23 ON a23.vec_id = q.vec_id
         |ORDER BY q.vec_id""".stripMargin),

    // PQ asymmetric-distance search: 8 query vectors scan the coded
    // corpus via per-query lookup tables — exact integer ADC distances,
    // bounded map-side top-3 per query
    Gate("q196_pq_adc", (s, dir) => {
      val e = emb(s, dir)
      Clustering.pqAdcTopK(e, e.filter(col("vec_id") < 8),
          "vec_id", "embedding", dims = 64, m = 4, k = 4, iters = 2,
          topK = 3)
        .orderBy(col("query_id"), col("rank"))
    },
    oracle = {
      // per-query LUT per subspace: cross the 8 queries with the final
      // codebook m1<j>, sum exact squared diffs per codeword
      def lut(j: Int): String = {
        val off = j * 16
        s"""lut$j AS (SELECT qr.vec_id AS qid, c.j AS cw,
           |    CAST(SUM((qr.qv[$off + c.i] - c.m)
           |      * (qr.qv[$off + c.i] - c.m)) AS BIGINT) AS d
           |  FROM q qr CROSS JOIN m1$j c
           |  WHERE qr.vec_id < 8 GROUP BY 1, 2)""".stripMargin
      }
      s"""$dpqCtes,
         |${(0 until 4).map(lut).mkString(",\n")},
         |scored AS (SELECT l0.qid, d0.vec_id AS nid,
         |    l0.d + l1.d + l2.d + l3.d AS ad
         |  FROM a20 d0
         |  JOIN a21 d1 ON d1.vec_id = d0.vec_id
         |  JOIN a22 d2 ON d2.vec_id = d0.vec_id
         |  JOIN a23 d3 ON d3.vec_id = d0.vec_id
         |  JOIN lut0 l0 ON l0.cw = d0.cluster
         |  JOIN lut1 l1 ON l1.cw = d1.cluster AND l1.qid = l0.qid
         |  JOIN lut2 l2 ON l2.cw = d2.cluster AND l2.qid = l0.qid
         |  JOIN lut3 l3 ON l3.cw = d3.cluster AND l3.qid = l0.qid
         |  WHERE d0.vec_id <> l0.qid)
         |SELECT qid AS query_id, nid AS neighbor_id, ad AS adc_dist2,
         |  CAST(rnk AS INTEGER) AS rank
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY ad ASC, nid ASC) AS rnk FROM scored)
         |WHERE rnk <= 3 ORDER BY query_id, rank""".stripMargin
    }),

    // expectations gate: five rule kinds over a snapshot with seeded
    // duplicates — range/set/unique/FK violations all fire with exact
    // counts (row-local rules share ONE scan)
    Gate("q197_validate", (s, dir) => {
      val d0 = docs(s, dir)
      val d = d0.unionAll(d0.filter(col("doc_id") % 100 === 0))
      graft.ops.Validate.validate(d, Seq(
        graft.ops.Validate.NotNull("lang"),
        graft.ops.Validate.InRange("n_chars", 0L, 800L),
        graft.ops.Validate.InSet("source",
          (0 until 10).map(i => s"src$i")),
        graft.ops.Validate.Unique(Seq("doc_id")),
        graft.ops.Validate.ForeignKey(Seq("doc_id"),
          s.read.parquet(s"$dir/orders.parquet"),
          Seq("o_orderkey"), "orders")))
    },
    oracle = {
      val srcs = (0 until 10).map(i => s"'src$i'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents
         |    UNION ALL SELECT * FROM documents WHERE doc_id % 100 = 0),
         |n AS (SELECT COUNT(1) AS n_rows FROM d)
         |SELECT * FROM (
         |  SELECT 'not_null(lang)' AS rule, n.n_rows,
         |    (SELECT COUNT(1) FROM d WHERE lang IS NULL) AS n_violations
         |  FROM n
         |  UNION ALL SELECT 'in_range(n_chars,0,800)', n.n_rows,
         |    (SELECT COUNT(1) FROM d WHERE n_chars IS NOT NULL
         |     AND (n_chars < 0 OR n_chars > 800)) FROM n
         |  UNION ALL SELECT 'in_set(source)', n.n_rows,
         |    (SELECT COUNT(1) FROM d WHERE source IS NOT NULL
         |     AND source NOT IN ($srcs)) FROM n
         |  UNION ALL SELECT 'unique(doc_id)', n.n_rows,
         |    (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM
         |      (SELECT COUNT(1) AS c FROM d GROUP BY doc_id
         |       HAVING COUNT(1) > 1)) FROM n
         |  UNION ALL SELECT 'foreign_key(doc_id→orders)', n.n_rows,
         |    (SELECT COUNT(1) FROM d WHERE doc_id IS NOT NULL
         |     AND doc_id NOT IN (SELECT o_orderkey FROM orders)) FROM n
         |) ORDER BY rule""".stripMargin
    }),

    // INCREMENTAL near-dup: a perturbed 1-in-5 batch probes the standing
    // corpus through the LSH band index — the crawl-delta dedup loop;
    // no batch×corpus join ever forms
    Gate("q198_minhash_incremental", (s, dir) => {
      val d = docs(s, dir)
      val batch = d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" novelterm")).as("text"))
      Dedup.minhashNearDupsAgainst(batch, d, "doc_id", "text",
          bands = 8, rows = 4, shingleK = 3, threshold = 0.2,
          hashedBandKeys = false) // string band keys: DuckDB-replayable
        .orderBy(col("batch_id"), col("corpus_id"))
    },
    // the q52 signature replay on BOTH sides — corpus as-is, batch =
    // every 5th doc with ' novelterm' appended and id +100000 — banded
    // equi-match between the sides, exact Jaccard verify
    oracle = {
      val shc = dshingleHashes
      val shb = dshingleHashesK("text || ' novelterm'", 3)
      val mhCols = Dedup.minhashParams(32).zipWithIndex.map { case ((a, b), i) =>
        s"list_min(list_transform(sh, h -> (h * $a + $b) % ${Dedup.MinhashP})) AS mh_$i"
      }.mkString(",\n  ")
      val bandMatch = (0 until 8).map { bnd =>
        "(" + (bnd * 4 until bnd * 4 + 4).map(i => s"b.mh_$i = c.mh_$i").mkString(" AND ") + ")"
      }.mkString(" OR ")
      s"""WITH t AS (SELECT doc_id, $shc AS sh FROM documents),
         |bt AS (SELECT doc_id + 100000 AS doc_id, $shb AS sh
         |  FROM documents WHERE doc_id % 5 = 0),
         |sigc AS (SELECT doc_id, sh, $mhCols FROM t),
         |sigb AS (SELECT doc_id, sh, $mhCols FROM bt),
         |cand AS (
         |  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
         |    list_distinct(b.sh) AS sa, list_distinct(c.sh) AS sb
         |  FROM sigb b JOIN sigc c ON ($bandMatch)),
         |j AS (SELECT batch_id, corpus_id,
         |  CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
         |    len(list_distinct(list_concat(sa, sb))) AS jac
         |  FROM cand)
         |SELECT batch_id, corpus_id, ROUND(jac, 6) AS jaccard
         |FROM j WHERE jac >= 0.2 ORDER BY 1, 2""".stripMargin
    }),

    // PSI drift between the q193 shards: baseline-decile bins with
    // Laplace smoothing — the per-bin decomposition that says WHERE the
    // dropped-views mass moved
    Gate("q199_psi", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("vmil", floor(col("value") * 1000 + 0.5).cast("long"))
      val a = ev.filter(col("event_id") % 2 === 0)
      val b = ev.filter(col("event_id") % 2 === 1)
        .filter(!(col("event_type") === "view" && col("event_id") % 5 === 1))
      graft.ops.Profiling.psi(a, b, "vmil")
        .orderBy(col("bin"))
    },
    oracle =
      """WITH ev AS (SELECT event_id, event_type,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vmil
        |  FROM events),
        |a AS (SELECT event_id, vmil FROM ev
        |  WHERE event_id % 2 = 0 AND vmil IS NOT NULL),
        |b AS (SELECT event_id, vmil FROM ev WHERE event_id % 2 = 1
        |  AND NOT (event_type = 'view' AND event_id % 5 = 1)
        |  AND vmil IS NOT NULL),
        |pv AS (SELECT vmil AS v, COUNT(1) AS c FROM a GROUP BY 1),
        |cm AS (SELECT v, SUM(c) OVER (ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM pv),
        |tot AS (SELECT COUNT(1) AS n FROM a),
        |bd AS (SELECT pp.p, MIN(v) AS bnd FROM cm CROSS JOIN tot
        |  JOIN (SELECT unnest([10, 20, 30, 40, 50, 60, 70, 80, 90]) AS p)
        |    pp ON cum * 100 >= pp.p * n
        |  GROUP BY pp.p),
        |bdx AS (SELECT bnd, ROW_NUMBER() OVER (ORDER BY bnd) AS r
        |  FROM bd),
        |ha AS (SELECT bin, COUNT(1) AS n_a FROM (
        |    SELECT x.event_id,
        |      1 + SUM(CASE WHEN x.vmil > bd.bnd THEN 1 ELSE 0 END) AS bin
        |    FROM a x CROSS JOIN bd GROUP BY x.event_id) GROUP BY 1),
        |hb AS (SELECT bin, COUNT(1) AS n_b FROM (
        |    SELECT x.event_id,
        |      1 + SUM(CASE WHEN x.vmil > bd.bnd THEN 1 ELSE 0 END) AS bin
        |    FROM b x CROSS JOIN bd GROUP BY x.event_id) GROUP BY 1),
        |bins AS (SELECT unnest(range(1, 11)) AS bin),
        |grid AS (SELECT bins.bin, bdx.bnd AS lo,
        |    COALESCE(ha.n_a, 0) AS n_a, COALESCE(hb.n_b, 0) AS n_b
        |  FROM bins LEFT JOIN bdx ON bdx.r = bins.bin - 1
        |  LEFT JOIN ha ON ha.bin = bins.bin
        |  LEFT JOIN hb ON hb.bin = bins.bin),
        |t2 AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
        |    CAST(SUM(n_b) AS BIGINT) AS tb FROM grid),
        |sc AS (SELECT bin, lo, n_a, n_b,
        |    (CAST(n_a + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE)
        |     - CAST(n_b + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE))
        |    * LN((CAST(n_a + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE))
        |        / (CAST(n_b + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE)))
        |      AS t
        |  FROM grid CROSS JOIN t2)
        |SELECT CAST(bin AS INTEGER) AS bin, lo,
        |  CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b, ROUND(t, 6) AS term,
        |  (SELECT ROUND(SUM(t), 6) FROM sc) AS psi
        |FROM sc ORDER BY bin""".stripMargin),

    // Jensen-Shannon drift between the English corpus slice and the
    // rest: top-20 diverging words + the total — the lexical twin of
    // q199's numeric PSI
    Gate("q200_js_divergence", (s, dir) => {
      val d = docs(s, dir)
      graft.ops.Corpus.jsDivergence(
        d.filter(col("lang") === "en"),
        d.filter(col("lang") =!= "en"),
        "text", topK = 20, minCount = 3L)
    },
    oracle =
      """WITH wa AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0)) AS word FROM documents
        |  WHERE lang = 'en'),
        |wb AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0)) AS word FROM documents
        |  WHERE lang <> 'en'),
        |ca AS (SELECT word, COUNT(1) AS n_a FROM wa GROUP BY 1),
        |cb AS (SELECT word, COUNT(1) AS n_b FROM wb GROUP BY 1),
        |grid AS (SELECT word, COALESCE(n_a, 0) AS n_a,
        |    COALESCE(n_b, 0) AS n_b
        |  FROM ca FULL OUTER JOIN cb USING (word)
        |  WHERE COALESCE(n_a, 0) + COALESCE(n_b, 0) >= 3),
        |t2 AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
        |    CAST(SUM(n_b) AS BIGINT) AS tb FROM grid),
        |sc AS (SELECT word, n_a, n_b,
        |    CASE WHEN n_a > 0 THEN
        |      (CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE))
        |      * LN((CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE))
        |        / ((CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
        |            + CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)) / 2))
        |      ELSE 0.0 END / 2
        |    + CASE WHEN n_b > 0 THEN
        |      (CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE))
        |      * LN((CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE))
        |        / ((CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
        |            + CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)) / 2))
        |      ELSE 0.0 END / 2 AS c
        |  FROM grid CROSS JOIN t2),
        |tot AS (SELECT ROUND(list_reduce(list(c ORDER BY word),
        |    (x, y) -> x + y), 6) AS jsd FROM sc)
        |SELECT word, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b, ROUND(c, 6) AS term, tot.jsd
        |FROM sc CROSS JOIN tot
        |ORDER BY c DESC, word LIMIT 20""".stripMargin),

    // distinct-n diversity per language: the templated-corpus detector
    // (low distinct-2/3 ratio = the slice repeats itself)
    Gate("q201_ngram_diversity", (s, dir) =>
      graft.ops.Corpus.ngramDiversity(docs(s, dir), "lang", "text")
        .orderBy(col("lang"), col("n")),
    oracle =
      """WITH w AS (SELECT lang, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0) AS ws FROM documents),
        |g AS (
        |  SELECT lang, 1 AS n, unnest(ws) AS gram FROM w
        |  UNION ALL
        |  SELECT lang, 2 AS n, unnest(CASE WHEN len(ws) >= 2 THEN
        |      list_transform(generate_series(1, len(ws) - 1),
        |        i -> array_to_string(ws[i:i+1], ' '))
        |    ELSE [] END) AS gram FROM w
        |  UNION ALL
        |  SELECT lang, 3 AS n, unnest(CASE WHEN len(ws) >= 3 THEN
        |      list_transform(generate_series(1, len(ws) - 2),
        |        i -> array_to_string(ws[i:i+2], ' '))
        |    ELSE [] END) AS gram FROM w),
        |c AS (SELECT lang, n, gram, COUNT(1) AS occ
        |  FROM g GROUP BY 1, 2, 3)
        |SELECT lang, CAST(n AS INTEGER) AS n,
        |  CAST(SUM(occ) AS BIGINT) AS total_ngrams,
        |  CAST(COUNT(1) AS BIGINT) AS distinct_ngrams,
        |  ROUND(CAST(COUNT(1) AS DOUBLE) / CAST(SUM(occ) AS DOUBLE), 6)
        |    AS distinct_ratio
        |FROM c GROUP BY 1, 2 ORDER BY lang, n""".stripMargin),

    // compaction planner over a synthetic (source, shard) file manifest:
    // small files quantize into ~target rewrite groups, big ones pass
    Gate("q202_compaction_plan", (s, dir) => {
      val mf = docs(s, dir)
        .groupBy(concat(col("source"), lit("_"),
          pmod(col("doc_id"), lit(50L))).as("file"))
        .agg(sum(col("n_chars")).as("size_bytes"))
      graft.ops.Layout.compactionPlan(mf, "file", "size_bytes", 5000L)
        .orderBy(col("file"))
    },
    oracle =
      """WITH mf AS (SELECT source || '_' || CAST(doc_id % 50 AS VARCHAR)
        |    AS file, CAST(SUM(n_chars) AS BIGINT) AS size_bytes
        |  FROM documents GROUP BY 1),
        |small AS (SELECT file, size_bytes,
        |    CAST(floor(CAST(COALESCE(SUM(size_bytes) OVER (
        |        ORDER BY file ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND 1 PRECEDING), 0) AS DOUBLE) / 5000.0) AS BIGINT)
        |      AS grp
        |  FROM mf WHERE size_bytes < 5000),
        |per AS (SELECT grp, CAST(COUNT(1) AS BIGINT) AS grp_files,
        |    CAST(SUM(size_bytes) AS BIGINT) AS grp_bytes
        |  FROM small GROUP BY 1)
        |SELECT file, size_bytes, grp, grp_files, grp_bytes
        |FROM small JOIN per USING (grp)
        |UNION ALL
        |SELECT file, size_bytes, NULL AS grp, 1 AS grp_files,
        |  size_bytes AS grp_bytes
        |FROM mf WHERE size_bytes >= 5000
        |ORDER BY file""".stripMargin),

    // per-doc codepoint entropy: the gibberish/binary-junk detector
    Gate("q203_char_entropy", (s, dir) =>
      graft.ops.TextAnalysis.charEntropyStats(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
    oracle =
      """WITH c AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, length(text)), i -> text[i:i])) AS ch
        |  FROM documents),
        |h AS (SELECT doc_id, ch, COUNT(1) AS c FROM c GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_codepoints,
        |    CAST(COUNT(1) AS BIGINT) AS distinct_codepoints
        |  FROM h GROUP BY 1),
        |e AS (SELECT h.doc_id, list(
        |    (CAST(c AS DOUBLE) / CAST(n_codepoints AS DOUBLE))
        |    * LN(CAST(c AS DOUBLE) / CAST(n_codepoints AS DOUBLE))
        |    ORDER BY ch) AS terms
        |  FROM h JOIN n USING (doc_id) GROUP BY 1)
        |SELECT n.doc_id, n.n_codepoints, n.distinct_codepoints,
        |  ROUND(-list_reduce(e.terms, (a, b) -> a + b), 6)
        |    AS char_entropy
        |FROM n JOIN e USING (doc_id) ORDER BY doc_id""".stripMargin),

    // one-pass Poisson-bootstrap CI on mean(n_chars) per lang: exact
    // integer replicate sums, content-addressed weights, no RNG state
    Gate("q204_bootstrap_ci", (s, dir) =>
      graft.ops.Profiling.bootstrapCI(docs(s, dir), "lang", "n_chars",
        "doc_id", b = 40, alpha = 0.05)
        .orderBy(col("lang")),
    oracle =
      s"""WITH reps AS (SELECT unnest(range(0, 40)) AS b),
        |u AS (SELECT d.lang, d.n_chars, r.b,
        |    CAST(${dpolyhash(
               "CAST(d.doc_id AS VARCHAR) || '_' || CAST(r.b AS VARCHAR)")}
        |      % 1000000 AS DOUBLE) / 1000000.0 AS u
        |  FROM documents d CROSS JOIN reps r),
        |w AS (SELECT lang, n_chars, b,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238462 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         ELSE 5 END AS w
        |  FROM u),
        |m AS (SELECT lang, b,
        |    CAST(SUM(w * n_chars) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS m
        |  FROM w GROUP BY 1, 2 HAVING SUM(w) > 0),
        |rk AS (SELECT lang, m,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY m) AS r,
        |    COUNT(1) OVER (PARTITION BY lang) AS nr FROM m),
        |base AS (SELECT lang, CAST(COUNT(1) AS BIGINT) AS n,
        |    CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE)
        |      AS mean
        |  FROM documents GROUP BY 1),
        |lo AS (SELECT lang, m AS ci_lo FROM rk
        |  WHERE r = CAST(floor(0.025 * nr) AS BIGINT) + 1),
        |hi AS (SELECT lang, m AS ci_hi, CAST(nr AS BIGINT) AS n_reps
        |  FROM rk WHERE r = CAST(ceil(0.975 * nr) AS BIGINT))
        |SELECT base.lang, n, mean, ci_lo, ci_hi, n_reps
        |FROM base JOIN lo USING (lang) JOIN hi USING (lang)
        |ORDER BY lang""".stripMargin),

    // segment-level language mixture over two-paragraph synthetic docs
    // (each doc glued to its successor, which is often another language)
    Gate("q205_lang_mixture", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val d2 = d.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("text2"))
      val glued = d.join(d2, "doc_id")
        .select(col("doc_id"),
          concat(col("text"), lit("\n\n"), col("text2")).as("text"))
      graft.ops.TextAnalysis.langMixture(glued, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    oracle =
      s"""WITH p AS (SELECT d1.doc_id,
        |    d1.text || chr(10) || chr(10) || d2.text AS text
        |  FROM documents d1
        |  JOIN documents d2 ON d2.doc_id = d1.doc_id + 1),
        |segs AS (SELECT doc_id,
        |    unnest(string_split(text, chr(10) || chr(10))) AS seg
        |  FROM p),
        |sl AS (SELECT doc_id, ${langCaseExpr("seg")} AS seg_lang
        |  FROM segs WHERE length(trim(seg)) > 0),
        |c AS (SELECT doc_id, seg_lang, COUNT(1) AS c
        |  FROM sl GROUP BY 1, 2),
        |rk AS (SELECT doc_id, seg_lang, c, ROW_NUMBER() OVER (
        |    PARTITION BY doc_id ORDER BY c DESC, seg_lang ASC) AS rn
        |  FROM c)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_segments,
        |  CAST(COUNT(1) AS BIGINT) AS n_langs,
        |  MAX(CASE WHEN rn = 1 THEN seg_lang END) AS majority_lang,
        |  COUNT(1) > 1 AS mixed
        |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // embedding health: dim 3 zeroed (dead), dim 7 pinned (collapsed) —
    // the vector-QA pass must flag exactly those
    Gate("q206_dim_health", (s, dir) => {
      val e = emb(s, dir).withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          when(i === 3, lit(0.0f)).when(i === 7, lit(0.5f)).otherwise(x)))
      graft.ops.Similarity.dimHealth(e, "embedding")
        .orderBy(col("dim"))
    },
    oracle =
      """WITH v AS (SELECT vec_id, unnest(embedding) AS x,
        |    generate_subscripts(embedding, 1) - 1 AS dim
        |  FROM embeddings),
        |o AS (SELECT dim, CASE WHEN dim = 3 THEN CAST(0.0 AS FLOAT)
        |    WHEN dim = 7 THEN CAST(0.5 AS FLOAT) ELSE x END AS xf
        |  FROM v),
        |q AS (SELECT dim,
        |    CAST(floor(CAST(xf AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS qv
        |  FROM o),
        |g AS (SELECT dim, COUNT(1) AS n,
        |    SUM(CASE WHEN qv = 0 THEN 1 ELSE 0 END) AS n_zero,
        |    MIN(qv) AS min_q, MAX(qv) AS max_q,
        |    SUM(qv) AS s, SUM(qv * qv) AS ss
        |  FROM q GROUP BY 1)
        |SELECT CAST(dim AS INTEGER) AS dim, CAST(n AS BIGINT) AS n,
        |  CAST(n_zero AS BIGINT) AS n_zero,
        |  CAST(min_q AS BIGINT) AS min_q, CAST(max_q AS BIGINT) AS max_q,
        |  ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_q,
        |  ROUND(CAST(n * ss - s * s AS DOUBLE) / CAST(n * n AS DOUBLE), 6)
        |    AS var_q,
        |  n_zero = n AS dead,
        |  (n * ss - s * s) * 1 < n * n * 1 AS collapsed
        |FROM g ORDER BY dim""".stripMargin),

    // CUPED variance-reduced A/B readout: pre-period views as the
    // covariate, purchase milli-value as the metric, variant = user % 2
    Gate("q207_cuped", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("vmil", floor(col("value") * 1000 + 0.5).cast("long"))
      val units = ev.groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase", col("vmil"))
            .otherwise(0L)).as("y"))
        .withColumn("variant", (col("user_id") % 2).cast("int"))
      graft.ops.EventAnalytics.cuped(units, "variant", "x", "y")
        .orderBy(col("variant"))
    },
    oracle =
      """WITH ev AS (SELECT user_id, event_type,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vmil
        |  FROM events),
        |u AS (SELECT user_id, CAST(user_id % 2 AS INTEGER) AS variant,
        |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
        |    SUM(CASE WHEN event_type = 'purchase' THEN vmil ELSE 0 END)
        |      AS y
        |  FROM ev GROUP BY 1, 2),
        |p AS (SELECT COUNT(1) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM u),
        |t AS (SELECT CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
        |    ELSE CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) END AS theta,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x_all
        |  FROM p),
        |v AS (SELECT variant, COUNT(1) AS nv, SUM(x) AS sxv,
        |    SUM(y) AS syv FROM u GROUP BY 1)
        |SELECT variant, CAST(nv AS BIGINT) AS n,
        |  ROUND(CAST(sxv AS DOUBLE) / CAST(nv AS DOUBLE), 6) AS mean_x,
        |  ROUND(CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE), 6) AS mean_y,
        |  ROUND(CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE)
        |    - theta * (CAST(sxv AS DOUBLE) / CAST(nv AS DOUBLE)
        |               - mean_x_all), 6) AS adj_mean,
        |  ROUND(theta, 6) AS theta
        |FROM v CROSS JOIN t ORDER BY variant""".stripMargin),

    // Fellegi-Sunter linkage weights from labeled pairs (same-source =
    // match truth; lang/length/first-word agreement as evidence fields)
    Gate("q208_fellegi_sunter", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        col("source"), col("n_chars"),
        regexp_extract(col("text"), "^[^\\s]+", 0).as("w1"))
      val d2 = d.select((col("doc_id") - 250).as("doc_id"),
        col("lang").as("lang2"), col("source").as("source2"),
        col("n_chars").as("n2"), col("w1").as("w12"))
      val pairs = d.join(d2, "doc_id")
        .select((col("source") === col("source2")).as("is_match"),
          (col("lang") === col("lang2")).as("lang_agree"),
          (abs(col("n_chars") - col("n2")) <= 20).as("len_agree"),
          (col("w1") === col("w12")).as("word_agree"))
      graft.ops.Fuzzy.fellegiSunter(pairs, "is_match",
        Seq("lang_agree", "len_agree", "word_agree"))
        .orderBy(col("field"))
    },
    oracle = {
      val fieldSql = Seq("lang_agree", "len_agree", "word_agree").map { f =>
        s"""SELECT '$f' AS field, nm AS n_match, am_$f AS n_agree_match,
           |  nu AS n_nonmatch, au_$f AS n_agree_nonmatch,
           |  ROUND(m_$f, 6) AS m, ROUND(u_$f, 6) AS u,
           |  ROUND(LN(m_$f / u_$f), 6) AS w_agree,
           |  ROUND(LN((1.0 - m_$f) / (1.0 - u_$f)), 6) AS w_disagree
           |FROM agg""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH d AS (SELECT doc_id, lang, source, n_chars,
         |    regexp_extract(text, '^[^\\s]+') AS w1 FROM documents),
         |p AS (SELECT a.source = b.source AS is_match,
         |    a.lang = b.lang AS lang_agree,
         |    abs(a.n_chars - b.n_chars) <= 20 AS len_agree,
         |    a.w1 = b.w1 AS word_agree
         |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 250),
         |agg0 AS (SELECT
         |    CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
         |      AS nm,
         |    CAST(SUM(CASE WHEN NOT is_match THEN 1 ELSE 0 END) AS BIGINT)
         |      AS nu,
         |${Seq("lang_agree", "len_agree", "word_agree").map(f =>
             s"""    CAST(SUM(CASE WHEN is_match AND $f THEN 1 ELSE 0 END)
                |      AS BIGINT) AS am_$f,
                |    CAST(SUM(CASE WHEN NOT is_match AND $f THEN 1 ELSE 0
                |      END) AS BIGINT) AS au_$f""".stripMargin)
             .mkString(",\n")}
         |  FROM p),
         |agg AS (SELECT *,
         |${Seq("lang_agree", "len_agree", "word_agree").map(f =>
             s"""    (CAST(am_$f AS DOUBLE) + 0.5) /
                |      (CAST(nm AS DOUBLE) + 1.0) AS m_$f,
                |    (CAST(au_$f AS DOUBLE) + 0.5) /
                |      (CAST(nu AS DOUBLE) + 1.0) AS u_$f""".stripMargin)
             .mkString(",\n")}
         |  FROM agg0)
         |SELECT * FROM (
         |$fieldSql
         |) ORDER BY field""".stripMargin
    }),

    // BPE training: 6 merge rounds, each merging the most frequent
    // adjacent pair (the merge table q210 encodes with)
    Gate("q209_bpe_train", (s, dir) =>
      graft.ops.Corpus.trainBpe(docs(s, dir), "text", numMerges = 6)
        .orderBy(col("rank")),
    oracle =
      s"""WITH $bpeTrainCtes
         |SELECT CAST(rank AS INTEGER) AS rank, left_sym, right_sym,
         |  pair_count
         |FROM (${(1 to 6).map(i =>
             s"SELECT $i AS rank, a AS left_sym, b AS right_sym, " +
               s"n AS pair_count FROM m$i").mkString("\nUNION ALL\n")})
         |ORDER BY rank""".stripMargin),

    // tokenize the corpus with the 6 trained merges: per-doc token
    // counts + fertility (train on the driver, encode distributed)
    Gate("q210_bpe_encode", (s, dir) => {
      val d = docs(s, dir)
      val merges = graft.ops.Corpus.trainBpe(d, "text", numMerges = 6)
        .orderBy(col("rank")).collect()
        .map(r => (r.getAs[String]("left_sym"),
          r.getAs[String]("right_sym"))).toSeq
      graft.ops.Corpus.bpeEncodeStats(d, "doc_id", "text", merges)
        .orderBy(col("doc_id"))
    },
    oracle = {
      val d = "chr(1)"
      def enc(i: Int): String = {
        val prev = if (i == 1) "we0" else s"we${i - 1}"
        s"""we$i AS (SELECT w0, replace(w,
           |    $d || m.a || $d || $d || m.b || $d,
           |    $d || m.a || m.b || $d) AS w
           |  FROM $prev CROSS JOIN m$i m)""".stripMargin
      }
      s"""WITH $bpeTrainCtes,
         |dw AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(lower(text), '\\s+'),
         |    t -> length(t) > 0)) AS w FROM documents),
         |we0 AS (SELECT w AS w0,
         |    $d || array_to_string(list_transform(
         |      generate_series(1, length(w)), i -> w[i:i]),
         |      $d || $d) || $d AS w
         |  FROM (SELECT DISTINCT w FROM dw)),
         |${(1 to 6).map(enc).mkString(",\n")},
         |tc AS (SELECT w0,
         |    len(string_split(trim(w, chr(1)), $d || $d)) AS t
         |  FROM we6)
         |SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_words,
         |  CAST(SUM(t) AS BIGINT) AS n_tokens,
         |  ROUND(CAST(SUM(t) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE), 6)
         |    AS tokens_per_word
         |FROM dw JOIN tc ON dw.w = tc.w0
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),

    // the Gopher repetition rules: top-2/3/4-gram and dup-5..10-gram
    // word-position coverage per doc
    Gate("q211_gopher_repetition", (s, dir) =>
      graft.ops.TextAnalysis.gopherRepetitionFeatures(
        docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
    oracle = {
      def per(n: Int): String = {
        val sel =
          if (n <= 4)
            s"""t$n AS (SELECT doc_id, g FROM (SELECT doc_id, g,
               |    ROW_NUMBER() OVER (PARTITION BY doc_id
               |      ORDER BY c DESC, g ASC) AS rn
               |  FROM cn$n) WHERE rn = 1),
               |k$n AS (SELECT g$n.doc_id, g$n.j FROM g$n
               |  JOIN t$n ON g$n.doc_id = t$n.doc_id AND g$n.g = t$n.g)"""
              .stripMargin
          else
            s"""t$n AS (SELECT doc_id, g FROM cn$n WHERE c >= 2),
               |k$n AS (SELECT g$n.doc_id, g$n.j FROM g$n
               |  JOIN t$n ON g$n.doc_id = t$n.doc_id AND g$n.g = t$n.g)"""
              .stripMargin
        s"""g$n AS (SELECT doc_id, j,
           |    array_to_string(ws[j:j + ${n - 1}], ' ') AS g
           |  FROM wsl, unnest(generate_series(1, len(ws) - ${n - 1}))
           |    AS u(j)),
           |cn$n AS (SELECT doc_id, g, COUNT(1) AS c FROM g$n
           |  GROUP BY 1, 2),
           |$sel,
           |cov$n AS (SELECT doc_id, COUNT(1) AS cov FROM (
           |  SELECT DISTINCT doc_id, unnest(generate_series(j,
           |    j + ${n - 1})) AS p FROM k$n) GROUP BY 1)""".stripMargin
      }
      val joins = (2 to 10).map(n =>
        s"LEFT JOIN cov$n ON cov$n.doc_id = nw.doc_id").mkString("\n")
      val cols = (2 to 10).map { n =>
        val name = if (n <= 4) s"top_${n}gram_frac" else s"dup_${n}gram_frac"
        s"""  CASE WHEN nw.n > 0 THEN ROUND(
           |    CAST(COALESCE(cov$n.cov, 0) AS DOUBLE)
           |    / CAST(nw.n AS DOUBLE), 6) END AS $name""".stripMargin
      }.mkString(",\n")
      s"""WITH wsl AS (SELECT doc_id, list_filter(
         |    regexp_split_to_array(lower(text), '\\s+'),
         |    t -> length(t) > 0) AS ws FROM documents),
         |nw AS (SELECT doc_id, len(ws) AS n FROM wsl),
         |${(2 to 10).map(per).mkString(",\n")}
         |SELECT nw.doc_id, CAST(nw.n AS BIGINT) AS n_words,
         |$cols
         |FROM nw
         |$joins
         |ORDER BY nw.doc_id""".stripMargin
    }),

    // the Gopher quality rules as integer-exact predicates; minWords
    // lowered to 10 so the synthetic corpus exercises both outcomes
    Gate("q212_gopher_rules", (s, dir) =>
      graft.ops.TextAnalysis.gopherQualityFlags(
        docs(s, dir), "doc_id", "text", minWords = 10)
        .orderBy(col("doc_id")),
    oracle = {
      val enList = TextAnalysis.stopwords.toMap.apply("en")
        .map(w => s"'$w'").mkString(", ")
      s"""WITH c AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '[^\\s]+')) AS BIGINT)
         |      AS n_words,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
         |      AS n_word_chars,
         |    CAST(len(regexp_extract_all(text, '#'))
         |      + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS BIGINT)
         |      AS n_symbols,
         |    CAST(len(regexp_extract_all(text, '[^\\n]+')) AS BIGINT)
         |      AS n_lines,
         |    CAST(len(regexp_extract_all(text, '(?m)^[ \\t]*[-•*]'))
         |      AS BIGINT) AS n_bullet_lines,
         |    CAST(len(regexp_extract_all(text, '(?m)(\\.\\.\\.|…)[ \\t]*$$'))
         |      AS BIGINT) AS n_ellipsis_lines,
         |    CAST(len(regexp_extract_all(text,
         |      '[^\\s]*[A-Za-z][^\\s]*')) AS BIGINT) AS n_alpha_words,
         |    CAST(len(list_filter(string_split(lower(text), ' '),
         |      t -> t IN ($enList))) AS BIGINT) AS n_stopword_hits
         |  FROM documents),
         |r AS (SELECT *,
         |    n_words >= 10 AND n_words <= 100000 AS r_word_count,
         |    n_words > 0 AND n_word_chars >= n_words * 3
         |      AND n_word_chars <= n_words * 10 AS r_mean_word_len,
         |    n_words > 0 AND n_symbols * 10 <= n_words AS r_symbol_ratio,
         |    n_lines > 0 AND n_bullet_lines * 10 <= n_lines * 9
         |      AS r_bullet_lines,
         |    n_lines > 0 AND n_ellipsis_lines * 10 <= n_lines * 3
         |      AS r_ellipsis_lines,
         |    n_words > 0 AND n_alpha_words * 5 >= n_words * 4
         |      AS r_alpha_words,
         |    n_stopword_hits >= 2 AS r_stopwords
         |  FROM c)
         |SELECT *, r_word_count AND r_mean_word_len AND r_symbol_ratio
         |    AND r_bullet_lines AND r_ellipsis_lines AND r_alpha_words
         |    AND r_stopwords AS gopher_pass
         |FROM r ORDER BY doc_id""".stripMargin
    }),

    // word2vec-style skip-gram pairs with content-addressed frequency
    // subsampling
    Gate("q213_skipgram_pairs", (s, dir) =>
      graft.ops.Corpus.skipgramPairs(docs(s, dir), "doc_id", "text",
        window = 2, tMil = 1000L, topK = 50)
        .orderBy(col("rank")),
    oracle =
      s"""WITH toks AS (SELECT doc_id AS doc, pos - 1 AS pos, word FROM (
        |    SELECT doc_id, unnest(ws) AS word,
        |      generate_subscripts(ws, 1) AS pos
        |    FROM (SELECT doc_id, list_filter(
        |        regexp_split_to_array(lower(text), '\\s+'),
        |        t -> length(t) > 0) AS ws FROM documents))),
        |cw AS (SELECT word, COUNT(1) AS cw FROM toks GROUP BY 1),
        |tot AS (SELECT COUNT(1) AS total FROM toks),
        |k AS (SELECT word, LEAST(1000000,
        |    CAST(floor(sqrt(CAST(total AS DOUBLE) * 0.001
        |      / CAST(cw AS DOUBLE)) * 1000000.0) AS BIGINT)) AS keep_mil
        |  FROM cw CROSS JOIN tot),
        |s AS (SELECT doc, pos, word FROM toks JOIN k USING (word)
        |  WHERE ${dpolyhash(
               "CAST(doc AS VARCHAR) || '_' || CAST(pos AS VARCHAR)")}
        |    % 1000000 < keep_mil),
        |idx AS (SELECT doc, word,
        |    ROW_NUMBER() OVER (PARTITION BY doc ORDER BY pos) AS i
        |  FROM s),
        |p AS (SELECT c.word AS center, x.word AS context, COUNT(1) AS n
        |  FROM idx c JOIN idx x ON c.doc = x.doc AND c.i <> x.i
        |    AND abs(c.i - x.i) <= 2
        |  GROUP BY 1, 2)
        |SELECT center, context, CAST(n AS BIGINT) AS n,
        |  CAST(rank AS INTEGER) AS rank
        |FROM (SELECT center, context, n, ROW_NUMBER() OVER (
        |    ORDER BY n DESC, center, context) AS rank FROM p)
        |WHERE rank <= 50 ORDER BY rank""".stripMargin),

    // embargoed temporal split: train ends before Jan 20, test starts
    // after the 1-day embargo, straddlers quarantined
    Gate("q214_embargo_split", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("tus", unix_micros(col("ts")))
      graft.ops.EventAnalytics.embargoSplit(ev, "user_id", "tus",
        splitUs = 1705708800000000L, embargoUs = 86400000000L)
        .orderBy(col("user_id"))
    },
    oracle =
      """SELECT user_id, CAST(COUNT(1) AS BIGINT) AS n_events,
        |  MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us,
        |  CASE WHEN MAX(epoch_us(ts)) < 1705708800000000 THEN 'train'
        |       WHEN MIN(epoch_us(ts)) >= 1705708800000000 + 86400000000
        |         THEN 'test'
        |       ELSE 'embargo' END AS split
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // unigram^3/4 negative-sampling table: sqrt-composed exponent,
    // integer cumulative alias column
    Gate("q215_negative_sampling", (s, dir) =>
      graft.ops.Corpus.negativeSamplingTable(docs(s, dir), "text",
        topK = 100)
        .orderBy(col("rank")),
    oracle =
      """WITH w AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0)) AS word FROM documents),
        |cw AS (SELECT word, COUNT(1) AS cw FROM w GROUP BY 1),
        |top AS (SELECT word, CAST(cw AS BIGINT) AS cw,
        |    ROW_NUMBER() OVER (ORDER BY cw DESC, word ASC) AS rank
        |  FROM cw QUALIFY rank <= 100),
        |wt AS (SELECT word, cw, CAST(rank AS INTEGER) AS rank,
        |    CAST(floor(sqrt(CAST(cw AS DOUBLE)
        |      * sqrt(CAST(cw AS DOUBLE))) * 1000.0) AS BIGINT)
        |      AS w75_mil
        |  FROM top)
        |SELECT word, cw, w75_mil, rank,
        |  CAST(SUM(w75_mil) OVER (ORDER BY rank
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_w75
        |FROM wt ORDER BY rank""".stripMargin),

    // calibration + ECE for a content-addressed synthetic scorer whose
    // labels are drawn AT its stated confidence
    Gate("q216_calibration", (s, dir) => {
      val d = docs(s, dir)
        .withColumn("score_mil",
          pmod(graft.functions.NativeHashes.poly_hash(col("text")),
            lit(1001L)))
        .withColumn("label",
          pmod(graft.functions.NativeHashes.poly_hash(
            concat(col("text"), lit("L"))), lit(1000L)) < col("score_mil"))
      graft.ops.Profiling.calibration(d, "score_mil", "label")
        .orderBy(col("bin"))
    },
    oracle = {
      val score = dpolyhash("text") + " % 1001"
      val lab = dpolyhash("text || 'L'") + " % 1000"
      s"""WITH d AS (SELECT ($score) AS score_mil,
         |    ($lab) < ($score) AS label FROM documents),
         |g AS (SELECT LEAST(CAST(floor(score_mil / 100) AS BIGINT), 9)
         |      AS bin,
         |    COUNT(1) AS n, SUM(score_mil) AS ss,
         |    SUM(CASE WHEN label THEN 1 ELSE 0 END) AS sy
         |  FROM d GROUP BY 1),
         |c AS (SELECT bin, CAST(n AS BIGINT) AS n,
         |    CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) AS conf_mil,
         |    CAST(sy AS DOUBLE) * 1000.0 / CAST(n AS DOUBLE) AS acc_mil
         |  FROM g),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM c),
         |sc AS (SELECT bin, n, conf_mil, acc_mil,
         |    abs(acc_mil - conf_mil)
         |      * (CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)) AS term
         |  FROM c CROSS JOIN t),
         |e AS (SELECT ROUND(list_reduce(list(term ORDER BY bin),
         |    (a, b) -> a + b), 6) AS ece_mil FROM sc)
         |SELECT CAST(bin AS INTEGER) AS bin, n,
         |  ROUND(conf_mil, 6) AS conf_mil, ROUND(acc_mil, 6) AS acc_mil,
         |  e.ece_mil
         |FROM sc CROSS JOIN e ORDER BY bin""".stripMargin
    }),

    // SFT dialogue-structure validation over synthetic 3-turn chats;
    // every 4th doc gets a double-assistant turn (alternation break)
    Gate("q217_dialogue_stats", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val d2 = d.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("t2"))
      val d3 = d.select((col("doc_id") - 2).as("doc_id"),
        col("text").as("t3"))
      val conv = d.join(d2, "doc_id").join(d3, "doc_id")
        .select(col("doc_id"), concat(
          lit("system: be helpful\n"),
          lit("user: "), col("text"), lit("\n"),
          lit("assistant: "), col("t2"), lit("\n"),
          when(col("doc_id") % 4 === 0,
            concat(lit("assistant: "), col("t3")))
            .otherwise(concat(lit("user: "), col("t3"))),
          lit("\nnote without role")).as("text"))
      graft.ops.TextAnalysis.dialogueStats(conv, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    oracle = {
      val role = "regexp_extract(x, '^(system|user|assistant): ', 1)"
      s"""WITH conv AS (SELECT d1.doc_id,
         |    'system: be helpful' || chr(10)
         |    || 'user: ' || d1.text || chr(10)
         |    || 'assistant: ' || d2.text || chr(10)
         |    || CASE WHEN d1.doc_id % 4 = 0 THEN 'assistant: ' || d3.text
         |       ELSE 'user: ' || d3.text END
         |    || chr(10) || 'note without role' AS text
         |  FROM documents d1
         |  JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
         |  JOIN documents d3 ON d3.doc_id = d1.doc_id + 2),
         |l AS (SELECT doc_id, list_filter(string_split(text, chr(10)),
         |    x -> length(trim(x)) > 0) AS lines FROM conv),
         |t AS (SELECT doc_id, lines,
         |    list_filter(lines, x -> $role <> '') AS turns FROM l),
         |r AS (SELECT doc_id, lines, turns,
         |    list_transform(turns, x -> $role) AS roles FROM t),
         |u AS (SELECT *, list_filter(roles, x -> x <> 'system') AS ua
         |  FROM r)
         |SELECT doc_id,
         |  CAST(len(turns) AS BIGINT) AS n_turns,
         |  CAST(len(list_filter(roles, x -> x = 'system')) AS BIGINT)
         |    AS n_system,
         |  CAST(len(list_filter(roles, x -> x = 'user')) AS BIGINT)
         |    AS n_user,
         |  CAST(len(list_filter(roles, x -> x = 'assistant')) AS BIGINT)
         |    AS n_assistant,
         |  CAST(len(lines) - len(turns) AS BIGINT) AS n_untagged_lines,
         |  len(ua) > 0 AND ua[1] = 'user' AS starts_with_user,
         |  len(ua) > 0 AND (len(ua) <= 1 OR len(list_filter(
         |    list_transform(generate_series(1, len(ua) - 1),
         |      i -> ua[i] = ua[i + 1]), x -> x)) = 0) AS alternating,
         |  CASE WHEN len(turns) > 0 THEN ROUND(CAST(list_reduce(
         |    list_prepend(CAST(0 AS BIGINT), list_transform(turns,
         |      x -> CAST(length(x) - length($role) - 2 AS BIGINT))),
         |    (a, b) -> a + b) AS DOUBLE) / len(turns), 6) END
         |    AS mean_turn_chars
         |FROM u ORDER BY doc_id""".stripMargin
    }),

    // MinHash sketch calibration: signature-agreement estimate vs exact
    // Jaccard on the banded candidates
    Gate("q218_minhash_calibration", (s, dir) =>
      graft.ops.Dedup.minhashCalibration(docs(s, dir), "doc_id", "text",
        bands = 8, rows = 4, shingleK = 3,
        hashedBandKeys = false) // string band keys: DuckDB-replayable
        .orderBy(col("id_a"), col("id_b")),
    oracle = {
      val sh = dshingleHashes
      val mhCols = Dedup.minhashParams(32).zipWithIndex.map { case ((a, b), i) =>
        s"list_min(list_transform(sh, h -> (h * $a + $b) % ${Dedup.MinhashP})) AS mh_$i"
      }.mkString(",\n  ")
      val bandMatch = (0 until 8).map { bnd =>
        "(" + (bnd * 4 until bnd * 4 + 4)
          .map(i => s"a.mh_$i = b.mh_$i").mkString(" AND ") + ")"
      }.mkString(" OR ")
      val agree = (0 until 32)
        .map(i => s"CASE WHEN a.mh_$i = b.mh_$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH t AS (SELECT doc_id, $sh AS sh FROM documents),
         |sig AS (SELECT doc_id, sh, $mhCols FROM t),
         |cand AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    list_distinct(a.sh) AS sa, list_distinct(b.sh) AS sb,
         |    ($agree) AS n_agree
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandMatch)),
         |j AS (SELECT id_a, id_b, n_agree,
         |    CAST(n_agree AS DOUBLE) / 32.0 AS est,
         |    CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
         |      len(list_distinct(list_concat(sa, sb))) AS jac
         |  FROM cand)
         |SELECT id_a, id_b, CAST(n_agree AS BIGINT) AS n_agree,
         |  ROUND(est, 6) AS est, ROUND(jac, 6) AS jaccard,
         |  ROUND(ABS(est - jac), 6) AS abs_err
         |FROM j ORDER BY id_a, id_b""".stripMargin
    }),

    // near-dup cluster purity: every member's exact Jaccard to its
    // representative — the LSH over-merge audit
    Gate("q219_cluster_purity", (s, dir) => {
      val d = docs(s, dir)
      val pairs = nearDupPairs(d)
      Dedup.clusterPurity(d.select(col("doc_id"), col("n_chars"),
        col("text")), "doc_id", "text", pairs, "n_chars")
        .orderBy(col("cluster"))
    },
    oracle =
      s"""WITH RECURSIVE $pairsCcCtes,
         |cl AS (SELECT id AS doc_id, MIN(label) AS cluster
         |  FROM cc GROUP BY id),
         |wc AS (SELECT d.doc_id, d.n_chars, cl.cluster
         |  FROM documents d JOIN cl USING (doc_id)),
         |rep AS (SELECT cluster, doc_id AS rep_id FROM wc
         |  QUALIFY row_number() OVER (PARTITION BY cluster
         |    ORDER BY n_chars DESC, doc_id) = 1),
         |m AS (SELECT wc.cluster, wc.doc_id, rep.rep_id
         |  FROM wc JOIN rep USING (cluster)),
         |js AS (SELECT m.cluster, m.rep_id, m.doc_id,
         |    CAST(len(list_intersect(list_distinct(ta.sh),
         |      list_distinct(tb.sh))) AS DOUBLE)
         |    / len(list_distinct(list_concat(list_distinct(ta.sh),
         |      list_distinct(tb.sh)))) AS jac
         |  FROM m JOIN t ta ON ta.doc_id = m.doc_id
         |  JOIN t tb ON tb.doc_id = m.rep_id),
         |g AS (SELECT cluster, rep_id, CAST(COUNT(1) AS BIGINT)
         |      AS n_members,
         |    list(jac ORDER BY doc_id) AS jl, MIN(jac) AS mn
         |  FROM js GROUP BY 1, 2)
         |SELECT cluster, rep_id, n_members,
         |  ROUND(list_reduce(list_prepend(0.0, jl), (a, b) -> a + b)
         |    / n_members, 6) AS mean_jac,
         |  ROUND(mn, 6) AS min_jac
         |FROM g WHERE n_members >= 2 ORDER BY cluster""".stripMargin),

    // per-source quality scorecard: the vendor dashboard composite
    Gate("q220_source_scorecard", (s, dir) =>
      graft.ops.TextAnalysis.sourceScorecard(docs(s, dir), "doc_id",
        "text", "source", minWords = 10)
        .orderBy(col("source")),
    oracle = {
      val enList = TextAnalysis.stopwords.toMap.apply("en")
        .map(w => s"'$w'").mkString(", ")
      s"""WITH ch AS (SELECT doc_id, unnest(list_transform(
         |    generate_series(1, length(text)), i -> text[i:i])) AS c
         |  FROM documents),
         |h AS (SELECT doc_id, c, COUNT(1) AS cnt FROM ch GROUP BY 1, 2),
         |n AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n FROM h
         |  GROUP BY 1),
         |e AS (SELECT h.doc_id, CAST(ROUND(ROUND(-list_reduce(list(
         |    (CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
         |    * LN(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)) ORDER BY c),
         |    (a, b) -> a + b), 6) * 1000000.0, 0) AS BIGINT) AS emic
         |  FROM h JOIN n USING (doc_id) GROUP BY h.doc_id, n.n),
         |gc AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '[^\\s]+')) AS BIGINT)
         |      AS n_words,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
         |      AS n_word_chars,
         |    CAST(len(regexp_extract_all(text, '#'))
         |      + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS BIGINT)
         |      AS n_symbols,
         |    CAST(len(regexp_extract_all(text, '[^\\n]+')) AS BIGINT)
         |      AS n_lines,
         |    CAST(len(regexp_extract_all(text, '(?m)^[ \\t]*[-•*]'))
         |      AS BIGINT) AS n_bullet_lines,
         |    CAST(len(regexp_extract_all(text,
         |      '(?m)(\\.\\.\\.|…)[ \\t]*$$')) AS BIGINT)
         |      AS n_ellipsis_lines,
         |    CAST(len(regexp_extract_all(text,
         |      '[^\\s]*[A-Za-z][^\\s]*')) AS BIGINT) AS n_alpha_words,
         |    CAST(len(list_filter(string_split(lower(text), ' '),
         |      t -> t IN ($enList))) AS BIGINT) AS n_stopword_hits
         |  FROM documents),
         |gp AS (SELECT doc_id,
         |    (n_words >= 10 AND n_words <= 100000)
         |    AND (n_words > 0 AND n_word_chars >= n_words * 3
         |         AND n_word_chars <= n_words * 10)
         |    AND (n_words > 0 AND n_symbols * 10 <= n_words)
         |    AND (n_lines > 0 AND n_bullet_lines * 10 <= n_lines * 9)
         |    AND (n_lines > 0 AND n_ellipsis_lines * 10 <= n_lines * 3)
         |    AND (n_words > 0 AND n_alpha_words * 5 >= n_words * 4)
         |    AND (n_stopword_hits >= 2) AS gopher_pass
         |  FROM gc),
         |dup AS (SELECT text, COUNT(1) AS copies FROM documents
         |  GROUP BY 1),
         |p AS (SELECT d.doc_id, d.source, length(d.text) AS len,
         |    dup.copies, gp.gopher_pass, COALESCE(e.emic, 0) AS emic
         |  FROM documents d JOIN dup ON dup.text = d.text
         |  JOIN gp USING (doc_id) LEFT JOIN e USING (doc_id))
         |SELECT source, CAST(COUNT(1) AS BIGINT) AS n_docs,
         |  ROUND(CAST(SUM(len) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE), 6)
         |    AS mean_chars,
         |  ROUND(CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END)
         |    AS DOUBLE) / CAST(COUNT(1) AS DOUBLE), 6) AS dup_rate,
         |  ROUND(CAST(SUM(CASE WHEN gopher_pass THEN 1 ELSE 0 END)
         |    AS DOUBLE) / CAST(COUNT(1) AS DOUBLE), 6)
         |    AS gopher_pass_rate,
         |  ROUND(CAST(SUM(emic) AS DOUBLE) / 1000000.0
         |    / CAST(COUNT(1) AS DOUBLE), 6) AS mean_entropy
         |FROM p GROUP BY source ORDER BY source""".stripMargin
    }),

    // perceptual aHash over REAL PNG decodes, checked against the
    // synthetic pixel formula
    Gate("q221_image_ahash", (s, dir) =>
      Multimodal.imageAHash(
        Multimodal.withSyntheticImage(docs(s, dir), "doc_id"))
        .toDF().withColumnRenamed("media_id", "doc_id")
        .orderBy(col("doc_id")),
    oracle =
      s"""WITH $ahashCtes
         |SELECT doc_id, w AS width, h AS height,
         |  CAST(nb AS INTEGER) AS n_bits, CAST(hi AS BIGINT) AS ahash_hi,
         |  CAST(lo AS BIGINT) AS ahash_lo, CAST(ones AS INTEGER) AS n_ones
         |FROM b ORDER BY doc_id""".stripMargin),

    // energy-contour audio fingerprint over REAL WAV/PCM decodes,
    // checked against the synthetic sample formula
    Gate("q222_audio_fingerprint", (s, dir) =>
      Multimodal.audioFingerprint(
        Multimodal.withSyntheticWavPcm(docs(s, dir), "doc_id"))
        .toDF().withColumnRenamed("media_id", "doc_id")
        .orderBy(col("doc_id")),
    oracle =
      """WITH sm AS (SELECT doc_id, i,
        |    ((doc_id * 31 + i * 7) % 4001) - 2000 AS v
        |  FROM documents, unnest(generate_series(0, 63)) AS u(i)),
        |fr AS (SELECT doc_id, i // 8 AS f, SUM(v * v) AS e
        |  FROM sm GROUP BY 1, 2),
        |fp AS (SELECT x.doc_id,
        |    CAST(SUM(CASE WHEN x.e > y.e
        |      THEN (CAST(1 AS BIGINT) << x.f) ELSE 0 END) AS BIGINT)
        |      AS fp
        |  FROM fr x JOIN fr y ON y.doc_id = x.doc_id AND y.f = x.f + 1
        |  GROUP BY 1),
        |te AS (SELECT doc_id, CAST(SUM(e) AS BIGINT) AS total_energy
        |  FROM fr GROUP BY 1)
        |SELECT d.doc_id, CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(8 AS INTEGER) AS n_frames,
        |  COALESCE(fp.fp, 0) AS fp, te.total_energy
        |FROM documents d JOIN te USING (doc_id)
        |LEFT JOIN fp USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // scene-change detection over the AVI frame walk, checked against
    // the synthetic frame-byte formula
    Gate("q223_video_scenes", (s, dir) =>
      Multimodal.videoSceneChanges(
        Multimodal.withSyntheticAvi(docs(s, dir), "doc_id"))
        .toDF().withColumnRenamed("media_id", "doc_id")
        .orderBy(col("doc_id")),
    oracle =
      """WITH v AS (SELECT doc_id, CAST(doc_id % 7 + 1 AS BIGINT) AS n
        |  FROM documents),
        |tr AS (SELECT doc_id, n,
        |    unnest(generate_series(0, CAST(n AS INTEGER) - 2)) AS f
        |  FROM v WHERE n >= 2),
        |d AS (SELECT doc_id, n, f,
        |    SUM(ABS(((doc_id + f * 31 + j * 7) % 256)
        |      - ((doc_id + (f + 1) * 31 + j * 7) % 256))) AS diff
        |  FROM tr, unnest(generate_series(0, 31)) AS uj(j)
        |  GROUP BY 1, 2, 3),
        |g AS (SELECT doc_id, CAST(COUNT(1) AS INTEGER) AS trans,
        |    CAST(SUM(CASE WHEN diff * 1000 > 54000 * 32 THEN 1 ELSE 0
        |      END) AS INTEGER) AS scenes,
        |    CAST(SUM(diff) AS BIGINT) AS total FROM d GROUP BY 1)
        |SELECT v.doc_id, v.n AS n_frames,
        |  COALESCE(g.trans, 0) AS n_transitions,
        |  COALESCE(g.scenes, 0) AS n_scene_changes,
        |  COALESCE(g.total, 0) AS total_diff
        |FROM v LEFT JOIN g USING (doc_id) ORDER BY v.doc_id""".stripMargin),

    // layout clustering audit: per-file key boxes vs the running max —
    // overlap count = footer-pruning decay
    Gate("q224_sort_audit", (s, dir) => {
      val mf = docs(s, dir).groupBy(col("source").as("file"))
        .agg(min(col("doc_id")).as("min_k"), max(col("doc_id")).as("max_k"))
      graft.ops.Layout.sortOrderAudit(mf, "k").orderBy(col("file"))
    },
    oracle =
      """WITH mf AS (SELECT source AS file, MIN(doc_id) AS min_v,
        |    MAX(doc_id) AS max_v FROM documents GROUP BY 1),
        |sc AS (SELECT file, min_v, max_v,
        |    MAX(max_v) OVER (ORDER BY min_v, max_v, file
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_max
        |  FROM mf),
        |o AS (SELECT *, prev_max IS NOT NULL AND min_v <= prev_max
        |    AS "overlaps" FROM sc),
        |v AS (SELECT CAST(SUM(CASE WHEN "overlaps" THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_overlapping FROM o)
        |SELECT o.file, o.min_v, o.max_v, o.prev_max, o."overlaps",
        |  v.n_overlapping, v.n_overlapping = 0 AS clustered
        |FROM o CROSS JOIN v ORDER BY o.file""".stripMargin),

    // Benford first-digit conformance of milli-values per event type
    Gate("q225_benford", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("vmil", floor(col("value") * 1000 + 0.5).cast("long"))
      graft.ops.Profiling.benford(ev, "event_type", "vmil")
        .orderBy(col("event_type"), col("digit"))
    },
    oracle =
      """WITH ev AS (SELECT event_type,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vmil
        |  FROM events),
        |c AS (SELECT event_type,
        |    CAST(substring(CAST(vmil AS VARCHAR), 1, 1) AS INTEGER)
        |      AS digit,
        |    COUNT(1) AS observed
        |  FROM ev WHERE vmil > 0 GROUP BY 1, 2),
        |grid AS (SELECT g.event_type, d.digit,
        |    CAST(COALESCE(c.observed, 0) AS BIGINT) AS observed
        |  FROM (SELECT DISTINCT event_type FROM c) g
        |  CROSS JOIN (SELECT unnest(range(1, 10)) AS digit) d
        |  LEFT JOIN c ON c.event_type = g.event_type
        |    AND c.digit = d.digit),
        |t AS (SELECT event_type, CAST(SUM(observed) AS BIGINT) AS n
        |  FROM grid GROUP BY 1),
        |sc AS (SELECT grid.event_type, digit, observed,
        |    (CAST(observed AS DOUBLE)
        |     - CAST(n AS DOUBLE) * (LN(1.0 + 1.0 / CAST(digit AS DOUBLE))
        |       / LN(10.0)))
        |    * (CAST(observed AS DOUBLE)
        |     - CAST(n AS DOUBLE) * (LN(1.0 + 1.0 / CAST(digit AS DOUBLE))
        |       / LN(10.0)))
        |    / (CAST(n AS DOUBLE) * (LN(1.0 + 1.0 / CAST(digit AS DOUBLE))
        |       / LN(10.0))) AS term
        |  FROM grid JOIN t USING (event_type)),
        |ch AS (SELECT event_type,
        |    ROUND(list_reduce(list_prepend(0.0, list(term ORDER BY digit)),
        |      (a, b) -> a + b), 6) AS chi2
        |  FROM sc GROUP BY 1)
        |SELECT sc.event_type, CAST(sc.digit AS INTEGER) AS digit,
        |  sc.observed, ROUND(sc.term, 6) AS term, ch.chi2,
        |  ch.chi2 < 15.51 AS benford_ok
        |FROM sc JOIN ch USING (event_type)
        |ORDER BY sc.event_type, sc.digit""".stripMargin),

    // NDCG@5: view-count ranking scored against purchase relevance
    Gate("q226_ndcg", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("item", (col("event_id") % 37).cast("long"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("item")).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("n").desc, col("item").asc)
      val ranking = views.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
      val truth = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("item")).agg(count(lit(1)).as("rel"))
      graft.ops.Profiling.ndcg(ranking, truth, "user_id", "item",
        "rank", "rel", k = 5)
        .orderBy(col("user_id"))
    },
    oracle =
      """WITH ev AS (SELECT user_id, event_type, event_id % 37 AS item
        |  FROM events),
        |v AS (SELECT user_id, item, COUNT(1) AS n FROM ev
        |  WHERE event_type = 'view' GROUP BY 1, 2),
        |rk AS (SELECT user_id, item, ROW_NUMBER() OVER (
        |    PARTITION BY user_id ORDER BY n DESC, item ASC) AS r
        |  FROM v),
        |r5 AS (SELECT * FROM rk WHERE r <= 5),
        |tr AS (SELECT user_id, item, COUNT(1) AS rel FROM ev
        |  WHERE event_type = 'purchase' GROUP BY 1, 2),
        |j AS (SELECT r5.user_id, r5.r, COALESCE(tr.rel, 0) AS rel
        |  FROM r5 LEFT JOIN tr USING (user_id, item)),
        |d AS (SELECT user_id, list_reduce(list_prepend(0.0,
        |    list(CAST(rel AS DOUBLE)
        |      / (LN(CAST(r AS DOUBLE) + 1.0) / LN(2.0)) ORDER BY r)),
        |    (a, b) -> a + b) AS dcg FROM j GROUP BY 1),
        |it AS (SELECT user_id, item, rel, ROW_NUMBER() OVER (
        |    PARTITION BY user_id ORDER BY rel DESC, item ASC) AS ir
        |  FROM tr WHERE rel > 0),
        |ic AS (SELECT user_id, list_reduce(list_prepend(0.0,
        |    list(CAST(rel AS DOUBLE)
        |      / (LN(CAST(ir AS DOUBLE) + 1.0) / LN(2.0)) ORDER BY ir)),
        |    (a, b) -> a + b) AS idcg
        |  FROM it WHERE ir <= 5 GROUP BY 1)
        |SELECT d.user_id, ROUND(d.dcg, 6) AS dcg,
        |  ROUND(COALESCE(ic.idcg, 0.0), 6) AS idcg,
        |  CASE WHEN COALESCE(ic.idcg, 0.0) > 0
        |    THEN ROUND(d.dcg / ic.idcg, 6) ELSE 0.0 END AS ndcg
        |FROM d LEFT JOIN ic USING (user_id) ORDER BY d.user_id""".stripMargin),

    // HITS hubs/authorities over the supplier-nation → customer-nation
    // trade graph (the q107 edge derivation): 3 integer-exact
    // mutually-reinforcing iterations, max-normalized to micro-units
    Gate("q227_hits", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val supp = s.read.parquet(s"$dir/supplier.parquet")
      val edges = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(supp, li("l_suppkey") === supp("s_suppkey"))
        .select(supp("s_nationkey").as("src"), cust("c_nationkey").as("dst"))
        .distinct()
      graft.ops.Graph.hits(edges, "src", "dst", iters = 3)
        .orderBy(col("node"))
    },
    oracle = {
      // 3 unrolled integer-exact HITS iterations; each half-step sums
      // the opposite score (HUGEINT) and max-normalizes with `//`,
      // mirroring the Spark side's decimal(38,0) + IntegralDivide
      val steps = (1 to 3).map { i =>
        val prevHub = if (i == 1) "h0" else s"h${i - 1}"
        s"""a${i}r AS (SELECT e.dst AS node, SUM(h.s) AS raw
           |  FROM e JOIN $prevHub h ON e.src = h.node GROUP BY 1),
           |a$i AS (SELECT n.node, COALESCE((r.raw * 1000000)
           |      // (SELECT MAX(raw) FROM a${i}r), CAST(0 AS HUGEINT)) AS s
           |  FROM n LEFT JOIN a${i}r r USING (node)),
           |h${i}r AS (SELECT e.src AS node, SUM(a.s) AS raw
           |  FROM e JOIN a$i a ON e.dst = a.node GROUP BY 1),
           |h$i AS (SELECT n.node, COALESCE((r.raw * 1000000)
           |      // (SELECT MAX(raw) FROM h${i}r), CAST(0 AS HUGEINT)) AS s
           |  FROM n LEFT JOIN h${i}r r USING (node))""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT s.s_nationkey AS src,
         |    c.c_nationkey AS dst
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |h0 AS (SELECT node, CAST(1000000 AS HUGEINT) AS s FROM n),
         |$steps
         |SELECT n.node, CAST(h3.s AS BIGINT) AS hub_micros,
         |  CAST(a3.s AS BIGINT) AS auth_micros
         |FROM n JOIN h3 USING (node) JOIN a3 USING (node)
         |ORDER BY n.node""".stripMargin
    }),

    // sample-ratio-mismatch gate over a 2:1:1 three-arm split keyed on
    // user_id — exact unit counts, ordered-fold χ², df=2 critical value
    Gate("q228_srm", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"),
          when(col("user_id") % 4 <= 1, "a")
            .when(col("user_id") % 4 === 2, "b")
            .otherwise("c").as("variant"))
      graft.ops.Profiling.srmCheck(ev, "user_id", "variant",
          Seq(("a", 2L), ("b", 1L), ("c", 1L)), crit = 5.991)
        .orderBy(col("variant"))
    },
    oracle =
      """WITH u AS (SELECT DISTINCT user_id,
        |    CASE WHEN user_id % 4 <= 1 THEN 'a'
        |         WHEN user_id % 4 = 2 THEN 'b' ELSE 'c' END AS variant
        |  FROM events),
        |ex AS (SELECT * FROM (VALUES ('a', 2), ('b', 1), ('c', 1))
        |  AS t(variant, w)),
        |obs AS (SELECT variant, CAST(COUNT(1) AS BIGINT) AS observed
        |  FROM u GROUP BY 1),
        |cnt AS (SELECT ex.variant, ex.w, COALESCE(obs.observed, 0)
        |    AS observed FROM ex LEFT JOIN obs USING (variant)),
        |tot AS (SELECT SUM(observed) AS n FROM cnt),
        |terms AS (SELECT variant, observed,
        |    CAST(n AS DOUBLE) * w / 4 AS e FROM cnt CROSS JOIN tot),
        |t2 AS (SELECT variant, observed, ROUND(e, 6) AS expected_n,
        |    ROUND((observed - e) * (observed - e) / e, 6) AS term
        |  FROM terms),
        |c2 AS (SELECT ROUND(list_reduce(list_prepend(0.0,
        |    list(term ORDER BY variant)), (a, b) -> a + b), 6) AS chi2
        |  FROM t2)
        |SELECT t2.variant, t2.observed, t2.expected_n, t2.term,
        |  c2.chi2, c2.chi2 > 5.991 AS srm
        |FROM t2 CROSS JOIN c2 ORDER BY t2.variant""".stripMargin),

    // Kaplan-Meier time-to-purchase: whole-day durations from each
    // user's first event, censored at the global last-event time
    Gate("q229_survival", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_type"))
      val first = ev.groupBy(col("user_id"))
        .agg(min(col("tus")).as("t0"))
      val conv = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("tus")).as("tc"))
      val cutoff = ev.agg(max(col("tus")).as("tmax"))
      val durations = first.join(conv, Seq("user_id"), "left")
        .crossJoin(broadcast(cutoff))
        .select(
          expr("(coalesce(tc, tmax) - t0) div 86400000000")
            .as("dur_days"),
          col("tc").isNotNull.as("converted"))
      EventAnalytics.kaplanMeier(durations, "dur_days", "converted")
        .orderBy(col("t"))
    },
    oracle =
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_type
        |  FROM events),
        |f AS (SELECT user_id, MIN(tus) AS t0 FROM e GROUP BY 1),
        |c AS (SELECT user_id, MIN(tus) AS tc FROM e
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |mx AS (SELECT MAX(tus) AS tmax FROM e),
        |d AS (SELECT (COALESCE(c.tc, mx.tmax) - f.t0) // 86400000000
        |      AS t, c.tc IS NOT NULL AS ev
        |  FROM f LEFT JOIN c USING (user_id) CROSS JOIN mx),
        |p AS (SELECT t,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_event,
        |    CAST(SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_censored
        |  FROM d GROUP BY 1),
        |tt AS (SELECT CAST(COUNT(1) AS BIGINT) AS total FROM d),
        |ar AS (SELECT t, n_event, n_censored,
        |    tt.total - COALESCE(SUM(n_event + n_censored) OVER (
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS n_risk
        |  FROM p CROSS JOIN tt),
        |fs AS (SELECT list(struct_pack(ft := t,
        |    f := CAST(1 AS DOUBLE) - CAST(n_event AS DOUBLE) / n_risk)
        |    ORDER BY t) AS l FROM ar)
        |SELECT ar.t, CAST(ar.n_risk AS BIGINT) AS n_risk, ar.n_event,
        |  ar.n_censored,
        |  ROUND(list_reduce(list_prepend(CAST(1 AS DOUBLE),
        |    list_transform(list_filter(fs.l, x -> x.ft <= ar.t),
        |      x -> x.f)), (a, b) -> a * b), 6) AS survival
        |FROM ar CROSS JOIN fs ORDER BY ar.t""".stripMargin),

    // blocked Levenshtein linkage over part names: first-letter block,
    // sound length prefilter, exact DP verify at distance <= 4
    Gate("q230_edit_join", (s, dir) =>
      graft.ops.Fuzzy.editDistancePairs(
          s.read.parquet(s"$dir/part.parquet").select(col("p_name")),
          "p_name", blockLen = 1, maxDist = 4)
        .orderBy(col("key_a"), col("key_b")),
    oracle =
      """WITH k AS (SELECT DISTINCT p_name AS key FROM part),
        |b AS (SELECT key, lower(substring(key, 1, 1)) AS blk,
        |    length(key) AS len FROM k)
        |SELECT a.key AS key_a, b2.key AS key_b,
        |  CAST(levenshtein(a.key, b2.key) AS INTEGER) AS dist
        |FROM b a JOIN b b2 ON a.blk = b2.blk AND a.key < b2.key
        |  AND abs(a.len - b2.len) <= 4
        |WHERE levenshtein(a.key, b2.key) <= 4
        |ORDER BY key_a, key_b""".stripMargin),

    // leave-one-out target encoding of market segment against integer
    // account-balance cents — the leakage-safe categorical feature
    Gate("q231_target_encode", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long")
            .as("bal_cents"))
      Corpus.targetEncodeLoo(c, "c_custkey", "c_mktsegment", "bal_cents")
        .orderBy(col("c_custkey"))
    },
    oracle =
      """WITH c AS (SELECT c_custkey, c_mktsegment,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
        |  FROM customer),
        |g AS (SELECT c_mktsegment, CAST(SUM(bal_cents) AS BIGINT) AS s,
        |    CAST(COUNT(1) AS BIGINT) AS n FROM c GROUP BY 1)
        |SELECT c.c_custkey, c.c_mktsegment, c.bal_cents,
        |  CASE WHEN g.n > 1 THEN g.s - c.bal_cents END AS loo_num,
        |  CASE WHEN g.n > 1 THEN g.n - 1 END AS loo_den,
        |  CASE WHEN g.n > 1 THEN ROUND(
        |    CAST(g.s - c.bal_cents AS DOUBLE) / (g.n - 1), 6) END
        |    AS loo_mean
        |FROM c JOIN g USING (c_mktsegment)
        |ORDER BY c.c_custkey""".stripMargin),

    // encoding-anomaly detection over deterministically corrupted text:
    // doc_id%7 double-encodes, %11 injects U+FFFD, %13 appends a BEL
    Gate("q232_mojibake", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
            // U+00C3 U+00A1 = UTF-8 a-acute read back as Latin-1
            regexp_replace(col("text"), "a", "\u00C3\u00A1"))
          .when(col("doc_id") % 11 === 0,
            concat(col("text"), lit("\uFFFD")))
          .when(col("doc_id") % 13 === 0,
            concat(col("text"), lit("\u0007")))
          .otherwise(col("text")).as("t2"))
      d.select(Seq(col("doc_id")) ++
          TextAnalysis.encodingAnomalies(col("t2")).map {
            case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    },
    oracle =
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |           THEN replace(text, 'a', chr(195) || chr(161))
        |         WHEN doc_id % 11 = 0 THEN text || chr(65533)
        |         WHEN doc_id % 13 = 0 THEN text || chr(7)
        |         ELSE text END AS t2
        |  FROM documents),
        |c AS (SELECT doc_id, t2,
        |    CAST(len(regexp_extract_all(t2, '\x{FFFD}')) AS BIGINT)
        |      AS n_replacement,
        |    CAST(len(regexp_extract_all(t2,
        |      '[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}' ||
        |      '\x{007F}-\x{009F}]')) AS BIGINT) AS n_control,
        |    CAST(len(regexp_extract_all(t2,
        |      '[\x{00C2}\x{00C3}][\x{0080}-\x{00BF}\x{00C0}-\x{00FF}]' ||
        |      '|\x{00E2}\x{20AC}')) AS BIGINT) AS n_double_encoded
        |  FROM d)
        |SELECT doc_id, n_replacement, n_control, n_double_encoded,
        |  (n_replacement + n_double_encoded > 0
        |   OR n_control * 50 >= length(t2)) AS encoding_suspect
        |FROM c ORDER BY doc_id""".stripMargin),

    // MRR + recall@5 over the q226 ranking/truth pair — first-hit rank
    // and coverage, every metric an exact-integer derivation
    Gate("q233_mrr", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("item", (col("event_id") % 37).cast("long"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("item")).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("n").desc, col("item").asc)
      val ranking = views.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
      val truth = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("item")).agg(count(lit(1)).as("rel"))
      graft.ops.Profiling.mrrRecall(ranking, truth, "user_id", "item",
          "rank", "rel", k = 5)
        .orderBy(col("user_id"))
    },
    oracle =
      """WITH ev AS (SELECT user_id, event_type, event_id % 37 AS item
        |  FROM events),
        |v AS (SELECT user_id, item, COUNT(1) AS n FROM ev
        |  WHERE event_type = 'view' GROUP BY 1, 2),
        |rk AS (SELECT user_id, item, ROW_NUMBER() OVER (
        |    PARTITION BY user_id ORDER BY n DESC, item ASC) AS r
        |  FROM v),
        |r5 AS (SELECT * FROM rk WHERE r <= 5),
        |tr AS (SELECT user_id, item, COUNT(1) AS rel FROM ev
        |  WHERE event_type = 'purchase' GROUP BY 1, 2),
        |h AS (SELECT r5.user_id,
        |    MIN(CASE WHEN tr.rel IS NOT NULL THEN r5.r END)
        |      AS first_rel_rank,
        |    CAST(SUM(CASE WHEN tr.rel IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_hits
        |  FROM r5 LEFT JOIN tr USING (user_id, item) GROUP BY 1),
        |nr AS (SELECT user_id, CAST(COUNT(1) AS BIGINT) AS n_rel
        |  FROM tr WHERE rel > 0 GROUP BY 1)
        |SELECT h.user_id, h.first_rel_rank, h.n_hits,
        |  COALESCE(nr.n_rel, 0) AS n_rel,
        |  CASE WHEN h.first_rel_rank IS NOT NULL
        |    THEN ROUND(CAST(1 AS DOUBLE) / h.first_rel_rank, 6)
        |    ELSE 0.0 END AS rr,
        |  CASE WHEN COALESCE(nr.n_rel, 0) > 0
        |    THEN ROUND(CAST(h.n_hits AS DOUBLE) / nr.n_rel, 6)
        |    ELSE 0.0 END AS recall
        |FROM h LEFT JOIN nr USING (user_id)
        |ORDER BY h.user_id""".stripMargin),

    // Hamming near-dup pairing over the q221 perceptual hashes:
    // complete 4-band blocking within (width, height), dist <= 3
    Gate("q234_ahash_neardup", (s, dir) => {
      val hashes = Multimodal.imageAHash(
        Multimodal.withSyntheticImage(docs(s, dir), "doc_id")).toDF()
      Dedup.hammingNearDups(hashes, "media_id", "ahash_hi", "ahash_lo",
          maxDist = 3, bands = 4, groupCols = Seq("width", "height"))
        .orderBy(col("id_a"), col("id_b"))
    },
    oracle =
      s"""WITH $ahashCtes,
         |bd AS (SELECT doc_id, w, h, CAST(hi AS BIGINT) AS hi,
         |    CAST(lo AS BIGINT) AS lo, i,
         |    CASE i WHEN 0 THEN CAST(lo AS BIGINT) & 65535
         |      WHEN 1 THEN (CAST(lo AS BIGINT) >> 16) & 65535
         |      WHEN 2 THEN CAST(hi AS BIGINT) & 65535
         |      ELSE (CAST(hi AS BIGINT) >> 16) & 65535 END AS bv
         |  FROM b, unnest(range(0, 4)) AS u(i))
         |SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
         |  CAST(bit_count(xor(a.hi, b2.hi))
         |    + bit_count(xor(a.lo, b2.lo)) AS INTEGER) AS dist
         |FROM bd a JOIN bd b2 ON a.w = b2.w AND a.h = b2.h
         |  AND a.i = b2.i AND a.bv = b2.bv AND a.doc_id < b2.doc_id
         |WHERE bit_count(xor(a.hi, b2.hi))
         |  + bit_count(xor(a.lo, b2.lo)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),

    // simplified silhouette over the q88 clustering: per-vector own vs
    // runner-up centroid distance, exact integer d2, one sqrt per side
    Gate("q235_silhouette", (s, dir) =>
      graft.ops.Clustering.silhouette(emb(s, dir), "vec_id", "embedding",
          k = 4, iters = 2)
        .orderBy(col("vec_id")),
    // the kmeans CTE block ends at dd(vec_id, j, d2) = distances to the
    // FINAL centroids; own/runner-up by (d2, j) rank replays the Spark
    // side's array_sort of (d2, j) structs
    oracle =
      s"""WITH $kmeansCtes,
         |rk AS (SELECT vec_id, j, d2, ROW_NUMBER() OVER (
         |    PARTITION BY vec_id ORDER BY d2 ASC, j ASC) AS rn
         |  FROM dd)
         |SELECT a.vec_id, a.j AS cluster,
         |  CAST(a.d2 AS BIGINT) AS own_dist2,
         |  CAST(b.d2 AS BIGINT) AS neighbor_dist2,
         |  CASE WHEN greatest(sqrt(CAST(a.d2 AS DOUBLE)),
         |      sqrt(CAST(b.d2 AS DOUBLE))) = 0 THEN 0.0
         |    ELSE ROUND((sqrt(CAST(b.d2 AS DOUBLE))
         |        - sqrt(CAST(a.d2 AS DOUBLE)))
         |      / greatest(sqrt(CAST(a.d2 AS DOUBLE)),
         |        sqrt(CAST(b.d2 AS DOUBLE))), 6) END AS silhouette
         |FROM rk a JOIN rk b ON a.vec_id = b.vec_id
         |  AND a.rn = 1 AND b.rn = 2
         |ORDER BY a.vec_id""".stripMargin),

    // golden-record survivorship over synthesized match clusters:
    // per-field freshest-non-null winner, id tie-break, rep provenance
    Gate("q236_golden_record", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet").select(
        col("c_custkey"),
        (col("c_custkey") % 300).as("cluster"),
        (col("c_custkey") % 11).as("ord"),
        when(col("c_custkey") % 7 =!= 0, col("c_name")).as("name"),
        col("c_mktsegment").as("segment"),
        when(col("c_custkey") % 5 =!= 0,
          floor(col("c_acctbal") * 100 + 0.5).cast("long"))
          .as("bal_cents"))
      graft.ops.Fuzzy.goldenRecords(c, "cluster", "ord", "c_custkey",
          Seq("name", "segment", "bal_cents"))
        .orderBy(col("cluster"))
    },
    oracle =
      """WITH c AS (SELECT c_custkey,
        |    c_custkey % 300 AS cluster, c_custkey % 11 AS ord,
        |    CASE WHEN c_custkey % 7 <> 0 THEN c_name END AS name,
        |    c_mktsegment AS segment,
        |    CASE WHEN c_custkey % 5 <> 0
        |      THEN CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
        |      END AS bal_cents
        |  FROM customer)
        |SELECT cluster, CAST(COUNT(1) AS BIGINT) AS n_members,
        |  (max(struct_pack(o := ord, i := c_custkey))).i AS rep_id,
        |  (max(struct_pack(p := CASE WHEN name IS NULL THEN 0 ELSE 1 END,
        |    o := ord, i := c_custkey, v := name))).v AS name,
        |  (max(struct_pack(p := CASE WHEN segment IS NULL THEN 0 ELSE 1
        |    END, o := ord, i := c_custkey, v := segment))).v AS segment,
        |  (max(struct_pack(p := CASE WHEN bal_cents IS NULL THEN 0 ELSE 1
        |    END, o := ord, i := c_custkey, v := bal_cents))).v
        |    AS bal_cents
        |FROM c GROUP BY 1 ORDER BY cluster""".stripMargin),

    // Pearson correlation matrix over four integral lineitem metrics:
    // exact decimal moments in ONE pass, double only at the final sqrt
    Gate("q237_corr_matrix", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet").select(
        floor(col("l_quantity") * 100 + 0.5).cast("long").as("qty_c"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long")
          .as("price_c"),
        floor(col("l_discount") * 10000 + 0.5).cast("long").as("disc_bp"),
        col("l_linenumber").cast("long").as("linenum"))
      graft.ops.Profiling.corrMatrix(li,
          Seq("qty_c", "price_c", "disc_bp", "linenum"))
        .orderBy(col("col_x"), col("col_y"))
    },
    oracle = {
      val cols = Seq("qty_c", "price_c", "disc_bp", "linenum")
      val pairs = for {
        i <- cols.indices; j <- (i + 1) until cols.size
      } yield (cols(i), cols(j))
      val pairSql = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_x, '$b' AS col_y,
           |  CAST(n AS BIGINT) AS n,
           |  CASE WHEN n * ss_$a - s_$a * s_$a > 0
           |      AND n * ss_$b - s_$b * s_$b > 0
           |    THEN ROUND(CAST(n * sp_${a}_$b - s_$a * s_$b AS DOUBLE)
           |      / (sqrt(CAST(n * ss_$a - s_$a * s_$a AS DOUBLE))
           |        * sqrt(CAST(n * ss_$b - s_$b * s_$b AS DOUBLE))), 6)
           |    END AS corr
           |FROM m""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH li AS (SELECT
         |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty_c,
         |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
         |      AS price_c,
         |    CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS disc_bp,
         |    CAST(l_linenumber AS BIGINT) AS linenum
         |  FROM lineitem),
         |m AS (SELECT CAST(COUNT(1) AS HUGEINT) AS n,
         |    ${cols.map(c => s"CAST(SUM(CAST($c AS HUGEINT)) AS HUGEINT) AS s_$c, " +
                s"CAST(SUM(CAST($c AS HUGEINT) * $c) AS HUGEINT) AS ss_$c")
                .mkString(",\n    ")},
         |    ${pairs.map { case (a, b) =>
                s"CAST(SUM(CAST($a AS HUGEINT) * $b) AS HUGEINT) AS sp_${a}_$b" }
                .mkString(",\n    ")}
         |  FROM li)
         |SELECT * FROM ($pairSql)
         |ORDER BY col_x, col_y""".stripMargin
    }),

    // two-proportion readout: per-variant Wilson CI + pooled z against
    // control; unit converts if ANY of its events is a purchase
    Gate("q238_proportion_test", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"),
          when(col("user_id") % 2 === 0, "control")
            .otherwise("treatment").as("variant"),
          (col("event_type") === "purchase").as("conv"))
      graft.ops.Profiling.proportionTest(ev, "user_id", "variant",
          "conv", control = "control")
        .orderBy(col("variant"))
    },
    oracle =
      """WITH u AS (SELECT user_id,
        |    CASE WHEN user_id % 2 = 0 THEN 'control'
        |      ELSE 'treatment' END AS variant,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY 1, 2),
        |per AS (SELECT variant, CAST(COUNT(1) AS BIGINT) AS n_units,
        |    CAST(SUM(conv) AS BIGINT) AS n_converted
        |  FROM u GROUP BY 1),
        |ctl AS (SELECT n_units AS cn, n_converted AS cx FROM per
        |  WHERE variant = 'control'),
        |w AS (SELECT per.*, ctl.cn, ctl.cx,
        |    CAST(n_converted AS DOUBLE) / CAST(n_units AS DOUBLE) AS p,
        |    CAST(cx AS DOUBLE) / CAST(cn AS DOUBLE) AS pc,
        |    CAST(n_converted + cx AS DOUBLE)
        |      / CAST(n_units + cn AS DOUBLE) AS pool
        |  FROM per CROSS JOIN ctl),
        |f AS (SELECT variant, n_units, n_converted, p, pc,
        |    p + 3.8416 / (2.0 * CAST(n_units AS DOUBLE)) AS centre,
        |    1.96 * sqrt(p * (1.0 - p) / CAST(n_units AS DOUBLE)
        |      + 3.8416 / (4.0 * CAST(n_units AS DOUBLE)
        |        * CAST(n_units AS DOUBLE))) AS spread,
        |    1.0 + 3.8416 / CAST(n_units AS DOUBLE) AS denom,
        |    sqrt(pool * (1.0 - pool) * (1.0 / CAST(n_units AS DOUBLE)
        |      + 1.0 / CAST(cn AS DOUBLE))) AS se
        |  FROM w)
        |SELECT variant, n_units, n_converted, ROUND(p, 6) AS rate,
        |  ROUND((centre - spread) / denom, 6) AS ci_lo,
        |  ROUND((centre + spread) / denom, 6) AS ci_hi,
        |  CASE WHEN variant <> 'control' AND se > 0
        |    THEN ROUND((p - pc) / se, 6) END AS z_vs_control,
        |  CASE WHEN variant <> 'control' AND se > 0
        |    THEN abs((p - pc) / se) > 1.96 END AS significant
        |FROM f ORDER BY variant""".stripMargin),

    // bot signals: burst peak + mono-type volume rules from exact
    // per-minute integer counts
    Gate("q239_bot_signals", (s, dir) => {
      val ev = events(s, dir)
      graft.ops.EventAnalytics.botSignals(ev, "user_id", "ts",
          "event_type", peakPerMinute = 3L, minEvents = 100L)
        .orderBy(col("user_id"))
    },
    oracle =
      """WITH pm AS (SELECT user_id,
        |    epoch_us(ts) // 60000000 AS minute,
        |    CAST(COUNT(1) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
        |    CAST(COUNT(1) AS BIGINT) AS active_minutes,
        |    CAST(MAX(c) AS BIGINT) AS peak_per_minute
        |  FROM pm GROUP BY 1),
        |t AS (SELECT user_id,
        |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
        |  FROM events GROUP BY 1)
        |SELECT r.user_id, r.n_events, r.active_minutes,
        |  r.peak_per_minute, t.n_types,
        |  r.n_events * 1000 // r.active_minutes AS epm_milli,
        |  (r.peak_per_minute >= 3
        |   OR (r.n_events >= 100 AND t.n_types = 1)) AS bot
        |FROM r JOIN t USING (user_id)
        |ORDER BY r.user_id""".stripMargin),

    // l-diversity: quasi-groups must hold >= l distinct sensitive
    // values (NULL counts as one); rows in homogeneous groups drop
    Gate("q240_l_diversity", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet").select(
        col("c_custkey"),
        col("c_mktsegment").as("seg"),
        (col("c_nationkey") % 5).as("region_band"),
        when(col("c_custkey") % 9 =!= 0,
          (col("c_acctbal") > 0).cast("string")).as("solvent"))
      Corpus.lDiversity(c, Seq("seg", "region_band"), "solvent", l = 3L)
        .orderBy(col("c_custkey"))
    },
    oracle =
      """WITH c AS (SELECT c_custkey, c_mktsegment AS seg,
        |    c_nationkey % 5 AS region_band,
        |    CASE WHEN c_custkey % 9 <> 0
        |      THEN CAST(c_acctbal > 0 AS VARCHAR) END AS solvent
        |  FROM customer),
        |g AS (SELECT seg, region_band,
        |    CAST(COUNT(1) AS BIGINT) AS group_n,
        |    CAST(COUNT(DISTINCT solvent)
        |      + MAX(CASE WHEN solvent IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS sensitive_n
        |  FROM c GROUP BY 1, 2)
        |SELECT c.seg, c.region_band, c.c_custkey, c.solvent,
        |  g.group_n, g.sensitive_n
        |FROM c JOIN g USING (seg, region_band)
        |WHERE g.sensitive_n >= 3
        |ORDER BY c.c_custkey""".stripMargin),

    // LSH banding sweep: measured candidate volume + analytic S-curve
    // threshold per (bands, rows) config from ONE signature pass
    Gate("q241_lsh_tuning", (s, dir) =>
      Dedup.lshTuning(docs(s, dir), "doc_id", "text",
          Seq((8, 4), (16, 2), (4, 8)))
        .orderBy(col("bands"), col("rows_per_band")),
    // one 32-perm signature replay feeds every config; per config the
    // band keys are the comma-joined slice (the gate's concat_ws keys),
    // candidate pairs = sum of C(n,2) over buckets; thresholds are the
    // SAME Math.pow literals the op embeds
    oracle = {
      val sh = dshingleHashes
      val mhCols = Dedup.minhashParams(32).zipWithIndex.map {
        case ((a, b), i) =>
          s"list_min(list_transform(sh, h -> (h * $a + $b) % " +
            s"${Dedup.MinhashP})) AS mh_$i"
      }.mkString(",\n  ")
      val configs = Seq((8, 4), (16, 2), (4, 8))
      val perConfig = configs.map { case (b, r) =>
        val thresholdMicro =
          math.floor(math.pow(1.0 / b, 1.0 / r) * 1e6).toLong
        val bandSelects = (0 until b).map { i =>
          val slice = (i * r until (i + 1) * r).map(j => s"mh_$j")
          s"SELECT $i AS band, concat_ws(',', ${slice.mkString(", ")}) " +
            s"AS key FROM sig"
        }.mkString("\n    UNION ALL ")
        s"""SELECT $b AS bands, $r AS rows_per_band,
           |  CAST($thresholdMicro AS BIGINT) AS threshold_micro,
           |  CAST(COUNT(1) AS BIGINT) AS n_buckets,
           |  CAST(MAX(n) AS BIGINT) AS max_bucket,
           |  CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs
           |FROM (SELECT band, key, COUNT(1) AS n FROM (
           |    $bandSelects
           |  ) GROUP BY 1, 2)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH t AS (SELECT doc_id, $sh AS sh FROM documents),
         |sig AS (SELECT doc_id, $mhCols FROM t)
         |SELECT * FROM ($perConfig)
         |ORDER BY bands, rows_per_band""".stripMargin
    }),

    // soft dedup: per-copy weight 1e6 div cluster size over the q54
    // near-dup clusters — corpus influence of a page stays constant
    Gate("q242_dup_weights", (s, dir) => {
      val pairs = nearDupPairs(docs(s, dir))
      val clusters = Dedup.nearDupClusters(
        docs(s, dir).select(col("doc_id")), "doc_id", pairs)
      Dedup.dupWeights(clusters, "cluster")
        .orderBy(col("doc_id"))
    },
    // the q54 recursive-CC oracle extended with the per-cluster weight
    oracle =
      s"""WITH RECURSIVE $pairsCcCtes,
         |cl AS (SELECT id AS doc_id, MIN(label) AS cluster
         |  FROM cc GROUP BY id),
         |cn AS (SELECT cluster, CAST(COUNT(1) AS BIGINT) AS cluster_n
         |  FROM cl GROUP BY 1)
         |SELECT cl.doc_id, cl.cluster, cn.cluster_n,
         |  CAST(1000000 // cn.cluster_n AS BIGINT) AS weight_micro
         |FROM cl JOIN cn USING (cluster)
         |ORDER BY cl.doc_id""".stripMargin),

    // per-source percentile rank of the quality proxy: exact-integer
    // ECDF in micro-units, ties share a rank
    Gate("q243_percentile_rank", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("len"))
      graft.ops.Profiling.percentileRank(d, "source", "len")
        .orderBy(col("doc_id"))
    },
    oracle =
      """WITH d AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS len
        |  FROM documents),
        |pv AS (SELECT source, len, CAST(COUNT(1) AS BIGINT) AS c
        |  FROM d GROUP BY 1, 2),
        |r AS (SELECT source, len,
        |    SUM(c) OVER (PARTITION BY source ORDER BY len
        |      ROWS UNBOUNDED PRECEDING) AS le,
        |    SUM(c) OVER (PARTITION BY source) AS n
        |  FROM pv)
        |SELECT d.doc_id, d.source, d.len,
        |  CAST(r.n AS BIGINT) AS group_n,
        |  CAST((r.le * 1000000) // r.n AS BIGINT) AS cdf_micro
        |FROM d JOIN r USING (source, len)
        |ORDER BY d.doc_id""".stripMargin),

    // DAU/WAU stickiness per day: the q164 rolling actives with the
    // ratio carried as exact integer micro-units
    Gate("q244_stickiness", (s, dir) => {
      val ev = events(s, dir)
      graft.ops.EventAnalytics.rollingActiveUsers(ev, "user_id", "ts", 7)
        .withColumn("stickiness_micro",
          expr("dau * 1000000 div wau"))
        .orderBy(col("day"))
    },
    oracle =
      s"""WITH $dauWauCtes
        |SELECT dau.day, dau, wau,
        |  (dau * 1000000) // wau AS stickiness_micro
        |FROM dau JOIN wau USING (day)
        |ORDER BY day""".stripMargin),

    // readability: Flesch + FK grade from three exact integer counts
    Gate("q245_readability", (s, dir) =>
      docs(s, dir).select(Seq(col("doc_id")) ++
          graft.ops.TextAnalysis.readability(col("text")).map {
            case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id")),
    oracle =
      """WITH c AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[^\s]+')) AS BIGINT)
        |      AS n_words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN ROUND(206.835
        |    - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6)
        |    END AS flesch,
        |  CASE WHEN n_words > 0 THEN ROUND(
        |    0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
        |    - 15.59, 6) END AS fk_grade
        |FROM c ORDER BY doc_id""".stripMargin),

    // ROUGE-2 of a deterministic "summary" (vowel-mangled text) vs the
    // original; one-sided ids exercise the 0-total edges
    Gate("q246_rouge", (s, dir) => {
      val d = docs(s, dir)
      val cand = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), regexp_replace(col("text"), "e", "a")
          .as("text"))
      val ref = d.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("text"))
      graft.ops.TextAnalysis.rougeN(cand, ref, "doc_id", "text", n = 2)
        .orderBy(col("doc_id"))
    },
    oracle =
      """WITH cd AS (SELECT doc_id, replace(text, 'e', 'a') AS text
        |  FROM documents WHERE doc_id % 2 = 0),
        |rd AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        |cw AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[^\s]+') AS ws FROM cd),
        |cg AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
        |  FROM cw, unnest(range(1, greatest(len(ws), 1))) t(i)
        |  WHERE len(ws) >= 2),
        |cc AS (SELECT doc_id, g, CAST(COUNT(1) AS BIGINT) AS c
        |  FROM cg GROUP BY 1, 2),
        |rw AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[^\s]+') AS ws FROM rd),
        |rg AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
        |  FROM rw, unnest(range(1, greatest(len(ws), 1))) t(i)
        |  WHERE len(ws) >= 2),
        |rc AS (SELECT doc_id, g, CAST(COUNT(1) AS BIGINT) AS c
        |  FROM rg GROUP BY 1, 2),
        |j AS (SELECT COALESCE(cc.doc_id, rc.doc_id) AS doc_id,
        |    COALESCE(cc.c, 0) AS c, COALESCE(rc.c, 0) AS r
        |  FROM cc FULL OUTER JOIN rc
        |    ON cc.doc_id = rc.doc_id AND cc.g = rc.g),
        |per AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_cand,
        |    CAST(SUM(r) AS BIGINT) AS n_ref,
        |    CAST(SUM(least(c, r)) AS BIGINT) AS n_match
        |  FROM j GROUP BY 1)
        |SELECT doc_id, n_cand, n_ref, n_match,
        |  CASE WHEN n_cand > 0 THEN ROUND(
        |    CAST(n_match AS DOUBLE) / n_cand, 6) END AS precision,
        |  CASE WHEN n_ref > 0 THEN ROUND(
        |    CAST(n_match AS DOUBLE) / n_ref, 6) END AS recall,
        |  CASE WHEN n_cand > 0 AND n_ref > 0 AND n_match > 0
        |    THEN ROUND(2.0 * (CAST(n_match AS DOUBLE) / n_cand)
        |      * (CAST(n_match AS DOUBLE) / n_ref)
        |      / ((CAST(n_match AS DOUBLE) / n_cand)
        |        + (CAST(n_match AS DOUBLE) / n_ref)), 6)
        |    WHEN n_cand > 0 AND n_ref > 0 THEN 0.0 END AS f1
        |FROM per ORDER BY doc_id""".stripMargin),

    // lift/gains table over the q216 synthetic score/label: decile
    // buckets walked top-down, integer cross-product lift
    Gate("q247_lift_table", (s, dir) => {
      val d = events(s, dir)
        .withColumn("score_mil",
          pmod(col("event_id") * 37 + col("user_id"), lit(1001L)))
        .withColumn("label",
          pmod(col("event_id") * 17, lit(1000L)) < col("score_mil"))
      graft.ops.Profiling.liftTable(d, "score_mil", "label")
        .orderBy(col("bucket").desc)
    },
    oracle =
      """WITH d AS (SELECT event_id,
        |    (event_id * 37 + user_id) % 1001 AS s,
        |    ((event_id * 17) % 1000) < ((event_id * 37 + user_id) % 1001)
        |      AS y
        |  FROM events),
        |pv AS (SELECT s AS v, COUNT(1) AS c FROM d GROUP BY 1),
        |cm AS (SELECT v, SUM(c) OVER (ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM pv),
        |tot AS (SELECT COUNT(1) AS n FROM d),
        |bd AS (SELECT pp.p, MIN(v) AS bnd FROM cm CROSS JOIN tot
        |  JOIN (SELECT unnest([10, 20, 30, 40, 50, 60, 70, 80, 90]) AS p)
        |    pp ON cum * 100 >= pp.p * n
        |  GROUP BY pp.p),
        |bdx AS (SELECT bnd, ROW_NUMBER() OVER (ORDER BY bnd) AS r
        |  FROM bd),
        |hb AS (SELECT bin, CAST(COUNT(1) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |  FROM (SELECT x.event_id, x.y,
        |      CAST(1 + SUM(CASE WHEN x.s > bd.bnd THEN 1 ELSE 0 END)
        |        AS INTEGER) AS bin
        |    FROM d x CROSS JOIN bd GROUP BY x.event_id, x.y)
        |  GROUP BY 1),
        |t2 AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
        |    CAST(SUM(n_pos) AS BIGINT) AS tp FROM hb),
        |ct AS (SELECT hb.*,
        |    CAST(SUM(n) OVER (ORDER BY bin DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
        |    CAST(SUM(n_pos) OVER (ORDER BY bin DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
        |  FROM hb)
        |SELECT c.bin AS bucket, bdx.bnd AS lo, c.n, c.n_pos,
        |  c.cum_n, c.cum_pos,
        |  CASE WHEN t2.tp > 0 THEN ROUND(
        |    CAST(c.cum_pos AS DOUBLE) / CAST(t2.tp AS DOUBLE), 6)
        |    END AS gains,
        |  CASE WHEN t2.tp > 0 THEN ROUND(
        |    CAST(c.cum_pos * t2.tn AS DOUBLE)
        |      / CAST(c.cum_n * t2.tp AS DOUBLE), 6) END AS lift
        |FROM ct c LEFT JOIN bdx ON bdx.r = c.bin - 1 CROSS JOIN t2
        |ORDER BY bucket DESC""".stripMargin),

    // difference-hash twin of q221: adjacent-luma gradient bits from
    // the same real PNG decodes, exact integer comparisons
    Gate("q248_image_dhash", (s, dir) =>
      Multimodal.imageDHash(
        Multimodal.withSyntheticImage(docs(s, dir), "doc_id")).toDF()
        .withColumnRenamed("media_id", "doc_id")
        .orderBy(col("doc_id")),
    // the q221 pixel-formula replay restricted to the luma CTEs; bits
    // come from adjacent (i, i+1) pairs, LEFT JOIN so a 1x1 image keeps
    // its zero-bit row
    oracle =
      s"""WITH $lumaCtes,
         |nn AS (SELECT doc_id, w, h, COUNT(1) AS n
         |  FROM pp GROUP BY 1, 2, 3),
         |pr AS (SELECT a.doc_id, a.i, a.luma AS la, b.luma AS lb
         |  FROM pp a JOIN pp b
         |    ON a.doc_id = b.doc_id AND b.i = a.i + 1),
         |bits AS (SELECT nn.doc_id, nn.w, nn.h,
         |    LEAST(64, nn.n - 1) AS nb,
         |    COALESCE(SUM(CASE WHEN pr.i >= 32
         |      AND pr.i < LEAST(64, nn.n - 1) AND pr.lb > pr.la
         |      THEN (CAST(1 AS BIGINT) << (pr.i - 32)) ELSE 0 END), 0)
         |      AS hi,
         |    COALESCE(SUM(CASE WHEN pr.i < 32 AND pr.lb > pr.la
         |      THEN (CAST(1 AS BIGINT) << pr.i) ELSE 0 END), 0) AS lo,
         |    COALESCE(SUM(CASE WHEN pr.i < LEAST(64, nn.n - 1)
         |      AND pr.lb > pr.la THEN 1 ELSE 0 END), 0) AS ones
         |  FROM nn LEFT JOIN pr ON pr.doc_id = nn.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT doc_id, w AS width, h AS height,
         |  CAST(nb AS INTEGER) AS n_bits, CAST(hi AS BIGINT) AS dhash_hi,
         |  CAST(lo AS BIGINT) AS dhash_lo, CAST(ones AS INTEGER) AS n_ones
         |FROM bits ORDER BY doc_id""".stripMargin),

    // audio hygiene gate over real WAV/PCM decodes: clipping, silence,
    // peak, exact energy, DC offset — all integers vs the sample formula
    Gate("q249_audio_quality", (s, dir) =>
      Multimodal.audioQuality(
        Multimodal.withSyntheticWavPcm(docs(s, dir), "doc_id"),
        clipLevel = 1800, silenceLevel = 150).toDF()
        .withColumnRenamed("media_id", "doc_id")
        .orderBy(col("doc_id")),
    oracle =
      """WITH sm AS (SELECT doc_id, i,
        |    ((doc_id * 31 + i * 7) % 4001) - 2000 AS v
        |  FROM documents, unnest(generate_series(0, 63)) AS u(i))
        |SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(64 AS BIGINT) AS n_samples,
        |  CAST(SUM(CASE WHEN ABS(v) >= 1800 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped,
        |  CAST(SUM(CASE WHEN ABS(v) <= 150 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_silent,
        |  CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs,
        |  CAST(SUM(v * v) AS BIGINT) AS sum_sq,
        |  CAST(SUM(v) AS BIGINT) AS dc_sum
        |FROM sm GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // URL canonicalization over deterministic messy URLs: fragment /
    // case / www / default-port / dup-slash / tracking-param / param-
    // order collapse, plus registrable-domain extraction
    Gate("q250_url_canonicalize", (s, dir) => {
      val id  = col("doc_id")
      val u   = docs(s, dir).select(id, synthUrl(id).as("url"))
      val can = graft.ops.UrlOps.canonicalize(col("url"))
      u.select(id, col("url"), can.as("canonical"),
          graft.ops.UrlOps.registrableDomain(can).as("domain"))
        .orderBy(id)
    },
    oracle =
      s"""WITH $urlCanonCtes
         |SELECT doc_id, url, canonical, domain FROM dom
         |ORDER BY doc_id""".stripMargin),

    // per-registrable-domain crawl rollup over the canonical URLs
    Gate("q251_domain_rollup", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        synthUrl(col("doc_id")).as("url"), col("lang"), col("n_chars"))
      graft.ops.UrlOps.domainRollup(d, "url", "lang", "n_chars")
        .orderBy(col("domain"))
    },
    oracle =
      s"""WITH $urlCanonCtes
         |SELECT domain, COUNT(1) AS n_pages,
         |  COUNT(DISTINCT hostonly) AS n_hosts,
         |  COUNT(DISTINCT lang) AS n_langs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM dom GROUP BY 1 ORDER BY 1""".stripMargin),

    // DCT perceptual hash (third tier after aHash/dHash): integer Q14
    // basis, nearest-neighbor 8x8 downsample, median-of-AC threshold
    Gate("q252_image_phash", (s, dir) =>
      Multimodal.imagePHash(
        Multimodal.withSyntheticImage(docs(s, dir), "doc_id")).toDF()
        .withColumnRenamed("media_id", "doc_id")
        .orderBy(col("doc_id")),
    // the q221 pixel formula downsampled 8x8 nearest-neighbor, 2-D
    // DCT-II against the SAME pinned Q14 integer basis the Scala op
    // uses (inlined as VALUES — single source of truth), median-of-AC
    // threshold replayed through the rank-32 order statistic
    oracle = {
      val tvals = (for {
        u <- 0 until 8; x <- 0 until 8
      } yield s"(${u}, ${x}, ${graft.ops.Multimodal.DctQ14(u)(x)})")
        .mkString(", ")
      s"""WITH $lumaCtes,
         |t(u, x, c) AS (SELECT * FROM (VALUES $tvals)),
         |d8 AS (SELECT px.doc_id, gx.xi, gy.yj, p.luma
         |  FROM px, unnest(generate_series(0, 7)) AS gx(xi),
         |    unnest(generate_series(0, 7)) AS gy(yj), pp p
         |  WHERE p.doc_id = px.doc_id
         |    AND p.i = ((gy.yj * px.h) // 8) * px.w + ((gx.xi * px.w) // 8)),
         |c AS (SELECT d8.doc_id, tu.u AS u, tv.u AS v,
         |    SUM(d8.luma * tu.c * tv.c) AS coef
         |  FROM d8 JOIN t tu ON tu.x = d8.xi JOIN t tv ON tv.x = d8.yj
         |  GROUP BY 1, 2, 3),
         |ac AS (SELECT doc_id, coef,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY coef, v * 8 + u) AS rn
         |  FROM c WHERE NOT (u = 0 AND v = 0)),
         |med AS (SELECT doc_id, coef AS m FROM ac WHERE rn = 32),
         |bits AS (SELECT c.doc_id,
         |    SUM(CASE WHEN c.coef > med.m AND c.v * 8 + c.u - 1 >= 32
         |      THEN (CAST(1 AS BIGINT) << (c.v * 8 + c.u - 33))
         |      ELSE 0 END) AS hi,
         |    SUM(CASE WHEN c.coef > med.m AND c.v * 8 + c.u - 1 < 32
         |      THEN (CAST(1 AS BIGINT) << (c.v * 8 + c.u - 1))
         |      ELSE 0 END) AS lo,
         |    SUM(CASE WHEN c.coef > med.m THEN 1 ELSE 0 END) AS ones
         |  FROM c JOIN med USING (doc_id)
         |  WHERE NOT (c.u = 0 AND c.v = 0)
         |  GROUP BY 1)
         |SELECT px.doc_id, px.w AS width, px.h AS height,
         |  CAST(b.hi AS BIGINT) AS phash_hi, CAST(b.lo AS BIGINT) AS phash_lo,
         |  CAST(b.ones AS INTEGER) AS n_ones
         |FROM px JOIN bits b ON b.doc_id = px.doc_id
         |ORDER BY px.doc_id""".stripMargin
    }),

    // autocorrelation of the hourly event-count series per type at
    // lags 1..3 — the seasonality detector over the densified grid
    Gate("q253_acf", (s, dir) =>
      graft.ops.EventAnalytics.acf(
        events(s, dir), "event_type", "ts",
        maxLag = 3)
        .orderBy(col("event_type"), col("lag")),
    oracle =
      s"""WITH $hourlyCountsCte,
        |r AS (SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
        |  FROM g GROUP BY 1),
        |grid AS (SELECT r.event_type, u.b AS bucket
        |  FROM r, unnest(generate_series(r.lo, r.hi)) AS u(b)),
        |dense AS (SELECT grid.event_type, grid.bucket,
        |    COALESCE(g.n, 0) AS n
        |  FROM grid LEFT JOIN g ON g.event_type = grid.event_type
        |    AND g.bucket = grid.bucket),
        |al AS (SELECT event_type, bucket, n, u.lag
        |  FROM dense, unnest(generate_series(1, 3)) AS u(lag)),
        |pairs AS (SELECT al.event_type, al.lag, al.n AS x, b.n AS y
        |  FROM al JOIN dense b ON b.event_type = al.event_type
        |    AND b.bucket = al.bucket + al.lag),
        |m AS (SELECT event_type, lag, COUNT(1) AS np,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx,
        |    SUM(y * y) AS syy, SUM(x * y) AS sxy
        |  FROM pairs GROUP BY 1, 2)
        |SELECT event_type, CAST(lag AS INTEGER) AS lag,
        |  CAST(np AS BIGINT) AS n_pairs,
        |  CASE WHEN np * sxx - sx * sx > 0 AND np * syy - sy * sy > 0
        |    THEN CAST(np * sxy - sx * sy AS DOUBLE) /
        |      sqrt(CAST(np * sxx - sx * sx AS DOUBLE) *
        |           CAST(np * syy - sy * sy AS DOUBLE))
        |  END AS r
        |FROM m ORDER BY 1, 2""".stripMargin),

    // Herfindahl source concentration per language: exact integer
    // moments, the corpus-diversity audit
    Gate("q254_hhi", (s, dir) =>
      graft.ops.Profiling.hhi(docs(s, dir), "lang", "source")
        .orderBy(col("lang")),
    oracle =
      """WITH c AS (SELECT lang, source, COUNT(1) AS c
        |  FROM documents GROUP BY 1, 2)
        |SELECT lang, CAST(SUM(c) AS BIGINT) AS n,
        |  CAST(COUNT(1) AS BIGINT) AS n_keys,
        |  CAST(MAX(c) AS BIGINT) AS max_count,
        |  CAST(SUM(c * c) AS BIGINT) AS sum_sq_counts,
        |  CAST(SUM(c * c) AS DOUBLE) /
        |    (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)) AS hhi
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),

    // domain blocklist filter on canonical form: WWW./port/case
    // variants of a blocked domain cannot dodge the entry
    Gate("q255_blocked_domains", (s, dir) => {
      import s.implicits._
      val d = docs(s, dir).select(col("doc_id"),
        synthUrl(col("doc_id")).as("url"), col("lang"))
      graft.ops.UrlOps.filterBlockedDomains(d, "url",
          Seq("example.org").toDF("domain"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
    oracle =
      s"""WITH $urlCanonCtes
         |SELECT doc_id, lang FROM dom
         |WHERE domain NOT IN ('example.org')
         |ORDER BY doc_id""".stripMargin),

    // CUSUM change-point localization over the hourly grid: exact
    // B-scaled cumulative deviations, argmax-|S| peak flag
    Gate("q256_cusum", (s, dir) =>
      graft.ops.EventAnalytics.cusumDrift(
        events(s, dir), "event_type", "ts")
        .orderBy(col("event_type"), col("bucket")),
    oracle =
      s"""WITH $hourlyCountsCte,
        |r AS (SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
        |  FROM g GROUP BY 1),
        |grid AS (SELECT r.event_type, u.b AS bucket
        |  FROM r, unnest(generate_series(r.lo, r.hi)) AS u(b)),
        |dense AS (SELECT grid.event_type, grid.bucket,
        |    COALESCE(g.n, 0) AS n
        |  FROM grid LEFT JOIN g ON g.event_type = grid.event_type
        |    AND g.bucket = grid.bucket),
        |tot AS (SELECT event_type, SUM(n) AS total, COUNT(1) AS nb
        |  FROM dense GROUP BY 1),
        |s AS (SELECT dense.event_type, dense.bucket, dense.n,
        |    SUM(dense.n * tot.nb - tot.total) OVER (
        |      PARTITION BY dense.event_type ORDER BY dense.bucket)
        |      AS cusum_scaled
        |  FROM dense JOIN tot USING (event_type))
        |SELECT event_type, bucket, CAST(n AS BIGINT) AS n,
        |  CAST(cusum_scaled AS BIGINT) AS cusum_scaled,
        |  (ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY ABS(cusum_scaled) DESC, bucket)) = 1 AS is_peak
        |FROM s ORDER BY event_type, bucket""".stripMargin),

    // time-weighted average value per event type: zero-order hold over
    // irregular samples, exact integer weighted sum over milli-units
    Gate("q257_time_weighted_avg", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("vmil",
          floor(col("value") * 1000 + 0.5).cast("long"))
      graft.ops.EventAnalytics.timeWeightedAvg(ev, "event_type", "ts",
          "event_id", "vmil")
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us, event_id,
        |    CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS vmil
        |  FROM events),
        |b AS (SELECT event_type, us, vmil,
        |    LEAD(us) OVER (PARTITION BY event_type
        |      ORDER BY us, event_id) AS nus
        |  FROM e)
        |SELECT event_type, COUNT(1) AS n_samples,
        |  CAST(MAX(us) - MIN(us) AS BIGINT) AS span_us,
        |  CAST(SUM(CASE WHEN nus IS NOT NULL
        |    THEN vmil * (nus - us) ELSE 0 END) AS BIGINT) AS twa_num,
        |  CASE WHEN MAX(us) - MIN(us) > 0
        |    THEN CAST(SUM(CASE WHEN nus IS NOT NULL
        |        THEN vmil * (nus - us) ELSE 0 END) AS DOUBLE) /
        |      CAST(MAX(us) - MIN(us) AS DOUBLE)
        |  END AS twa
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),

    // exact Gini of the source distribution per language: rank window
    // over the count table only, integer num/den
    Gate("q258_gini", (s, dir) =>
      graft.ops.Profiling.gini(docs(s, dir), "lang", "source")
        .orderBy(col("lang")),
    oracle =
      """WITH c AS (SELECT lang, source, COUNT(1) AS c
        |  FROM documents GROUP BY 1, 2),
        |rk AS (SELECT lang, c, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY c ASC, source ASC NULLS LAST) AS i
        |  FROM c)
        |SELECT lang, CAST(SUM(c) AS BIGINT) AS n,
        |  CAST(COUNT(1) AS BIGINT) AS n_keys,
        |  CAST(2 * SUM(i * c) - (COUNT(1) + 1) * SUM(c) AS BIGINT)
        |    AS gini_num,
        |  CAST(COUNT(1) * SUM(c) AS BIGINT) AS gini_den,
        |  CAST(2 * SUM(i * c) - (COUNT(1) + 1) * SUM(c) AS DOUBLE) /
        |    CAST(COUNT(1) * SUM(c) AS DOUBLE) AS gini
        |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin),

    // hour-of-day seasonal baseline anomalies: each bucket vs the mean
    // of its own hour slot, exact rational cross-multiplied threshold
    Gate("q259_seasonal_anomalies", (s, dir) =>
      graft.ops.EventAnalytics.seasonalAnomalies(
        events(s, dir), "event_type", "ts",
        thresholdAbs = 3L)
        .orderBy(col("event_type"), col("bucket")),
    oracle =
      s"""WITH $hourlyCountsCte,
        |r AS (SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
        |  FROM g GROUP BY 1),
        |grid AS (SELECT r.event_type, u.b AS bucket
        |  FROM r, unnest(generate_series(r.lo, r.hi)) AS u(b)),
        |dense AS (SELECT grid.event_type, grid.bucket, grid.bucket % 24
        |    AS hour_of_day, COALESCE(g.n, 0) AS n
        |  FROM grid LEFT JOIN g ON g.event_type = grid.event_type
        |    AND g.bucket = grid.bucket),
        |base AS (SELECT event_type, hour_of_day, SUM(n) AS base_num,
        |    COUNT(1) AS base_den
        |  FROM dense GROUP BY 1, 2)
        |SELECT d.event_type, d.bucket, d.hour_of_day,
        |  CAST(d.n AS BIGINT) AS n,
        |  CAST(b.base_num AS BIGINT) AS base_num,
        |  CAST(b.base_den AS BIGINT) AS base_den,
        |  ABS(d.n * b.base_den - b.base_num) >= 3 * b.base_den
        |    AS is_anomaly
        |FROM dense d JOIN base b ON b.event_type = d.event_type
        |  AND b.hour_of_day = d.hour_of_day
        |ORDER BY d.event_type, d.bucket""".stripMargin),

    // crawl URL dedup: keep-first on the canonical form — synthetic
    // urls repeat with period lcm(2,3,4,5,7)=420, so late ids collapse
    Gate("q260_url_dedup", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        synthUrl(col("doc_id")).as("url"), col("lang"))
      graft.ops.UrlOps.dedupByCanonicalUrl(d, "url", "doc_id")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
    oracle =
      s"""WITH $urlCanonCtes,
         |rk AS (SELECT doc_id, lang, ROW_NUMBER() OVER (
         |    PARTITION BY canonical ORDER BY doc_id) AS rn FROM dom)
         |SELECT doc_id, lang FROM rk WHERE rn = 1
         |ORDER BY doc_id""".stripMargin),

    // pairwise co-missingness over synthesized null patterns: v2 nulls
    // are a strict subset of v1's non-null rows' complement
    Gate("q261_missingness", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("v1", when(col("event_id") % 3 === 0, col("value")))
        .withColumn("v2", when(col("event_id") % 6 === 0, col("user_id")))
        .withColumn("v3", when(col("event_id") % 2 === 0,
          col("event_type")))
      graft.ops.Profiling.missingness(ev, Seq("v1", "v2", "v3"))
        .orderBy(col("col_a"), col("col_b"))
    },
    oracle =
      """WITH e AS (SELECT
        |    CASE WHEN event_id % 3 = 0 THEN value END AS v1,
        |    CASE WHEN event_id % 6 = 0 THEN user_id END AS v2,
        |    CASE WHEN event_id % 2 = 0 THEN event_type END AS v3
        |  FROM events),
        |m AS (SELECT CAST(COUNT(1) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN v1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS na1,
        |    CAST(SUM(CASE WHEN v2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS na2,
        |    CAST(SUM(CASE WHEN v3 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS na3,
        |    CAST(SUM(CASE WHEN v1 IS NULL AND v2 IS NULL THEN 1 ELSE 0
        |      END) AS BIGINT) AS nb12,
        |    CAST(SUM(CASE WHEN v1 IS NULL AND v3 IS NULL THEN 1 ELSE 0
        |      END) AS BIGINT) AS nb13,
        |    CAST(SUM(CASE WHEN v2 IS NULL AND v3 IS NULL THEN 1 ELSE 0
        |      END) AS BIGINT) AS nb23
        |  FROM e)
        |SELECT col_a, col_b, n_rows, null_a, null_b, null_both,
        |  n_rows - null_a - null_b + null_both AS null_neither
        |FROM (
        |  SELECT 'v1' AS col_a, 'v2' AS col_b, n AS n_rows,
        |    na1 AS null_a, na2 AS null_b, nb12 AS null_both FROM m
        |  UNION ALL SELECT 'v1', 'v3', n, na1, na3, nb13 FROM m
        |  UNION ALL SELECT 'v2', 'v3', n, na2, na3, nb23 FROM m)
        |ORDER BY col_a, col_b""".stripMargin),

    // stuck-video detection over AVIs with each logical frame tripled:
    // freeze runs inside repeat groups, exact byte-delta thresholds
    Gate("q262_video_freeze", (s, dir) =>
      Multimodal.videoFreezeRuns(
        Multimodal.withSyntheticAviRepeats(docs(s, dir), "doc_id"))
        .toDF().withColumnRenamed("media_id", "doc_id")
        .orderBy(col("doc_id")),
    oracle =
      """WITH v AS (SELECT doc_id, CAST(doc_id % 7 + 1 AS BIGINT) AS n
        |  FROM documents),
        |tr0 AS (SELECT v.doc_id, v.n, u.f, j.j,
        |    ABS(((v.doc_id + (u.f // 3) * 31 + j.j * 7) % 256) -
        |        ((v.doc_id + ((u.f + 1) // 3) * 31 + j.j * 7) % 256))
        |      AS dd
        |  FROM v, unnest(generate_series(0, v.n - 2)) AS u(f),
        |    unnest(generate_series(0, 31)) AS j(j)
        |  WHERE v.n >= 2),
        |tr AS (SELECT doc_id, f, SUM(dd) AS d FROM tr0 GROUP BY 1, 2),
        |fz AS (SELECT doc_id, f, (d * 1000 <= 1000 * 32) AS frozen
        |  FROM tr),
        |mk AS (SELECT *, CASE WHEN frozen AND NOT COALESCE(
        |    LAG(frozen) OVER (PARTITION BY doc_id ORDER BY f), FALSE)
        |    THEN 1 ELSE 0 END AS st FROM fz),
        |rid AS (SELECT *, SUM(st) OVER (PARTITION BY doc_id ORDER BY f)
        |    AS run_id FROM mk),
        |runlen AS (SELECT doc_id, run_id, COUNT(1) AS len FROM rid
        |  WHERE frozen GROUP BY 1, 2),
        |agg AS (SELECT doc_id,
        |    SUM(CASE WHEN frozen THEN 1 ELSE 0 END) AS n_frozen,
        |    SUM(st) AS n_runs, COUNT(1) AS n_tr FROM mk GROUP BY 1),
        |lr AS (SELECT doc_id, MAX(len) AS longest FROM runlen GROUP BY 1)
        |SELECT v.doc_id, v.n AS n_frames,
        |  CAST(COALESCE(agg.n_tr, 0) AS INTEGER) AS n_transitions,
        |  CAST(COALESCE(agg.n_frozen, 0) AS INTEGER) AS n_frozen,
        |  CAST(COALESCE(agg.n_runs, 0) AS INTEGER) AS n_freeze_runs,
        |  CAST(COALESCE(lr.longest, 0) AS INTEGER) AS longest_run
        |FROM v LEFT JOIN agg USING (doc_id) LEFT JOIN lr USING (doc_id)
        |ORDER BY v.doc_id""".stripMargin),

    // language-ID with confidence margin: best/runner-up stopword hits,
    // ambiguity flag — the routing gate in front of per-language stages
    Gate("q263_langid_margin", (s, dir) =>
      TextAnalysis.langIdMargin(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
    oracle = {
      val scores = TextAnalysis.stopwords.map { case (lang, words) =>
        val inList = words.map(w => "'" + w.replace("'", "''") + "'")
          .mkString(", ")
        lang -> ("len(list_filter(regexp_split_to_array(lower(text), " +
          s"'\\s+'), t -> t IN ($inList)))")
      }
      val colDefs = scores.map { case (l, s) => s"$s AS s_$l" }
        .mkString(",\n    ")
      val names = scores.map("s_" + _._1).mkString(", ")
      val listExpr = s"[$names]"
      val whens = scores.map { case (l, _) =>
        s"WHEN s_$l = best THEN '$l'"
      }.mkString(" ")
      s"""WITH t AS (SELECT doc_id,
         |    $colDefs
         |  FROM documents),
         |b AS (SELECT doc_id, $names,
         |    list_sort($listExpr)[-1] AS best,
         |    list_sort($listExpr)[-2] AS second
         |  FROM t)
         |SELECT doc_id,
         |  CASE WHEN best = 0 THEN 'und' $whens ELSE 'und' END AS lang_pred,
         |  CAST(best AS BIGINT) AS best_hits,
         |  CAST(second AS BIGINT) AS second_hits,
         |  CAST(best - second AS BIGINT) AS margin,
         |  (best = 0 OR best - second <= 1) AS ambiguous
         |FROM b ORDER BY doc_id""".stripMargin
    }),

    // token-level homoglyph spoof detection over synthesized Cyrillic/
    // Greek lookalike injections (documents text is clean ASCII)
    Gate("q264_homoglyphs", (s, dir) => {
      val id = col("doc_id")
      val spiked = docs(s, dir).select(id, concat(col("text"),
        when(id % 5 === 0, lit(" pаypal"))       // Cyrillic а
          .when(id % 5 === 1, lit(" alphαbet"))  // Greek α
          .when(id % 5 === 2, lit(" мосcow")) // мос + cow
          .otherwise(lit(" clean"))).as("text"))
      val sig = TextAnalysis.homoglyphSignals(col("text"))
      spiked.select(id +: sig.map { case (n, c) => c.as(n) }: _*)
        .orderBy(id)
    },
    oracle =
      """WITH sp AS (SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 5 = 0 THEN ' p' || chr(1072) || 'ypal'
        |      WHEN doc_id % 5 = 1 THEN ' alph' || chr(945) || 'bet'
        |      WHEN doc_id % 5 = 2 THEN ' ' || chr(1084) || chr(1086) ||
        |        chr(1089) || 'cow'
        |      ELSE ' clean' END) AS text
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text,
        |      '[^\s]*(?:[A-Za-z][^\s]*[\x{0400}-\x{04FF}]|[\x{0400}-\x{04FF}][^\s]*[A-Za-z])[^\s]*'))
        |      AS BIGINT) AS n_latin_cyrillic_tokens,
        |    CAST(len(regexp_extract_all(text,
        |      '[^\s]*(?:[A-Za-z][^\s]*[\x{0370}-\x{03FF}]|[\x{0370}-\x{03FF}][^\s]*[A-Za-z])[^\s]*'))
        |      AS BIGINT) AS n_latin_greek_tokens
        |  FROM sp)
        |SELECT doc_id, n_latin_cyrillic_tokens, n_latin_greek_tokens,
        |  (n_latin_cyrillic_tokens + n_latin_greek_tokens > 0)
        |    AS has_homoglyph
        |FROM m ORDER BY doc_id""".stripMargin),

    // OCR hyphenation repair over synthesized line-break artifacts;
    // capitals after the break stay split by design
    Gate("q265_hyphen_repair", (s, dir) => {
      val id = col("doc_id")
      val spiked = docs(s, dir).select(id, concat(col("text"),
        when(id % 3 === 0, lit(" exam- ple and test-  ing"))
          .when(id % 3 === 1, lit(" end- The next"))
          .otherwise(lit(" twenty-one"))).as("text"))
      val rep = TextAnalysis.repairHyphenation(col("text"))
      spiked.select(id +: rep.map { case (n, c) => c.as(n) }: _*)
        .orderBy(id)
    },
    oracle =
      """WITH sp AS (SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 3 = 0 THEN ' exam- ple and test-  ing'
        |      WHEN doc_id % 3 = 1 THEN ' end- The next'
        |      ELSE ' twenty-one' END) AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(text, '([a-z])-\s+([a-z])', '\1\2', 'g')
        |    AS repaired,
        |  CAST(len(regexp_extract_all(text, '([a-z])-\s+([a-z])'))
        |    AS BIGINT) AS n_breaks
        |FROM sp ORDER BY doc_id""".stripMargin),

    // journey log-probability under the corpus transition model:
    // micro-nat integer sums, the anomalous-path readout
    Gate("q266_path_logprob", (s, dir) =>
      graft.ops.EventAnalytics.pathLogProb(
        events(s, dir), "user_id", "ts",
        "event_id", "event_type")
        .orderBy(col("user_id")),
    oracle =
      """WITH p0 AS (SELECT user_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS f
        |  FROM events),
        |p AS (SELECT user_id, f AS from_state, event_type AS to_state
        |  FROM p0 WHERE f IS NOT NULL),
        |t AS (SELECT from_state, to_state, COUNT(1) AS nt
        |  FROM p GROUP BY 1, 2),
        |tf AS (SELECT from_state, COUNT(1) AS nf FROM p GROUP BY 1),
        |m AS (SELECT t.from_state, t.to_state,
        |    CAST(ROUND(ROUND(LN(CAST(nt AS DOUBLE) / CAST(nf AS DOUBLE)),
        |      6) * 1000000.0, 0) AS BIGINT) AS lp
        |  FROM t JOIN tf USING (from_state))
        |SELECT p.user_id, CAST(COUNT(1) AS BIGINT) AS n_steps,
        |  CAST(SUM(m.lp) AS BIGINT) AS logprob_micro,
        |  CAST(SUM(m.lp) AS DOUBLE) / COUNT(1) AS avg_logprob_micro
        |FROM p JOIN m USING (from_state, to_state)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // semi-structured props field audit: never-throw JSON extraction
    // with injected malformed payloads, exact per-type stats
    Gate("q267_json_props", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("props",
          when(col("event_id") % 97 === 0, lit("{broken"))
            .otherwise(col("props")))
      graft.ops.SemiStructured.fieldStats(ev, "event_type", "props",
        "$.k").orderBy(col("event_type"))
    },
    oracle =
      """WITH e AS (SELECT event_type,
        |    CASE WHEN event_id % 97 = 0 THEN '{broken' ELSE props END
        |      AS props
        |  FROM events),
        |x AS (SELECT event_type,
        |    CASE WHEN json_valid(props) THEN
        |      TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        |    END AS k
        |  FROM e)
        |SELECT event_type, CAST(COUNT(1) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_missing,
        |  CAST(SUM(k) AS BIGINT) AS k_sum,
        |  CAST(MIN(k) AS BIGINT) AS k_min,
        |  CAST(MAX(k) AS BIGINT) AS k_max
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin),

    // position-debiased engagement (COEC) over synthetic rank slots:
    // per-position CTR model broadcast back, exact micro-unit sums
    Gate("q268_coec", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("item", pmod(col("event_id"), lit(37L)))
        .withColumn("pos", pmod(col("event_id") * 13, lit(5L)) + 1)
        .withColumn("click", col("event_type") === "purchase")
      graft.ops.EventAnalytics.coec(ev, "item", "pos", "click")
        .orderBy(col("item"))
    },
    oracle =
      """WITH e AS (SELECT event_id % 37 AS item,
        |    (event_id * 13) % 5 + 1 AS pos,
        |    (event_type = 'purchase') AS click
        |  FROM events),
        |ip AS (SELECT item, pos, COUNT(1) AS n,
        |    SUM(CASE WHEN click THEN 1 ELSE 0 END) AS c
        |  FROM e GROUP BY 1, 2),
        |pc AS (SELECT pos, CAST(ROUND(1000000.0 * CAST(SUM(c) AS DOUBLE)
        |    / CAST(SUM(n) AS DOUBLE), 0) AS BIGINT) AS ctr_mic
        |  FROM ip GROUP BY 1),
        |a AS (SELECT item, CAST(SUM(n) AS BIGINT) AS n_impr,
        |    CAST(SUM(c) AS BIGINT) AS n_clicks,
        |    CAST(SUM(n * ctr_mic) AS BIGINT) AS ec_micro
        |  FROM ip JOIN pc USING (pos) GROUP BY 1)
        |SELECT item, n_impr, n_clicks, ec_micro,
        |  CASE WHEN ec_micro > 0 THEN
        |    CAST(n_clicks AS DOUBLE) * 1000000.0 / CAST(ec_micro AS DOUBLE)
        |  END AS coec
        |FROM a ORDER BY item""".stripMargin),

    // inter-rater agreement per event type: two synthetic annotators
    // with controlled disagreement, exact rational kappa
    Gate("q269_cohens_kappa", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("rater_a", pmod(col("event_id"), lit(3L)))
        .withColumn("rater_b",
          when(col("event_id") % 7 === 0,
            pmod(col("event_id") + 1, lit(3L)))
            .otherwise(pmod(col("event_id"), lit(3L))))
      graft.ops.Profiling.cohensKappa(ev, "event_type", "rater_a",
        "rater_b").orderBy(col("event_type"))
    },
    oracle =
      """WITH e AS (SELECT event_type,
        |    event_id % 3 AS a,
        |    CASE WHEN event_id % 7 = 0 THEN (event_id + 1) % 3
        |      ELSE event_id % 3 END AS b
        |  FROM events),
        |cells AS (SELECT event_type, a, b, COUNT(1) AS c
        |  FROM e GROUP BY 1, 2, 3),
        |tot AS (SELECT event_type, SUM(c) AS n,
        |    SUM(CASE WHEN a = b THEN c ELSE 0 END) AS n_agree
        |  FROM cells GROUP BY 1),
        |ma AS (SELECT event_type, a AS l, SUM(c) AS ca FROM cells
        |  GROUP BY 1, 2),
        |mb AS (SELECT event_type, b AS l, SUM(c) AS cb FROM cells
        |  GROUP BY 1, 2),
        |pe AS (SELECT event_type, SUM(ca * cb) AS pe_num
        |  FROM ma JOIN mb USING (event_type, l) GROUP BY 1)
        |SELECT t.event_type, CAST(t.n AS BIGINT) AS n,
        |  CAST(t.n_agree AS BIGINT) AS n_agree,
        |  CAST(t.n_agree * t.n - COALESCE(pe.pe_num, 0) AS BIGINT)
        |    AS kappa_num,
        |  CAST(t.n * t.n - COALESCE(pe.pe_num, 0) AS BIGINT)
        |    AS kappa_den,
        |  CASE WHEN t.n * t.n - COALESCE(pe.pe_num, 0) <> 0 THEN
        |    CAST(t.n_agree * t.n - COALESCE(pe.pe_num, 0) AS DOUBLE) /
        |    CAST(t.n * t.n - COALESCE(pe.pe_num, 0) AS DOUBLE)
        |  END AS kappa
        |FROM tot t LEFT JOIN pe USING (event_type)
        |ORDER BY t.event_type""".stripMargin),

    // RLHF comparison-data win matrix over synthetic model pairs and
    // outcomes; seating canonicalized before counting
    Gate("q270_win_matrix", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("model_a",
          concat(lit("m"), pmod(col("event_id"), lit(4L))))
        .withColumn("model_b",
          concat(lit("m"), pmod(col("event_id") * 7 + 1, lit(4L))))
        .filter(col("model_a") =!= col("model_b"))
        .withColumn("outcome",
          when(col("event_id") % 9 === 0, "tie")
            .when(col("event_id") % 2 === 0, "a").otherwise("b"))
      graft.ops.Profiling.winMatrix(ev, "model_a", "model_b", "outcome")
        .orderBy(col("model_1"), col("model_2"))
    },
    oracle =
      """WITH e AS (SELECT 'm' || CAST(event_id % 4 AS VARCHAR) AS ma,
        |    'm' || CAST((event_id * 7 + 1) % 4 AS VARCHAR) AS mb,
        |    CASE WHEN event_id % 9 = 0 THEN 'tie'
        |      WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS outcome
        |  FROM events),
        |f AS (SELECT LEAST(ma, mb) AS model_1, GREATEST(ma, mb)
        |      AS model_2,
        |    (ma <= mb) AS fa,
        |    outcome
        |  FROM e WHERE ma <> mb),
        |g AS (SELECT model_1, model_2, CAST(COUNT(1) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN (fa AND outcome = 'a')
        |      OR (NOT fa AND outcome = 'b') THEN 1 ELSE 0 END) AS BIGINT)
        |      AS wins_1,
        |    CAST(SUM(CASE WHEN (fa AND outcome = 'b')
        |      OR (NOT fa AND outcome = 'a') THEN 1 ELSE 0 END) AS BIGINT)
        |      AS wins_2,
        |    CAST(SUM(CASE WHEN outcome = 'tie' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ties,
        |    CAST(SUM(CASE WHEN fa THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a_seat_first
        |  FROM f GROUP BY 1, 2)
        |SELECT model_1, model_2, n, wins_1, wins_2, ties, a_seat_first,
        |  CASE WHEN wins_1 + wins_2 > 0 THEN
        |    CAST(wins_1 AS DOUBLE) / CAST(wins_1 + wins_2 AS DOUBLE)
        |  END AS winrate_1
        |FROM g ORDER BY model_1, model_2""".stripMargin),

    // Simpson's-paradox flip detection across user segments: exact
    // cross-product signs per segment vs pooled
    Gate("q271_simpsons_check", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("segment", pmod(col("user_id"), lit(3L)))
        .withColumn("variant",
          when(col("user_id") % 2 === 0, "treatment")
            .otherwise("control"))
        .withColumn("conv", col("event_type") === "purchase")
      graft.ops.Profiling.simpsonsCheck(ev, "segment", "variant",
        "conv", treatment = "treatment", control = "control")
        .orderBy(col("segment"))
    },
    oracle =
      """WITH e AS (SELECT user_id % 3 AS segment,
        |    CASE WHEN user_id % 2 = 0 THEN 'treatment'
        |      ELSE 'control' END AS variant,
        |    (event_type = 'purchase') AS conv
        |  FROM events),
        |seg AS (SELECT segment,
        |    SUM(CASE WHEN variant = 'treatment' THEN 1 ELSE 0 END) AS n_t,
        |    SUM(CASE WHEN variant = 'treatment' AND conv THEN 1 ELSE 0
        |      END) AS x_t,
        |    SUM(CASE WHEN variant = 'control' THEN 1 ELSE 0 END) AS n_c,
        |    SUM(CASE WHEN variant = 'control' AND conv THEN 1 ELSE 0
        |      END) AS x_c
        |  FROM e GROUP BY 1
        |  HAVING SUM(CASE WHEN variant = 'treatment' THEN 1 ELSE 0 END)
        |      > 0
        |    AND SUM(CASE WHEN variant = 'control' THEN 1 ELSE 0 END) > 0),
        |p AS (SELECT SUM(n_t) AS pn_t, SUM(x_t) AS px_t,
        |    SUM(n_c) AS pn_c, SUM(x_c) AS px_c FROM seg)
        |SELECT seg.segment, CAST(seg.n_t AS BIGINT) AS n_t,
        |  CAST(seg.x_t AS BIGINT) AS x_t,
        |  CAST(seg.n_c AS BIGINT) AS n_c,
        |  CAST(seg.x_c AS BIGINT) AS x_c,
        |  CAST(p.pn_t AS BIGINT) AS pooled_n_t,
        |  CAST(p.px_t AS BIGINT) AS pooled_x_t,
        |  CAST(p.pn_c AS BIGINT) AS pooled_n_c,
        |  CAST(p.px_c AS BIGINT) AS pooled_x_c,
        |  CAST(SIGN(seg.x_t * seg.n_c - seg.x_c * seg.n_t) AS INTEGER)
        |    AS seg_diff_sign,
        |  CAST(SIGN(p.px_t * p.pn_c - p.px_c * p.pn_t) AS INTEGER)
        |    AS pooled_diff_sign,
        |  (SIGN(seg.x_t * seg.n_c - seg.x_c * seg.n_t) *
        |   SIGN(p.px_t * p.pn_c - p.px_c * p.pn_t) = -1) AS flips
        |FROM seg, p ORDER BY seg.segment""".stripMargin),

    // code-vs-prose routing signals over prose docs with injected code
    // snippets; two independent signal families gate the verdict
    Gate("q272_code_signals", (s, dir) => {
      val id = col("doc_id")
      val spiked = docs(s, dir).select(id, concat(col("text"),
        when(id % 4 === 0, lit(
          " def countItems(x) { return x.fooBar; } import os;"))
          .when(id % 4 === 1, lit(" just (some) prose [here]"))
          .otherwise(lit(""))).as("text"))
      val sig = TextAnalysis.codeSignals(col("text"))
      spiked.select(id +: sig.map { case (n, c) => c.as(n) }: _*)
        .orderBy(id)
    },
    oracle = {
      val kwIn = TextAnalysis.codeKeywords.map(k => s"'$k'").mkString(", ")
      s"""WITH sp AS (SELECT doc_id, text ||
         |    (CASE WHEN doc_id % 4 = 0 THEN
         |      ' def countItems(x) { return x.fooBar; } import os;'
         |      WHEN doc_id % 4 = 1 THEN ' just (some) prose [here]'
         |      ELSE '' END) AS text
         |  FROM documents),
         |m AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '[{}\\[\\]()]'))
         |      AS BIGINT) AS n_braces,
         |    CAST(len(regexp_extract_all(text, ';')) AS BIGINT)
         |      AS n_semicolons,
         |    CAST(len(regexp_extract_all(text,
         |      '\\b[a-z]+[A-Z][A-Za-z]*\\b')) AS BIGINT) AS n_camel,
         |    CAST(len(list_filter(regexp_split_to_array(lower(text),
         |      '\\s+'), t -> t IN ($kwIn))) AS BIGINT) AS n_keywords,
         |    CAST(length(text) AS BIGINT) AS n_chars
         |  FROM sp)
         |SELECT doc_id, n_braces, n_semicolons, n_camel, n_keywords,
         |  n_chars,
         |  (n_braces * 100 >= n_chars * 2 AND n_keywords > 0
         |    AND n_semicolons + n_camel > 0) AS looks_like_code
         |FROM m ORDER BY doc_id""".stripMargin
    }),

    // confusion-matrix eval at a fixed decision per event type: exact
    // tp/fp/fn/tn, algebraic-form F1
    Gate("q273_confusion", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("label", col("event_type") === "purchase")
        .withColumn("pred", pmod(col("event_id") * 31, lit(5L)) === 0)
      graft.ops.Profiling.confusionStats(ev, "event_type", "label",
        "pred").orderBy(col("event_type"))
    },
    oracle =
      """WITH e AS (SELECT event_type,
        |    (event_type = 'purchase') AS label,
        |    ((event_id * 31) % 5 = 0) AS pred
        |  FROM events),
        |m AS (SELECT event_type,
        |    CAST(SUM(CASE WHEN label AND pred THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN NOT label AND pred THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN label AND NOT pred THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN NOT label AND NOT pred THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tn
        |  FROM e GROUP BY 1)
        |SELECT event_type, tp, fp, fn, tn,
        |  CASE WHEN tp + fp > 0 THEN
        |    CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
        |  CASE WHEN tp + fn > 0 THEN
        |    CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
        |  CASE WHEN 2 * tp + fp + fn > 0 THEN
        |    CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
        |  END AS f1,
        |  CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE)
        |    AS accuracy
        |FROM m ORDER BY event_type""".stripMargin),

    // Mann–Whitney rank-sum ≡ exact ROC AUC per source: do English docs
    // run longer than non-English? midranks doubled, tie-corrected
    // significance by integer cross-multiplication
    Gate("q274_rank_sum", (s, dir) => {
      val d = docs(s, dir).withColumn("is_en", col("lang") === "en")
      graft.ops.Profiling.rankSumTest(d, "source", "is_en", "n_chars")
        // gate export: u2 fits BIGINT at every gate SF (q136 posture —
        // the decimal stays internal)
        .withColumn("u2", col("u2").cast("long"))
        .orderBy(col("source"))
    },
    oracle =
      """WITH h AS (SELECT source, n_chars AS v,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cp,
        |    SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS cn
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT source, v, cp, cn,
        |    COALESCE(SUM(cp + cn) OVER (PARTITION BY source ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS bef
        |  FROM h),
        |p AS (SELECT source,
        |    CAST(SUM(cp) AS HUGEINT) AS np,
        |    CAST(SUM(cn) AS HUGEINT) AS nn,
        |    SUM(CAST(cp AS HUGEINT) * (2 * bef + cp + cn + 1)) AS r2,
        |    SUM(CAST(cp + cn AS HUGEINT) * (cp + cn) * (cp + cn)
        |      - (cp + cn)) AS ties
        |  FROM r GROUP BY 1),
        |f AS (SELECT source, np, nn,
        |    r2 - np * (np + 1) AS u2,
        |    np * nn AS mu2,
        |    (np + nn) * (np + nn + 1) * (np + nn - 1) - ties AS varnum
        |  FROM p),
        |z AS (SELECT source, np, nn, u2, mu2, varnum,
        |    CAST(u2 - mu2 AS DOUBLE) / 2.0 AS dh,
        |    CAST(mu2 AS DOUBLE) * CAST(varnum AS DOUBLE)
        |      / (12.0 * CAST(np + nn AS DOUBLE)
        |        * CAST(np + nn - 1 AS DOUBLE)) AS varu
        |  FROM f)
        |SELECT source,
        |  CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
        |  CAST(u2 AS BIGINT) AS u2,
        |  CASE WHEN np > 0 AND nn > 0 THEN
        |    ROUND(CAST(u2 AS DOUBLE)
        |      / CAST(np * nn * 2 AS DOUBLE), 6) END AS auc,
        |  CASE WHEN np > 0 AND nn > 0 AND varnum > 0
        |    THEN dh * dh / varu * 1000000.0 >= 3841600.0
        |    ELSE FALSE END AS significant
        |FROM z ORDER BY source""".stripMargin),

    // Welch two-sample t-test of the quantized event value per variant
    // vs control: exact integer moments, cross-multiplied verdict
    Gate("q275_welch_t", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("variant",
          when(col("user_id") % 3 === 0, "control")
            .when(col("user_id") % 3 === 1, "t1").otherwise("t2"))
        .withColumn("v_c", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Profiling.welchTTest(ev, "variant", "v_c",
        control = "control").orderBy(col("variant"))
    },
    oracle =
      """WITH e AS (SELECT
        |    CASE user_id % 3 WHEN 0 THEN 'control'
        |      WHEN 1 THEN 't1' ELSE 't2' END AS variant,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v FROM events),
        |p AS (SELECT variant, CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(v) AS HUGEINT) AS s,
        |    SUM(CAST(v AS HUGEINT) * v) AS q
        |  FROM e GROUP BY 1),
        |c AS (SELECT n AS cn, s AS cs, q AS cq FROM p
        |  WHERE variant = 'control')
        |SELECT p.variant, CAST(p.n AS BIGINT) AS n,
        |  ROUND(CAST(p.s AS DOUBLE) / CAST(p.n AS DOUBLE), 6) AS mean,
        |  CASE WHEN p.variant <> 'control' THEN
        |    ROUND(CAST(p.s AS DOUBLE) / CAST(p.n AS DOUBLE)
        |      - CAST(c.cs AS DOUBLE) / CAST(c.cn AS DOUBLE), 6)
        |    END AS diff_vs_control,
        |  CASE WHEN p.variant <> 'control' AND p.n > 1 AND c.cn > 1
        |      AND ((p.n * p.q - p.s * p.s) > 0
        |        OR (c.cn * c.cq - c.cs * c.cs) > 0) THEN
        |    (CAST(p.s AS DOUBLE) / CAST(p.n AS DOUBLE)
        |        - CAST(c.cs AS DOUBLE) / CAST(c.cn AS DOUBLE))
        |      * (CAST(p.s AS DOUBLE) / CAST(p.n AS DOUBLE)
        |        - CAST(c.cs AS DOUBLE) / CAST(c.cn AS DOUBLE))
        |      / (CAST(p.n * p.q - p.s * p.s AS DOUBLE)
        |          / (CAST(p.n AS DOUBLE) * CAST(p.n AS DOUBLE)
        |            * CAST(p.n - 1 AS DOUBLE))
        |        + CAST(c.cn * c.cq - c.cs * c.cs AS DOUBLE)
        |          / (CAST(c.cn AS DOUBLE) * CAST(c.cn AS DOUBLE)
        |            * CAST(c.cn - 1 AS DOUBLE)))
        |      * 1000000.0 >= 3841600.0
        |    END AS significant
        |FROM p, c ORDER BY p.variant""".stripMargin),

    // exact Gram (scatter) matrix of the quantized embedding corpus:
    // the mergeable second-moment summary behind PCA/whitening; 2080
    // upper-triangle cells at d=64, shuffle O(d²·partitions)
    Gate("q276_gram_matrix", (s, dir) =>
      Similarity.gramMatrix(emb(s, dir), "embedding")
        // gate export: cells fit BIGINT at every gate SF (q136 posture)
        .withColumn("g", col("g").cast("long"))
        .orderBy(col("i"), col("j")),
    oracle =
      """WITH q AS (SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
        |    AS qv
        |  FROM embeddings),
        |idx AS (SELECT i FROM generate_series(1, 64) t(i))
        |SELECT CAST(a.i - 1 AS INT) AS i, CAST(b.i - 1 AS INT) AS j,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(qv[a.i] AS HUGEINT) * qv[b.i]) AS BIGINT) AS g
        |FROM q, idx a, idx b
        |WHERE a.i <= b.i
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    // Mann–Kendall monotonic-trend test over each event type's daily
    // count series: S from all time-ordered pairs, tie-corrected
    // variance, continuity-corrected verdict — all integers
    Gate("q277_mann_kendall", (s, dir) => {
      val series = events(s, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("x"))
        .agg(count(lit(1)).as("y"))
      EventAnalytics.mannKendall(series, "event_type", "x", "y")
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH s AS (SELECT event_type AS k,
        |    epoch_us(ts) // 86400000000 AS x,
        |    CAST(COUNT(1) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |pr AS (SELECT a.k,
        |    CAST(SUM(CASE WHEN b.y > a.y THEN 1
        |      WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM s a JOIN s b ON a.k = b.k AND a.x < b.x GROUP BY 1),
        |nn AS (SELECT k, CAST(COUNT(1) AS HUGEINT) AS n FROM s
        |  GROUP BY 1),
        |ti AS (SELECT k, SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5))
        |    AS ties
        |  FROM (SELECT k, y, COUNT(1) AS t FROM s GROUP BY 1, 2)
        |  GROUP BY 1),
        |m AS (SELECT nn.k, nn.n, COALESCE(pr.s, 0) AS s,
        |    nn.n * (nn.n - 1) * (2 * nn.n + 5)
        |      - COALESCE(ti.ties, 0) AS var18
        |  FROM nn LEFT JOIN pr ON nn.k = pr.k
        |    LEFT JOIN ti ON nn.k = ti.k)
        |SELECT k AS event_type, CAST(n AS BIGINT) AS n, s,
        |  CAST(var18 AS BIGINT) AS var18,
        |  CASE WHEN s <> 0 THEN s > 0 END AS rising,
        |  CASE WHEN abs(s) >= 1 AND var18 > 0 THEN
        |    (CAST(abs(s) AS HUGEINT) - 1) * (abs(s) - 1) * 18 * 1000000
        |      >= 3841600 * var18
        |    ELSE FALSE END AS significant
        |FROM m ORDER BY event_type""".stripMargin),

    // exact 1-Wasserstein distance between the even/odd event-id
    // shards' value distributions (cents grid): mass × distance as an
    // exact integer numerator, ksTest's magnitude companion
    Gate("q278_wasserstein", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("v", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Profiling.wasserstein1(
          ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1), "v")
        // gate export: numerator fits BIGINT at every gate SF
        .withColumn("w1_num", col("w1_num").cast("long"))
    },
    oracle =
      """WITH e AS (SELECT event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events),
        |ha AS (SELECT v, COUNT(1) AS ca FROM e WHERE event_id % 2 = 0
        |  GROUP BY 1),
        |hb AS (SELECT v, COUNT(1) AS cb FROM e WHERE event_id % 2 = 1
        |  GROUP BY 1),
        |g AS (SELECT COALESCE(ha.v, hb.v) AS v, COALESCE(ca, 0) AS ca,
        |    COALESCE(cb, 0) AS cb
        |  FROM ha FULL OUTER JOIN hb ON ha.v = hb.v),
        |c AS (SELECT v, SUM(ca) OVER (ORDER BY v) AS cuma,
        |    SUM(cb) OVER (ORDER BY v) AS cumb,
        |    COALESCE(LEAD(v) OVER (ORDER BY v) - v, 0) AS gap FROM g),
        |t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM g)
        |SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
        |  CAST(SUM(ABS(CAST(c.cuma AS HUGEINT) * t.nb
        |    - CAST(c.cumb AS HUGEINT) * t.na) * c.gap) AS BIGINT)
        |    AS w1_num,
        |  CASE WHEN t.na > 0 AND t.nb > 0 THEN
        |    ROUND(CAST(SUM(ABS(CAST(c.cuma AS HUGEINT) * t.nb
        |      - CAST(c.cumb AS HUGEINT) * t.na) * c.gap) AS DOUBLE)
        |      / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE)), 6)
        |    END AS w1
        |FROM c, t GROUP BY t.na, t.nb""".stripMargin),

    // effective sample size of the n_chars-weighted corpus per source:
    // (Σw)²/Σw² from exact integer moments — the importance-weighting
    // health readout
    Gate("q279_ess", (s, dir) =>
      graft.ops.Profiling.effectiveSampleSize(docs(s, dir), "source",
          "n_chars")
        .withColumn("sum_w", col("sum_w").cast("long"))
        .orderBy(col("source")),
    oracle =
      """SELECT source, CAST(COUNT(1) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_w,
        |  CASE WHEN SUM(CAST(n_chars AS HUGEINT) * n_chars) > 0 THEN
        |    ROUND(CAST(SUM(CAST(n_chars AS HUGEINT))
        |        * SUM(CAST(n_chars AS HUGEINT)) AS DOUBLE)
        |      / CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS DOUBLE),
        |      6) END AS ess,
        |  CASE WHEN SUM(CAST(n_chars AS HUGEINT) * n_chars) > 0 THEN
        |    ROUND(CAST(SUM(CAST(n_chars AS HUGEINT))
        |        * SUM(CAST(n_chars AS HUGEINT)) AS DOUBLE)
        |      / CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars)
        |        * COUNT(1) AS DOUBLE), 6) END AS ess_ratio
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // t-closeness audit over (lang, source) quasi-groups: per-group
    // sensitive-length distribution vs global, range-normalized EMD,
    // exact integer breach verdict — the privacy trio's third rampart
    Gate("q280_t_closeness", (s, dir) =>
      Corpus.tCloseness(docs(s, dir), Seq("lang", "source"), "n_chars",
          tNum = 15, tDen = 100)
        // gate export: numerator fits BIGINT at every gate SF
        .withColumn("emd_num", col("emd_num").cast("long"))
        .orderBy(col("lang"), col("source")),
    oracle =
      """WITH b AS (SELECT lang, source, n_chars AS v FROM documents
        |  WHERE n_chars IS NOT NULL),
        |grid AS (SELECT v, COUNT(1) AS ca FROM b GROUP BY 1),
        |g2 AS (SELECT v, SUM(ca) OVER (ORDER BY v) AS cumall,
        |    COALESCE(LEAD(v) OVER (ORDER BY v) - v, 0) AS gap
        |  FROM grid),
        |t AS (SELECT COUNT(1) AS nall, MAX(v) - MIN(v) AS rng FROM b),
        |gh AS (SELECT lang, source, v, COUNT(1) AS cg FROM b
        |  GROUP BY 1, 2, 3),
        |gr AS (SELECT lang, source, COUNT(1) AS group_n FROM b
        |  GROUP BY 1, 2),
        |dense AS (SELECT gr.lang, gr.source, gr.group_n, g2.v,
        |    g2.cumall, g2.gap, COALESCE(gh.cg, 0) AS cg
        |  FROM gr CROSS JOIN g2
        |  LEFT JOIN gh ON gh.lang = gr.lang AND gh.source = gr.source
        |    AND gh.v = g2.v),
        |cum AS (SELECT lang, source, group_n, v, cumall, gap,
        |    SUM(cg) OVER (PARTITION BY lang, source ORDER BY v) AS cumg
        |  FROM dense),
        |sc AS (SELECT lang, source, group_n,
        |    SUM(ABS(CAST(cumg AS HUGEINT) * t.nall
        |      - CAST(cumall AS HUGEINT) * group_n) * gap) AS emd_num,
        |    MAX(t.nall) AS nall, MAX(t.rng) AS rng
        |  FROM cum, t GROUP BY 1, 2, 3)
        |SELECT lang, source, CAST(group_n AS BIGINT) AS group_n,
        |  CAST(emd_num AS BIGINT) AS emd_num,
        |  CASE WHEN rng > 0 THEN
        |    ROUND(CAST(emd_num AS DOUBLE)
        |      / CAST(CAST(group_n AS HUGEINT) * nall * rng AS DOUBLE),
        |      6)
        |    ELSE 0.0 END AS emd,
        |  CASE WHEN rng > 0 THEN
        |    emd_num * 100 > 15 * CAST(group_n AS HUGEINT) * nall * rng
        |    ELSE FALSE END AS breach
        |FROM sc ORDER BY lang, source""".stripMargin),

    // difference-in-differences readout over the even/odd-day split:
    // four exact moment cells in ONE pass, shared-trend cancellation,
    // engine-identical double verdict
    Gate("q281_did", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("variant",
          when(col("user_id") % 2 === 0, "treatment")
            .otherwise("control"))
        .withColumn("post",
          expr("unix_micros(ts) div 86400000000") % 2 === 1)
        .withColumn("v", floor(col("value") * 100 + 0.5).cast("long"))
      EventAnalytics.diffInDiff(ev, "variant", "post", "v",
        treatment = "treatment", control = "control")
    },
    oracle =
      """WITH e AS (SELECT
        |    CASE WHEN user_id % 2 = 0 THEN 'treatment'
        |      ELSE 'control' END AS variant,
        |    (epoch_us(ts) // 86400000000) % 2 = 1 AS post,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events),
        |m AS (SELECT
        |    SUM(CASE WHEN variant = 'treatment' AND NOT post THEN 1
        |      ELSE 0 END) AS n_t0,
        |    SUM(CASE WHEN variant = 'treatment' AND NOT post THEN
        |      CAST(v AS HUGEINT) ELSE 0 END) AS s_t0,
        |    SUM(CASE WHEN variant = 'treatment' AND NOT post THEN
        |      CAST(v AS HUGEINT) * v ELSE 0 END) AS q_t0,
        |    SUM(CASE WHEN variant = 'treatment' AND post THEN 1
        |      ELSE 0 END) AS n_t1,
        |    SUM(CASE WHEN variant = 'treatment' AND post THEN
        |      CAST(v AS HUGEINT) ELSE 0 END) AS s_t1,
        |    SUM(CASE WHEN variant = 'treatment' AND post THEN
        |      CAST(v AS HUGEINT) * v ELSE 0 END) AS q_t1,
        |    SUM(CASE WHEN variant = 'control' AND NOT post THEN 1
        |      ELSE 0 END) AS n_c0,
        |    SUM(CASE WHEN variant = 'control' AND NOT post THEN
        |      CAST(v AS HUGEINT) ELSE 0 END) AS s_c0,
        |    SUM(CASE WHEN variant = 'control' AND NOT post THEN
        |      CAST(v AS HUGEINT) * v ELSE 0 END) AS q_c0,
        |    SUM(CASE WHEN variant = 'control' AND post THEN 1
        |      ELSE 0 END) AS n_c1,
        |    SUM(CASE WHEN variant = 'control' AND post THEN
        |      CAST(v AS HUGEINT) ELSE 0 END) AS s_c1,
        |    SUM(CASE WHEN variant = 'control' AND post THEN
        |      CAST(v AS HUGEINT) * v ELSE 0 END) AS q_c1
        |  FROM e),
        |d AS (SELECT *,
        |    CAST(s_t1 AS DOUBLE) / CAST(n_t1 AS DOUBLE)
        |      - CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE)
        |      - (CAST(s_c1 AS DOUBLE) / CAST(n_c1 AS DOUBLE)
        |        - CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE)) AS did,
        |    CAST(n_t1 * q_t1 - s_t1 * s_t1 AS DOUBLE)
        |      / (CAST(n_t1 AS DOUBLE) * CAST(n_t1 AS DOUBLE)
        |        * CAST(n_t1 - 1 AS DOUBLE))
        |    + CAST(n_t0 * q_t0 - s_t0 * s_t0 AS DOUBLE)
        |      / (CAST(n_t0 AS DOUBLE) * CAST(n_t0 AS DOUBLE)
        |        * CAST(n_t0 - 1 AS DOUBLE))
        |    + CAST(n_c1 * q_c1 - s_c1 * s_c1 AS DOUBLE)
        |      / (CAST(n_c1 AS DOUBLE) * CAST(n_c1 AS DOUBLE)
        |        * CAST(n_c1 - 1 AS DOUBLE))
        |    + CAST(n_c0 * q_c0 - s_c0 * s_c0 AS DOUBLE)
        |      / (CAST(n_c0 AS DOUBLE) * CAST(n_c0 AS DOUBLE)
        |        * CAST(n_c0 - 1 AS DOUBLE)) AS vard
        |  FROM m)
        |SELECT CAST(n_t0 AS BIGINT) AS n_t0,
        |  CAST(n_t1 AS BIGINT) AS n_t1,
        |  CAST(n_c0 AS BIGINT) AS n_c0,
        |  CAST(n_c1 AS BIGINT) AS n_c1,
        |  ROUND(CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE), 6)
        |    AS mean_t0,
        |  ROUND(CAST(s_t1 AS DOUBLE) / CAST(n_t1 AS DOUBLE), 6)
        |    AS mean_t1,
        |  ROUND(CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE), 6)
        |    AS mean_c0,
        |  ROUND(CAST(s_c1 AS DOUBLE) / CAST(n_c1 AS DOUBLE), 6)
        |    AS mean_c1,
        |  ROUND(did, 6) AS did,
        |  CASE WHEN n_t0 > 1 AND n_t1 > 1 AND n_c0 > 1 AND n_c1 > 1
        |      AND (n_t0 * q_t0 - s_t0 * s_t0 > 0
        |        OR n_t1 * q_t1 - s_t1 * s_t1 > 0
        |        OR n_c0 * q_c0 - s_c0 * s_c0 > 0
        |        OR n_c1 * q_c1 - s_c1 * s_c1 > 0) THEN
        |    did * did / vard * 1000000.0 >= 3841600.0
        |    END AS significant
        |FROM d""".stripMargin),

    // split-conformal threshold per event type at α = 1/10: the
    // ⌈(n+1)(1−α)⌉-th smallest quantized score, exact integer rank
    // picked off the per-group histogram
    Gate("q282_conformal", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("sc", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Profiling.conformalThreshold(ev, "event_type", "sc",
        alphaNum = 1, alphaDen = 10).orderBy(col("event_type"))
    },
    oracle =
      """WITH e AS (SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS s FROM events),
        |h AS (SELECT event_type, s, COUNT(1) AS c FROM e GROUP BY 1, 2),
        |c AS (SELECT event_type, s, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY s) AS cum
        |  FROM h),
        |p AS (SELECT event_type, SUM(c) AS n FROM h GROUP BY 1),
        |k AS (SELECT event_type, n,
        |    GREATEST(1, LEAST(n, n + 1 - (n + 1) * 1 // 10)) AS k
        |  FROM p)
        |SELECT c.event_type, CAST(k.n AS BIGINT) AS n,
        |  CAST(k.k AS BIGINT) AS k, MIN(c.s) AS threshold
        |FROM c JOIN k ON c.event_type = k.event_type
        |WHERE c.cum >= k.k
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),

    // leave-one-source-out influence on the global mean length: the
    // source-ablation readout from one scan — exact (T−t)/(N−n)
    Gate("q283_loo_influence", (s, dir) =>
      graft.ops.Profiling.leaveOneOutMeans(docs(s, dir), "source",
        "n_chars").orderBy(col("source")),
    oracle =
      """WITH p AS (SELECT source, CAST(COUNT(1) AS BIGINT) AS n,
        |    CAST(SUM(n_chars) AS HUGEINT) AS t FROM documents
        |  GROUP BY 1),
        |g AS (SELECT SUM(n) AS nn, SUM(t) AS tt FROM p)
        |SELECT p.source, p.n,
        |  ROUND(CAST(p.t AS DOUBLE) / CAST(p.n AS DOUBLE), 6) AS mean,
        |  CASE WHEN g.nn > p.n THEN
        |    ROUND(CAST(g.tt - p.t AS DOUBLE)
        |      / CAST(g.nn - p.n AS DOUBLE), 6) END AS loo_mean,
        |  CASE WHEN g.nn > p.n THEN
        |    ROUND(CAST(g.tt - p.t AS DOUBLE)
        |        / CAST(g.nn - p.n AS DOUBLE)
        |      - CAST(g.tt AS DOUBLE) / CAST(g.nn AS DOUBLE), 6)
        |    END AS influence
        |FROM p, g ORDER BY p.source""".stripMargin),

    // delta-method ratio metric: clicks-per-event per variant vs
    // control with the within-unit covariance priced in — the readout
    // naive t-tests get wrong
    Gate("q284_ratio_metric", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("variant",
          when(col("user_id") % 3 === 0, "control")
            .when(col("user_id") % 3 === 1, "t1").otherwise("t2"))
        .withColumn("click",
          when(col("event_type") === "click", 1L).otherwise(0L))
        .withColumn("one", lit(1L))
      graft.ops.Profiling.ratioMetric(ev, "user_id", "variant",
          "click", "one", control = "control")
        .withColumn("sum_num", col("sum_num").cast("long"))
        .withColumn("sum_den", col("sum_den").cast("long"))
        .orderBy(col("variant"))
    },
    oracle =
      """WITH e AS (SELECT user_id,
        |    CASE user_id % 3 WHEN 0 THEN 'control'
        |      WHEN 1 THEN 't1' ELSE 't2' END AS variant,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS x,
        |    1 AS y
        |  FROM events),
        |u AS (SELECT variant, user_id, CAST(SUM(x) AS BIGINT) AS x,
        |    CAST(SUM(y) AS BIGINT) AS y
        |  FROM e GROUP BY 1, 2),
        |p AS (SELECT variant, CAST(COUNT(1) AS HUGEINT) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS sx,
        |    CAST(SUM(y) AS HUGEINT) AS sy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM u GROUP BY 1),
        |z AS (SELECT variant, n, sx, sy,
        |    CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS r,
        |    CAST(n * sxx - sx * sx AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS vx,
        |    CAST(n * syy - sy * sy AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS vy,
        |    CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS vxy,
        |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my
        |  FROM p),
        |v AS (SELECT variant, n, sx, sy, r,
        |    (vx + r * r * vy - 2.0 * r * vxy)
        |      / (CAST(n AS DOUBLE) * my * my) AS vr
        |  FROM z),
        |c AS (SELECT n AS cn, sy AS csy, r AS cr, vr AS cvr FROM v
        |  WHERE variant = 'control')
        |SELECT v.variant, CAST(v.n AS BIGINT) AS n_units,
        |  CAST(v.sx AS BIGINT) AS sum_num,
        |  CAST(v.sy AS BIGINT) AS sum_den,
        |  CASE WHEN v.sy <> 0 THEN ROUND(v.r, 6) END AS ratio,
        |  CASE WHEN v.variant <> 'control' AND v.sy <> 0
        |      AND c.csy <> 0 THEN
        |    ROUND(v.r - c.cr, 6) END AS diff_vs_control,
        |  CASE WHEN v.variant <> 'control' AND v.n > 1 AND c.cn > 1
        |      AND v.sy <> 0 AND c.csy <> 0
        |      AND v.vr + c.cvr > 0 THEN
        |    (v.r - c.cr) * (v.r - c.cr) * 1000000.0
        |      >= 3841600.0 * (v.vr + c.cvr)
        |    END AS significant
        |FROM v, c ORDER BY v.variant""".stripMargin),

    // special-token leak detection over a corpus spiked with tokenizer
    // control strings: literal replace-arithmetic counts, no regex seam
    Gate("q285_special_tokens", (s, dir) => {
      val id = col("doc_id")
      val spiked = docs(s, dir).select(id, concat(col("text"),
        when(id % 5 === 0, lit(" <|endoftext|> trailing garbage"))
          .when(id % 5 === 1, lit(" [INST] say <s>hi</s> [/INST]"))
          .otherwise(lit(""))).as("text"))
      val flags = TextAnalysis.specialTokenLeaks(col("text"))
      spiked.select(id +: flags.map { case (n, c) => c.as(n) }: _*)
        .orderBy(id)
    },
    oracle = {
      // the oracle's replace-arithmetic terms are generated from the
      // SAME token list the operator uses — one source of truth, and no
      // stripMargin (several tokens contain the margin character)
      val terms = graft.ops.TextAnalysis.DefaultSpecialTokens.map { tok =>
        s"CAST((len(text) - len(replace(text, '$tok', '')))" +
          s" / ${tok.length} AS BIGINT)"
      }.mkString("\n    + ")
      "WITH sp AS (SELECT doc_id, text ||\n" +
        "    (CASE WHEN doc_id % 5 = 0" +
        " THEN ' <|endoftext|> trailing garbage'\n" +
        "      WHEN doc_id % 5 = 1 THEN ' [INST] say <s>hi</s> [/INST]'\n" +
        "      ELSE '' END) AS text\n" +
        "  FROM documents),\n" +
        "m AS (SELECT doc_id,\n    " + terms +
        " AS n_special_tokens FROM sp)\n" +
        "SELECT doc_id, n_special_tokens,\n" +
        "  n_special_tokens > 0 AS has_special_tokens\n" +
        "FROM m ORDER BY doc_id"
    }),

    // Spearman rank correlation per event type between the quantized
    // value and a noisy monotone companion — heavy ties exercise the
    // midrank machinery identically on both engines
    Gate("q286_spearman", (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("x"),
          (floor(col("value") * 10 + 0.5) + col("user_id") % 7)
            .cast("long").as("y"))
      graft.ops.Profiling.spearman(ev, "event_type", "x", "y")
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
        |    CAST(floor(value * 10 + 0.5) AS BIGINT) + user_id % 7 AS y
        |  FROM events),
        |bf AS (SELECT * FROM b WHERE x IS NOT NULL AND y IS NOT NULL),
        |hx AS (SELECT g, x, COUNT(1) AS c FROM bf GROUP BY 1, 2),
        |rx AS (SELECT g, x,
        |    2 * COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + c + 1 AS a
        |  FROM hx),
        |hy AS (SELECT g, y, COUNT(1) AS c FROM bf GROUP BY 1, 2),
        |ry AS (SELECT g, y,
        |    2 * COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + c + 1 AS bb
        |  FROM hy),
        |j AS (SELECT bf.g, rx.a, ry.bb FROM bf
        |  JOIN rx ON bf.g = rx.g AND bf.x = rx.x
        |  JOIN ry ON bf.g = ry.g AND bf.y = ry.y),
        |m AS (SELECT g, CAST(COUNT(1) AS HUGEINT) AS n,
        |    SUM(CAST(a AS HUGEINT)) AS sa, SUM(CAST(bb AS HUGEINT)) AS sb,
        |    SUM(CAST(a AS HUGEINT) * a) AS saa,
        |    SUM(CAST(bb AS HUGEINT) * bb) AS sbb,
        |    SUM(CAST(a AS HUGEINT) * bb) AS sab
        |  FROM j GROUP BY 1)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
        |    ROUND(CAST(n * sab - sa * sb AS DOUBLE) /
        |      (SQRT(CAST(n * saa - sa * sa AS DOUBLE)) *
        |        SQRT(CAST(n * sbb - sb * sb AS DOUBLE))), 6)
        |  END AS rho
        |FROM m ORDER BY 1""".stripMargin),

    // Kruskal–Wallis omnibus per event type: did ANY of three user-id
    // arms move the value distribution (chi2(2) at 95% = 5.991)
    Gate("q287_kruskal", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("variant",
          when(col("user_id") % 3 === 0, "a")
            .when(col("user_id") % 3 === 1, "b").otherwise("c"))
        .withColumn("v", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Profiling.kruskalWallis(ev, "event_type", "variant", "v",
          chiCrit = 5.991)
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    CASE user_id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b'
        |      ELSE 'c' END AS var,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT g, v, COUNT(1) AS t FROM b GROUP BY 1, 2),
        |r AS (SELECT g, v, t,
        |    2 * COALESCE(SUM(t) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + t + 1 AS r2
        |  FROM h),
        |pv AS (SELECT b.g, b.var, CAST(COUNT(1) AS HUGEINT) AS nv,
        |    SUM(CAST(r.r2 AS HUGEINT)) AS r2s
        |  FROM b JOIN r ON b.g = r.g AND b.v = r.v GROUP BY 1, 2),
        |tr AS (SELECT g,
        |    SUM(CAST(t AS HUGEINT) * t * t - t) AS tsum FROM r GROUP BY 1),
        |terms AS (SELECT g, var, nv,
        |    CAST(r2s * r2s AS DOUBLE) / CAST(nv AS DOUBLE) AS term
        |  FROM pv),
        |p AS (SELECT g, SUM(nv) AS n, CAST(COUNT(1) AS BIGINT) AS k,
        |    list_reduce(list_transform(list_sort(
        |      list(struct_pack(v := var, t := term))), s -> s.t),
        |      (a, b) -> a + b) AS sumterms
        |  FROM terms GROUP BY 1),
        |z AS (SELECT p.g, p.n, p.k, p.sumterms, tr.tsum,
        |    p.n * (p.n + 1) * (p.n - 1) - tr.tsum AS varnum,
        |    CAST(p.n AS DOUBLE) AS nd
        |  FROM p JOIN tr ON p.g = tr.g),
        |w AS (SELECT g, n, k, varnum,
        |    (3.0 * sumterms / (nd * (nd + 1.0)) - 3.0 * (nd + 1.0)) /
        |      (CAST(varnum AS DOUBLE) /
        |        CAST(n * (n + 1) * (n - 1) AS DOUBLE)) AS hc
        |  FROM z)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n, k,
        |  CASE WHEN k >= 2 AND varnum > 0 THEN ROUND(hc, 6) END AS h,
        |  CASE WHEN k >= 2 AND varnum > 0 THEN
        |    hc * 1000000.0 >= 5991000.0 END AS significant
        |FROM w ORDER BY 1""".stripMargin),

    // one-way ANOVA F omnibus with a +40 shift injected into one arm's
    // clicks: the shifted type flags, the k-sample mean gate before
    // pairwise Welch readouts (F(3, inf) at 95% = 2.605)
    Gate("q288_anova", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("variant",
          when(col("user_id") % 4 === 0, "a")
            .when(col("user_id") % 4 === 1, "b")
            .when(col("user_id") % 4 === 2, "c").otherwise("d"))
        .withColumn("v",
          (floor(col("value") * 100 + 0.5) +
            when(col("variant") === "b" && col("event_type") === "click",
              40L).otherwise(0L)).cast("long"))
      graft.ops.Profiling.anovaF(ev, "event_type", "variant", "v",
          fCrit = 2.605)
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    CASE user_id % 4 WHEN 0 THEN 'a' WHEN 1 THEN 'b'
        |      WHEN 2 THEN 'c' ELSE 'd' END AS var,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) +
        |      (CASE WHEN user_id % 4 = 1 AND event_type = 'click'
        |        THEN 40 ELSE 0 END) AS v
        |  FROM events WHERE value IS NOT NULL),
        |pv AS (SELECT g, var, CAST(COUNT(1) AS HUGEINT) AS nv,
        |    SUM(CAST(v AS HUGEINT)) AS s,
        |    SUM(CAST(v AS HUGEINT) * v) AS q
        |  FROM b GROUP BY 1, 2),
        |t AS (SELECT g, var, nv, s, nv * q - s * s AS sswn,
        |    CAST(s * s AS DOUBLE) / CAST(nv AS DOUBLE) AS tb,
        |    CAST(nv * q - s * s AS DOUBLE) / CAST(nv AS DOUBLE) AS tw
        |  FROM pv),
        |p AS (SELECT g, SUM(nv) AS n, CAST(COUNT(1) AS BIGINT) AS k,
        |    SUM(s) AS stot, SUM(sswn) AS sswx,
        |    list_reduce(list_transform(list_sort(
        |      list(struct_pack(v := var, tb := tb, tw := tw))),
        |      x -> x.tb), (a, b) -> a + b) AS tbsum,
        |    list_reduce(list_transform(list_sort(
        |      list(struct_pack(v := var, tb := tb, tw := tw))),
        |      x -> x.tw), (a, b) -> a + b) AS ssw
        |  FROM t GROUP BY 1),
        |z AS (SELECT g, n, k, sswx, ssw,
        |    tbsum - CAST(stot * stot AS DOUBLE) / CAST(n AS DOUBLE) AS ssb,
        |    CAST(n AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd
        |  FROM p)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n, k,
        |  CASE WHEN k >= 2 AND n > k AND sswx > 0 THEN
        |    ROUND(ssb * (nd - kd) / (ssw * (kd - 1.0)), 6) END AS f_stat,
        |  CASE WHEN k >= 2 AND n > k AND sswx > 0 THEN
        |    ssb * (nd - kd) * 1000000.0 >= 2605000.0 * ssw * (kd - 1.0)
        |  END AS significant
        |FROM z ORDER BY 1""".stripMargin),

    // incremental SEMANTIC dedup: new batch (vec_id % 5 = 0) against
    // the retained corpus, 6-bit sign-LSH buckets, hot buckets capped
    // at 10 (the cap path is oracle-replayed, not just exercised)
    Gate("q289_semdedup_incremental", (s, dir) => {
      val e = emb(s, dir)
      Dedup.embeddingNearDupsAgainst(
          e.filter(col("vec_id") % 5 === 0),
          e.filter(col("vec_id") % 5 =!= 0),
          "vec_id", "embedding", threshold = 0.2, bits = 6,
          maxBucketSize = 10)
        .orderBy(col("batch_id"), col("corpus_id"))
    },
    oracle = {
      val bucket = (0 until 6).map { i =>
        s"(CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH bt AS (SELECT vec_id, embedding, CAST($bucket AS BIGINT)
         |    AS bucket FROM embeddings WHERE vec_id % 5 = 0),
         |cc AS (SELECT vec_id, embedding, CAST($bucket AS BIGINT)
         |    AS bucket FROM embeddings WHERE vec_id % 5 <> 0),
         |cf AS (SELECT * FROM (SELECT *,
         |    COUNT(1) OVER (PARTITION BY bucket) AS bn FROM cc)
         |  WHERE bn <= 10)
         |SELECT a.vec_id AS batch_id, c.vec_id AS corpus_id,
         |  ROUND(${dcosine("a.embedding", "c.embedding")}, 6) AS cosine
         |FROM bt a JOIN cf c ON a.bucket = c.bucket
         |WHERE ${dcosine("a.embedding", "c.embedding")} >= 0.2
         |  AND NOT isnan(${dcosine("a.embedding", "c.embedding")})
         |ORDER BY 1, 2""".stripMargin
    }),

    // effective rank (participation ratio) of the embedding table —
    // the one-number dimensional-collapse readout over q206's per-dim
    // health rows
    Gate("q290_effective_rank", (s, dir) =>
      Similarity.effectiveRank(emb(s, dir), "embedding"),
    oracle =
      """WITH v AS (SELECT unnest(embedding) AS x,
        |    generate_subscripts(embedding, 1) - 1 AS dim
        |  FROM embeddings),
        |q AS (SELECT dim,
        |    CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS qv
        |  FROM v),
        |g AS (SELECT dim, CAST(COUNT(1) AS HUGEINT) AS n,
        |    SUM(CAST(qv AS HUGEINT)) AS s,
        |    SUM(CAST(qv AS HUGEINT) * qv) AS ss
        |  FROM q GROUP BY 1),
        |pv AS (SELECT dim, n, n * ss - s * s AS v FROM g),
        |one AS (SELECT CAST(COUNT(1) AS BIGINT) AS n_dims,
        |    CAST(MAX(n) AS BIGINT) AS n, SUM(v) AS vsum,
        |    list_reduce(list_transform(list_sort(
        |      list(struct_pack(dim := dim, v := CAST(v AS DOUBLE)))),
        |      s -> s.v), (a, b) -> a + b) AS sumv,
        |    list_reduce(list_transform(list_sort(
        |      list(struct_pack(dim := dim, v := CAST(v AS DOUBLE)))),
        |      s -> s.v * s.v), (a, b) -> a + b) AS sumv2
        |  FROM pv)
        |SELECT n_dims, n,
        |  CASE WHEN vsum > 0 THEN
        |    ROUND(sumv * sumv / sumv2, 6) END AS pr,
        |  CASE WHEN vsum > 0 THEN
        |    ROUND((sumv * sumv / sumv2) / CAST(n_dims AS DOUBLE), 6)
        |  END AS pr_ratio
        |FROM one""".stripMargin),

    // Benjamini–Hochberg step-up across a 25-test family per event
    // type at alpha = 0.2: five spiked-small p's reject, and the
    // step-up can drag a p above its OWN threshold in with them —
    // exact integer cross-multiplication, no float thresholds
    Gate("q291_bh_fdr", (s, dir) => {
      val ev = events(s, dir)
      val tests = ev
        .groupBy(col("event_type"), (col("user_id") % 25).as("tid"))
        .agg((abs(sum(floor(col("value") * 100 + 0.5).cast("long"))) %
          1000001L).as("__pseudo__"))
        .select(col("event_type"), col("tid"),
          when(col("tid") < 5, col("tid") * 1000L)
            .otherwise(col("__pseudo__")).as("p_micro"))
      graft.ops.Profiling.bhProcedure(tests, "event_type", "tid",
          "p_micro", alphaMicro = 200000L)
        .orderBy(col("event_type"), col("rank"))
    },
    oracle =
      """WITH t0 AS (SELECT event_type, user_id % 25 AS tid,
        |    CAST(abs(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)))
        |      % 1000001 AS BIGINT) AS pseudo
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, tid,
        |    CASE WHEN tid < 5 THEN tid * 1000 ELSE pseudo END AS p_micro
        |  FROM t0),
        |r AS (SELECT event_type, tid, p_micro,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY p_micro, tid) AS BIGINT) AS rank,
        |    CAST(COUNT(1) OVER (PARTITION BY event_type) AS BIGINT) AS m
        |  FROM t),
        |k AS (SELECT *, MAX(CASE WHEN p_micro * m <= 200000 * rank
        |      THEN rank END) OVER (PARTITION BY event_type) AS kstar
        |  FROM r)
        |SELECT event_type, tid, p_micro, rank, m,
        |  COALESCE(rank <= kstar, false) AS reject
        |FROM k ORDER BY event_type, rank""".stripMargin),

    // unbiased pass@k over repeated samples per (event_type, user-arm)
    // task: value > 1.0 is "correct"; k = 1, 5, 10 unrolled as the
    // exact product form on both engines
    Gate("q292_pass_at_k", (s, dir) => {
      val ev = events(s, dir)
        .select(concat(col("event_type"), lit("#"),
            (col("user_id") % 10).cast("string")).as("task"),
          (col("value") > 1.0).as("correct"))
      graft.ops.Profiling.passAtK(ev, "task", "correct", Seq(1, 5, 10))
        .orderBy(col("task"))
    },
    oracle = {
      // product-form binomial ratio, generated for the SAME k list the
      // gate query uses — one source of truth for the unrolled terms
      def passCol(k: Int): String = {
        val terms = (0 until k).map { i =>
          s"greatest(0.0, CAST(n - c - $i AS DOUBLE)" +
            s" / CAST(n - $i AS DOUBLE))"
        }.mkString(" * ")
        s"CASE WHEN n >= $k THEN ROUND(1.0 - $terms, 6) END AS pass_at_$k"
      }
      s"""WITH t AS (SELECT event_type || '#' ||
         |    CAST(user_id % 10 AS VARCHAR) AS task,
         |    CASE WHEN value > 1.0 THEN 1 ELSE 0 END AS ok FROM events),
         |p AS (SELECT task, CAST(COUNT(1) AS BIGINT) AS n,
         |    CAST(SUM(ok) AS BIGINT) AS c FROM t GROUP BY 1)
         |SELECT task, n, c,
         |  ${passCol(1)},
         |  ${passCol(5)},
         |  ${passCol(10)}
         |FROM p ORDER BY task""".stripMargin
    }),

    // Bradley–Terry strengths over synthesized preference duels: each
    // event is a duel its type wins against a deterministically-rotated
    // other type; 3 MM iterations, opponent-sorted folds on both engines
    Gate("q293_bt_strengths", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val ev = events(s, dir)
      // otherwise(4): an unknown event type maps to 'view' exactly like
      // the oracle's CASE ... ELSE 4 — never a silently-dropped duel
      val idx = types.tail.init.zipWithIndex.foldLeft(
        when(col("event_type") === types.head, 0L)) {
        case (acc, (t, i)) => acc.when(col("event_type") === t, i + 1L)
      }.otherwise(4L)
      val loser = element_at(array(types.map(lit): _*),
        (((idx + col("event_id") % 4 + 1L) % 5L) + 1L).cast("int"))
      graft.ops.Profiling.btStrengths(
          ev.select(col("event_type").as("winner"), loser.as("loser")),
          "winner", "loser", iters = 3)
        .orderBy(col("rank"))
    },
    oracle = {
      // the 3 MM iterations are generated, not hand-unrolled — each is
      // the same opponent-sorted list_reduce fold the Spark op runs
      def iterCte(k: Int): String = {
        val prev = s"s${k - 1}"
        s"""s$k AS (SELECT $prev.i, $prev.wins, $prev.n_duels,
           |    COALESCE(CAST($prev.wins AS DOUBLE) / d$k.d, 0.0) AS s
           |  FROM $prev JOIN (
           |    SELECT p.i, list_reduce(list_transform(list_sort(
           |        list(struct_pack(j := p.j, t := CAST(p.n AS DOUBLE)
           |          / (si.s + sj.s)))), x -> x.t), (a, b) -> a + b) AS d
           |    FROM pairs p JOIN $prev si ON p.i = si.i
           |      JOIN $prev sj ON p.j = sj.i
           |    GROUP BY p.i) d$k ON $prev.i = d$k.i)""".stripMargin
      }
      s"""WITH base AS (SELECT event_type AS w,
         |    (['click', 'error', 'purchase', 'signup', 'view'])[
         |      CAST(((CASE event_type WHEN 'click' THEN 0
         |        WHEN 'error' THEN 1 WHEN 'purchase' THEN 2
         |        WHEN 'signup' THEN 3 ELSE 4 END
         |        + event_id % 4 + 1) % 5) + 1 AS INTEGER)] AS l
         |  FROM events),
         |d AS (SELECT w, l FROM base
         |  WHERE w IS NOT NULL AND l IS NOT NULL AND w <> l),
         |pairs AS (SELECT i, j, CAST(COUNT(1) AS BIGINT) AS n FROM (
         |    SELECT w AS i, l AS j FROM d
         |    UNION ALL SELECT l AS i, w AS j FROM d)
         |  GROUP BY 1, 2),
         |wn AS (SELECT w AS i, CAST(COUNT(1) AS BIGINT) AS wins
         |  FROM d GROUP BY 1),
         |nd AS (SELECT i, CAST(SUM(n) AS BIGINT) AS n_duels
         |  FROM pairs GROUP BY 1),
         |s0 AS (SELECT nd.i, COALESCE(wn.wins, 0) AS wins, nd.n_duels,
         |    CAST(1.0 AS DOUBLE) AS s FROM nd LEFT JOIN wn USING (i)),
         |${iterCte(1)},
         |${iterCte(2)},
         |${iterCte(3)},
         |tot AS (SELECT list_reduce(list_transform(list_sort(
         |    list(struct_pack(i := i, t := s))), x -> x.t),
         |    (a, b) -> a + b) AS tot FROM s3)
         |SELECT s3.i AS player, s3.wins, s3.n_duels,
         |  CASE WHEN tot.tot > 0 THEN ROUND(s3.s / tot.tot, 6)
         |    END AS strength,
         |  CAST(ROW_NUMBER() OVER (ORDER BY s3.s DESC, s3.i ASC)
         |    AS BIGINT) AS rank
         |FROM s3, tot ORDER BY rank""".stripMargin
    }),

    // k-center greedy coreset over the embeddings: 6 farthest-point
    // rounds, exact integer grid distances, id tie-breaks — the oracle
    // replays every round as a generated CTE
    Gate("q294_kcenter_coreset", (s, dir) =>
      graft.ops.Clustering.kCenterGreedy(emb(s, dir), "vec_id",
          "embedding", k = 6)
        .orderBy(col("rank")),
    oracle = {
      // each greedy round is a generated CTE: the same exact-integer
      // Σ(Δq)² argmax (DESC, id ASC) the Spark driver loop runs
      def d2(c: String): String = (1 to 64).map { i =>
        s"($c.qv[$i] - q.qv[$i]) * ($c.qv[$i] - q.qv[$i])"
      }.mkString(" + ")
      def round(j: Int): String = {
        val prior = (1 until j).map(p => s"c$p")
        val mind =
          if (prior.size == 1) s"(${d2(prior.head)})"
          else s"least(${prior.map(p => s"(${d2(p)})").mkString(", ")})"
        s"""c$j AS (SELECT q.id, q.qv, $mind AS d
           |  FROM q, ${prior.mkString(", ")}
           |  WHERE q.id NOT IN (${prior.map(_ + ".id").mkString(", ")})
           |  ORDER BY d DESC, q.id ASC LIMIT 1)""".stripMargin
      }
      val selects = (2 to 6).map(j =>
        s"UNION ALL SELECT $j, c$j.id, c$j.d FROM c$j").mkString("\n")
      s"""WITH q AS (SELECT CAST(vec_id AS BIGINT) AS id,
         |    list_transform(embedding, x ->
         |      CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
         |      AS qv
         |  FROM embeddings),
         |c1 AS (SELECT id, qv FROM q ORDER BY id ASC LIMIT 1),
         |${(2 to 6).map(round).mkString(",\n")}
         |SELECT CAST(1 AS BIGINT) AS rank, c1.id AS vec_id,
         |  CAST(NULL AS BIGINT) AS dist2 FROM c1
         |$selects
         |ORDER BY rank""".stripMargin
    }),

    // JSON chat transcripts synthesized per doc: an optional leading
    // assistant turn (starts-wrong case), the user/assistant pair, an
    // optional trailing EMPTY assistant turn (mask-poison +
    // alternation break), and a malformed blob every 7th doc
    Gate("q295_dialogue_turns", (s, dir) => {
      graft.ops.SemiStructured.dialogueTurnsJson(
          docs(s, dir).select(col("doc_id"), chatJson.as("convo")),
          "doc_id", "convo")
        .orderBy(col("doc_id"), col("turn_idx"))
    },
    oracle =
      s"""WITH t AS (SELECT doc_id, $chatJsonSql AS j FROM documents),
         |v AS (SELECT doc_id, j FROM t
         |  WHERE json_valid(j) AND json_type(j) = 'ARRAY'
         |    AND NOT EXISTS (SELECT 1 FROM
         |      unnest(range(CAST(json_array_length(j) AS BIGINT))) u(i)
         |      WHERE json_type(j, '$$[' || u.i || ']') <> 'OBJECT')),
         |turns AS (SELECT doc_id, CAST(u.i + 1 AS INTEGER) AS turn_idx,
         |    json_extract_string(j, '$$[' || u.i || '].role') AS role,
         |    json_extract_string(j, '$$[' || u.i || '].content')
         |      AS content
         |  FROM v, unnest(range(CAST(json_array_length(j) AS BIGINT))) u(i))
         |SELECT doc_id, turn_idx, role, content,
         |  CAST(COALESCE(length(content), 0) AS BIGINT) AS n_chars
         |FROM turns ORDER BY doc_id, turn_idx""".stripMargin),

    // loss-mask QA over the same transcripts: trainable fraction,
    // empty-assistant flags, alternation breaks, wrong openings;
    // malformed docs surface as n_turns = 0 rows, never errors
    Gate("q296_sft_mask", (s, dir) => {
      graft.ops.SemiStructured.sftMaskStats(
          docs(s, dir).select(col("doc_id"), chatJson.as("convo")),
          "doc_id", "convo")
        .orderBy(col("doc_id"))
    },
    oracle =
      s"""WITH t AS (SELECT doc_id, $chatJsonSql AS j FROM documents),
         |v AS (SELECT doc_id, j FROM t
         |  WHERE json_valid(j) AND json_type(j) = 'ARRAY'
         |    AND NOT EXISTS (SELECT 1 FROM
         |      unnest(range(CAST(json_array_length(j) AS BIGINT))) u(i)
         |      WHERE json_type(j, '$$[' || u.i || ']') <> 'OBJECT')),
         |turns AS (SELECT doc_id, CAST(u.i + 1 AS INTEGER) AS turn_idx,
         |    json_extract_string(j, '$$[' || u.i || '].role') AS role,
         |    json_extract_string(j, '$$[' || u.i || '].content')
         |      AS content
         |  FROM v, unnest(range(CAST(json_array_length(j) AS BIGINT))) u(i)),
         |lagd AS (SELECT *, LAG(role) OVER (PARTITION BY doc_id
         |    ORDER BY turn_idx) AS prev_role FROM turns),
         |agg AS (SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_turns,
         |    CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_assistant,
         |    CAST(SUM(CASE WHEN role = 'assistant'
         |      THEN COALESCE(length(content), 0)
         |      ELSE 0 END) AS BIGINT) AS assistant_chars,
         |    CAST(SUM(COALESCE(length(content), 0)) AS BIGINT)
         |      AS total_chars,
         |    bool_or(role = 'assistant'
         |      AND COALESCE(length(content), 0) = 0)
         |      AS has_empty_assistant,
         |    CAST(SUM(CASE WHEN turn_idx > 1
         |      AND role IS NOT DISTINCT FROM prev_role
         |      THEN 1 ELSE 0 END) AS BIGINT) AS alternation_breaks,
         |    bool_or(turn_idx = 1 AND role = 'assistant')
         |      AS starts_with_assistant
         |  FROM lagd GROUP BY 1)
         |SELECT t.doc_id,
         |  COALESCE(agg.n_turns, 0) AS n_turns,
         |  COALESCE(agg.n_assistant, 0) AS n_assistant,
         |  COALESCE(agg.assistant_chars, 0) AS assistant_chars,
         |  COALESCE(agg.total_chars, 0) AS total_chars,
         |  CASE WHEN agg.total_chars > 0 THEN
         |    ROUND(CAST(agg.assistant_chars AS DOUBLE)
         |      / CAST(agg.total_chars AS DOUBLE), 6) END
         |    AS trainable_ratio,
         |  COALESCE(agg.has_empty_assistant, false)
         |    AS has_empty_assistant,
         |  COALESCE(agg.alternation_breaks, 0) AS alternation_breaks,
         |  COALESCE(agg.starts_with_assistant, false)
         |    AS starts_with_assistant
         |FROM t LEFT JOIN agg USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin),

    // systematic resampling of the corpus to exactly 1000 draws by
    // n_chars weight: zero-variance integer copy counts, no RNG
    Gate("q297_systematic_resample", (s, dir) =>
      Corpus.systematicResample(docs(s, dir), "doc_id", "n_chars",
          n = 1000L)
        .orderBy(col("doc_id")),
    oracle =
      """WITH b AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS wt
        |  FROM documents WHERE n_chars > 0),
        |c AS (SELECT doc_id, wt,
        |    SUM(CAST(wt AS HUGEINT)) OVER (ORDER BY doc_id) AS hi
        |  FROM b),
        |t AS (SELECT SUM(CAST(wt AS HUGEINT)) AS w FROM b),
        |m AS (SELECT doc_id, wt AS weight,
        |    CAST((c.hi * 1000) // t.w - ((c.hi - c.wt) * 1000) // t.w
        |      AS BIGINT) AS copies
        |  FROM c, t)
        |SELECT doc_id, weight, copies FROM m
        |WHERE copies >= 1 ORDER BY doc_id""".stripMargin),

    // epoch plan: a 10x-corpus token budget split 40/30/20/5/5 across
    // the four real sources plus a phantom one with no data; the
    // upsampled tails cap at 4 epochs and report exact shortfalls
    Gate("q298_epoch_plan", (s, dir) =>
      Corpus.epochPlan(docs(s, dir), "source", "n_chars",
          Seq("src0" -> 400000L, "src1" -> 300000L, "src2" -> 200000L,
            "src3" -> 50000L, "synthetic" -> 50000L),
          budgetTokens = 30000000L, maxEpochsMilli = 4000L)
        .orderBy(col("source")),
    oracle =
      """WITH avail AS (SELECT source, CAST(SUM(n_chars) AS BIGINT)
        |    AS n_tokens FROM documents GROUP BY 1),
        |policy(source, share_micro) AS (VALUES
        |  ('src0', CAST(400000 AS BIGINT)), ('src1', 300000),
        |  ('src2', 200000), ('src3', 50000), ('synthetic', 50000)),
        |j AS (SELECT COALESCE(a.source, p.source) AS source,
        |    COALESCE(a.n_tokens, 0) AS n_tokens,
        |    COALESCE(p.share_micro, 0) AS share_micro
        |  FROM avail a FULL OUTER JOIN policy p ON a.source = p.source),
        |t AS (SELECT source, n_tokens, share_micro,
        |    CAST((CAST(30000000 AS HUGEINT) * share_micro) // 1000000
        |      AS BIGINT) AS target_tokens
        |  FROM j),
        |e AS (SELECT *, CASE WHEN n_tokens > 0 THEN
        |      CAST((CAST(target_tokens AS HUGEINT) * 1000) // n_tokens
        |        AS BIGINT) END AS epochs_milli
        |  FROM t),
        |c AS (SELECT *, n_tokens = 0 OR epochs_milli > 4000 AS capped
        |  FROM e),
        |p2 AS (SELECT *, CASE WHEN capped THEN
        |      CAST((CAST(n_tokens AS HUGEINT) * 4000) // 1000 AS BIGINT)
        |    ELSE target_tokens END AS planned_tokens
        |  FROM c)
        |SELECT source, n_tokens, share_micro, target_tokens,
        |  epochs_milli, capped, planned_tokens,
        |  greatest(target_tokens - planned_tokens, 0) AS shortfall_tokens
        |FROM p2 ORDER BY source""".stripMargin),

    // length-bias audit over synthesized duels (adjacent docs; the
    // longer doc wins 3 times in 4): the win-rate-by-gap curve must
    // flag the injected verbosity preference
    Gate("q299_length_bias", (s, dir) => {
      val a = docs(s, dir).select(col("doc_id"), col("n_chars").as("la"))
      val b = docs(s, dir).select((col("doc_id") - 1).as("doc_id"),
        col("n_chars").as("lb"))
      val duels = a.join(b, "doc_id")
        .select(
          when(col("doc_id") % 4 === 0, least(col("la"), col("lb")))
            .otherwise(greatest(col("la"), col("lb"))).as("wlen"),
          when(col("doc_id") % 4 === 0, greatest(col("la"), col("lb")))
            .otherwise(least(col("la"), col("lb"))).as("llen"))
      graft.ops.Profiling.lengthBias(duels, "wlen", "llen",
          bucketWidth = 100L)
        .orderBy(col("bucket"))
    },
    oracle =
      """WITH d AS (SELECT a.doc_id, a.n_chars AS la, b.n_chars AS lb
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
        |duel AS (SELECT
        |    CASE WHEN doc_id % 4 = 0 THEN least(la, lb)
        |      ELSE greatest(la, lb) END AS wlen,
        |    CASE WHEN doc_id % 4 = 0 THEN greatest(la, lb)
        |      ELSE least(la, lb) END AS llen
        |  FROM d),
        |p AS (SELECT
        |    CAST(floor(CAST(abs(wlen - llen) AS DOUBLE) / 100)
        |      AS BIGINT) AS bucket,
        |    CAST(COUNT(1) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN wlen > llen THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_longer_won,
        |    CAST(SUM(CASE WHEN wlen = llen THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_ties
        |  FROM duel GROUP BY 1)
        |SELECT bucket, bucket * 100 AS gap_lo, n, n_longer_won, n_ties,
        |  CASE WHEN n - n_ties > 0 THEN
        |    ROUND(CAST(n_longer_won AS DOUBLE)
        |      / CAST(n - n_ties AS DOUBLE), 6) END AS longer_win_rate,
        |  CASE WHEN n - n_ties > 0 THEN
        |    CAST(n_longer_won * 2 - (n - n_ties) AS HUGEINT)
        |      * (n_longer_won * 2 - (n - n_ties)) * 1000000
        |      >= CAST(3841600 AS HUGEINT) * (n - n_ties)
        |    AND n_longer_won * 2 - (n - n_ties) > 0 END AS biased
        |FROM p ORDER BY bucket""".stripMargin),

    // deterministic epoch-7 shuffle order: every doc's reproducible
    // global training position, no RNG — resume and replay get the
    // identical permutation
    Gate("q300_shuffle_order", (s, dir) =>
      Corpus.shuffleOrder(docs(s, dir).select(col("doc_id")), "doc_id",
          epoch = 7L)
        .orderBy(col("doc_id")),
    oracle = {
      val k = "((" + dpolyhash("'7:' || CAST(doc_id AS VARCHAR)") +
        " * 636413622 + 12345) % 1000000007)"
      s"""WITH h AS (SELECT doc_id, $k AS shuffle_key FROM documents)
         |SELECT doc_id, shuffle_key,
         |  CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id)
         |    AS BIGINT) AS shuffle_rank
         |FROM h ORDER BY doc_id""".stripMargin
    }),

    // END-TO-END corpus-prep chain — the composability demo: spike the
    // corpus with case/whitespace-mangled duplicates, then normalize →
    // exact-dedup keep-first → word-count quality gate →
    // content-addressed split, all in ONE plan the oracle replays
    // stage by stage
    Gate("q301_corpus_prep_chain", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        col("text"))
      val spiked = d.unionAll(d.select(
        (col("doc_id") + 100000L).as("doc_id"), col("source"),
        upper(replace(col("text"), lit(" "), lit("  "))).as("text")))
      val normed = spiked.select(col("doc_id"), col("source"),
        trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("norm"))
      val keepers = Dedup.exactKeepers(normed, "norm", "doc_id")
      val kept = normed.join(keepers, "doc_id")
      val words = size(filter(split(col("norm"), "\\s+"),
        w => w =!= "")).cast("long")
      val gated = kept.withColumn("words", words)
        .filter(col("words") >= 20)
      Corpus.withSplit(gated, "norm")
        .select(col("doc_id"), col("source"), col("n_copies"),
          col("words"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    },
    oracle = {
      val k = dpolyhash("norm")
      s"""WITH sp AS (SELECT doc_id, source, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, source,
         |    upper(replace(text, ' ', '  ')) FROM documents),
         |n AS (SELECT doc_id, source,
         |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
         |  FROM sp),
         |k AS (SELECT min(doc_id) AS doc_id,
         |    CAST(COUNT(1) AS BIGINT) AS n_copies
         |  FROM n GROUP BY norm),
         |j AS (SELECT n.doc_id, n.source, n.norm, k.n_copies
         |  FROM n JOIN k USING (doc_id)),
         |q AS (SELECT *, CAST(len(list_filter(
         |    regexp_split_to_array(norm, '\\s+'), w -> w <> ''))
         |    AS BIGINT) AS words FROM j),
         |f AS (SELECT * FROM q WHERE words >= 20),
         |s AS (SELECT doc_id, source, n_copies, words,
         |    $k % 100 AS bucket FROM f)
         |SELECT doc_id, source, n_copies, words, bucket,
         |  CASE WHEN bucket < 90 THEN 'train'
         |    WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
         |FROM s ORDER BY doc_id""".stripMargin
    }),

    // packing-quality audit over the q66 layout: per shard, window
    // utilization and the fraction of docs crossing a context boundary
    // (cross-doc attention contamination under concat-then-chunk)
    Gate("q302_packing_audit", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      Corpus.sequencePack(d, "doc_id", "n_tokens", ctxLen = 256,
          nShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          (max(col("pack_last")) + 1).as("windows_used"),
          sum(when(col("n_windows") > 1, 1L).otherwise(0L))
            .as("n_crossing"))
        .withColumn("crossing_frac",
          round(try_divide(col("n_crossing").cast("double"),
            col("n_docs").cast("double")), 6))
        .withColumn("utilization",
          round(try_divide(col("total_tokens").cast("double"),
            (col("windows_used") * 256L).cast("double")), 6))
        .orderBy(col("shard"))
    },
    oracle =
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY shard
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS BIGINT) AS cum FROM t),
        |w AS (SELECT shard, n_tokens,
        |    (cum - n_tokens) // 256 AS pack_first,
        |    GREATEST(cum - 1, cum - n_tokens) // 256 AS pack_last
        |  FROM c),
        |a AS (SELECT shard, CAST(COUNT(1) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |    CAST(MAX(pack_last) + 1 AS BIGINT) AS windows_used,
        |    CAST(SUM(CASE WHEN pack_last - pack_first + 1 > 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
        |  FROM w GROUP BY 1)
        |SELECT shard, n_docs, total_tokens, windows_used, n_crossing,
        |  ROUND(CAST(n_crossing AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
        |    AS crossing_frac,
        |  ROUND(CAST(total_tokens AS DOUBLE)
        |    / CAST(windows_used * 256 AS DOUBLE), 6) AS utilization
        |FROM a ORDER BY shard""".stripMargin),

    // Kendall tau-b per event type between two coarse quantizations of
    // value (one noised) — ordering agreement with heavy ties; the
    // cell-grid pair join is replayed exactly
    Gate("q303_kendall_tau", (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"),
          floor(col("value") * 0.25 + 0.5).cast("long").as("x"),
          (floor(col("value") * 0.125 + 0.5) + col("user_id") % 5)
            .cast("long").as("y"))
      graft.ops.Profiling.kendallTau(ev, "event_type", "x", "y")
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    CAST(floor(value * 0.25 + 0.5) AS BIGINT) AS x,
        |    CAST(floor(value * 0.125 + 0.5) AS BIGINT) + user_id % 5
        |      AS y
        |  FROM events WHERE value IS NOT NULL),
        |cells AS (SELECT g, x, y, CAST(COUNT(1) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2, 3),
        |cd AS (SELECT a.g,
        |    SUM(CASE WHEN bb.y > a.y THEN CAST(a.n AS HUGEINT) * bb.n
        |      ELSE 0 END) AS c,
        |    SUM(CASE WHEN bb.y < a.y THEN CAST(a.n AS HUGEINT) * bb.n
        |      ELSE 0 END) AS d
        |  FROM cells a JOIN cells bb ON a.g = bb.g AND bb.x > a.x
        |  GROUP BY 1),
        |tx AS (SELECT g, SUM(CAST(t AS HUGEINT) * (t - 1)) AS tx2
        |  FROM (SELECT g, x, COUNT(1) AS t FROM b GROUP BY 1, 2)
        |  GROUP BY 1),
        |ty AS (SELECT g, SUM(CAST(t AS HUGEINT) * (t - 1)) AS ty2
        |  FROM (SELECT g, y, COUNT(1) AS t FROM b GROUP BY 1, 2)
        |  GROUP BY 1),
        |p AS (SELECT g, CAST(COUNT(1) AS HUGEINT) AS n FROM b
        |  GROUP BY 1)
        |SELECT p.g AS event_type, CAST(p.n AS BIGINT) AS n,
        |  CAST(COALESCE(cd.c, 0) AS BIGINT) AS concordant,
        |  CAST(COALESCE(cd.d, 0) AS BIGINT) AS discordant,
        |  CASE WHEN p.n * (p.n - 1) - tx.tx2 > 0
        |      AND p.n * (p.n - 1) - ty.ty2 > 0 THEN
        |    ROUND(CAST(COALESCE(cd.c, 0) - COALESCE(cd.d, 0) AS DOUBLE)
        |      * 2.0 /
        |      (SQRT(CAST(p.n * (p.n - 1) - tx.tx2 AS DOUBLE)) *
        |        SQRT(CAST(p.n * (p.n - 1) - ty.ty2 AS DOUBLE))), 6)
        |  END AS tau
        |FROM p LEFT JOIN cd ON p.g = cd.g
        |  JOIN tx ON p.g = tx.g JOIN ty ON p.g = ty.g
        |ORDER BY 1""".stripMargin),

    // Theil–Sen robust slope per event type: weighted median of
    // pairwise day-over-day slopes on the quantized value — the
    // outlier-tolerant twin of q136's OLS trend; grid-bounded pair
    // join (cells, not rows)
    Gate("q304_theil_sen", (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"),
          (expr("unix_micros(ts) div 86400000000") - 19700L).as("x"),
          floor(col("value") * 0.1 + 0.5).cast("long").as("y"))
      graft.ops.Profiling.theilSen(ev, "event_type", "x", "y")
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    epoch_us(ts) // 86400000000 - 19700 AS x,
        |    CAST(floor(value * 0.1 + 0.5) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL),
        |cells AS (SELECT g, x, y, CAST(COUNT(1) AS HUGEINT) AS n
        |  FROM b GROUP BY 1, 2, 3),
        |sl AS (SELECT a.g,
        |    CAST(bb.y - a.y AS DOUBLE) / CAST(bb.x - a.x AS DOUBLE) AS s,
        |    SUM(a.n * bb.n) AS w
        |  FROM cells a JOIN cells bb ON a.g = bb.g AND bb.x > a.x
        |  GROUP BY 1, 2),
        |cum AS (SELECT g, s, w,
        |    SUM(w) OVER (PARTITION BY g ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    SUM(w) OVER (PARTITION BY g) AS tw
        |  FROM sl),
        |med AS (SELECT g, MIN(s) AS slope, MAX(tw) AS np FROM cum
        |  WHERE cw * 2 >= tw GROUP BY 1),
        |per AS (SELECT g, CAST(COUNT(1) AS BIGINT) AS n FROM b
        |  GROUP BY 1)
        |SELECT per.g AS event_type, per.n,
        |  CAST(COALESCE(med.np, 0) AS BIGINT) AS n_pairs,
        |  ROUND(med.slope, 6) AS slope
        |FROM per LEFT JOIN med ON per.g = med.g
        |ORDER BY 1""".stripMargin),

    // Rank-biased overlap per event type between two rankings of the
    // same events (clean vs noisy score) — top-weighted agreement for
    // retrieval-scorer swaps; ranks collapse to <= depth (group, m)
    // counts, fold order fixed on both engines
    Gate("q305_rbo", (s, dir) => {
      val ev = valuedEvents(s, dir, col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("sa"),
          (floor(col("value") * 10 + 0.5) + col("user_id") % 13)
            .cast("long").as("sb"))
      graft.ops.Profiling.rbo(ev, "event_type", "event_id", "sa", "sb",
          depth = 20, p = 0.5)
        .orderBy(col("event_type"))
    },
    oracle = {
      // the SAME tail-weight doubles the Spark op embeds as literals —
      // interpolated via Double.toString, which round-trips exactly, so
      // neither engine ever evaluates pow()
      val sLits = graft.ops.Profiling.rboTailWeights(0.5, 20)
        .mkString(", ")
      s"""WITH b AS (SELECT event_type AS g, event_id AS id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS sa,
        |    CAST(floor(value * 10 + 0.5) + user_id % 13 AS BIGINT) AS sb
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT g,
        |    row_number() OVER (PARTITION BY g ORDER BY sa DESC, id ASC)
        |      AS ra,
        |    row_number() OVER (PARTITION BY g ORDER BY sb DESC, id ASC)
        |      AS rb
        |  FROM b),
        |pm AS (SELECT g, greatest(ra, rb) AS m,
        |    CAST(COUNT(1) AS BIGINT) AS c
        |  FROM r WHERE greatest(ra, rb) <= 20 GROUP BY 1, 2),
        |f AS (SELECT g, SUM(c) AS ov,
        |    list_reduce(list(CAST(c AS DOUBLE) * ([$sLits])[m]
        |      ORDER BY m), (a, b) -> a + b) AS acc
        |  FROM pm GROUP BY 1),
        |per AS (SELECT g, CAST(COUNT(1) AS BIGINT) AS n_items FROM b
        |  GROUP BY 1)
        |SELECT per.g AS event_type, per.n_items,
        |  CAST(COALESCE(f.ov, 0) AS BIGINT) AS overlap_at_d,
        |  ROUND(0.5 * COALESCE(f.acc, 0.0), 6) AS rbo
        |FROM per LEFT JOIN f ON per.g = f.g
        |ORDER BY 1""".stripMargin
    }),

    // McNemar paired eval per event type: scorer A (raw milli-value
    // threshold) vs scorer B (rescaled + user-bucket bonus) on the SAME
    // events — only discordant outcomes decide, exact-integer verdict
    Gate("q306_mcnemar", (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"),
          (floor(col("value") * 1000 + 0.5).cast("long") > 34000L)
            .as("ok_a"),
          (floor(col("value") * 900 + 0.5).cast("long") +
            (col("user_id") % 10) * 500L > 34000L).as("ok_b"))
      graft.ops.Profiling.mcnemar(ev, "event_type", "ok_a", "ok_b")
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) > 34000 AS a,
        |    CAST(floor(value * 900 + 0.5) AS BIGINT) +
        |      (user_id % 10) * 500 > 34000 AS bb
        |  FROM events WHERE value IS NOT NULL),
        |per AS (SELECT g, CAST(COUNT(1) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN a AND NOT bb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS only_a,
        |    CAST(SUM(CASE WHEN bb AND NOT a THEN 1 ELSE 0 END)
        |      AS BIGINT) AS only_b
        |  FROM b GROUP BY 1)
        |SELECT g AS event_type, n_pairs, only_a, only_b,
        |  CASE WHEN only_a + only_b > 0 THEN
        |    ROUND(CAST((only_a - only_b) * (only_a - only_b) AS DOUBLE)
        |      / CAST(only_a + only_b AS DOUBLE), 6) END AS chi2,
        |  CASE WHEN only_a + only_b > 0 THEN
        |    CAST((only_a - only_b) * (only_a - only_b) AS HUGEINT)
        |      * 1000000 >= 3841000 * CAST(only_a + only_b AS HUGEINT)
        |    END AS significant
        |FROM per ORDER BY 1""".stripMargin),

    // chi-squared independence per source: is the language mix
    // independent of document length? label-bounded marginal cross
    // grid, zero cells contribute their E, Cramer's V effect size
    Gate("q307_chi_squared", (s, dir) => {
      val d = docs(s, dir).select(col("source"), col("lang"),
        when(col("n_chars") < 200, "short")
          .when(col("n_chars") < 350, "mid").otherwise("long")
          .as("len_bucket"))
      graft.ops.Profiling.chiSquared(d, "source", "lang", "len_bucket")
        .orderBy(col("source"))
    },
    oracle = {
      // the SAME chi2(df) 95% critical-value micros the op embeds,
      // 1-indexed by df
      val critLits = (1 to 30)
        .map(d => math.round(graft.ops.Profiling.chi2Crit95(d) * 1e6))
        .mkString(", ")
      s"""WITH b AS (SELECT source AS g, lang AS fa,
        |    CASE WHEN n_chars < 200 THEN 'short'
        |      WHEN n_chars < 350 THEN 'mid' ELSE 'long' END AS fb
        |  FROM documents WHERE lang IS NOT NULL),
        |cells AS (SELECT g, fa, fb, CAST(COUNT(1) AS BIGINT) AS o
        |  FROM b GROUP BY 1, 2, 3),
        |ra AS (SELECT g, fa, CAST(SUM(o) AS BIGINT) AS ra FROM cells
        |  GROUP BY 1, 2),
        |cb AS (SELECT g, fb, CAST(SUM(o) AS BIGINT) AS cb FROM cells
        |  GROUP BY 1, 2),
        |nn AS (SELECT g, CAST(SUM(o) AS BIGINT) AS n FROM cells
        |  GROUP BY 1),
        |grid AS (SELECT ra.g, ra.fa, cb.fb, ra.ra, cb.cb,
        |    COALESCE(cells.o, 0) AS o
        |  FROM ra JOIN cb ON ra.g = cb.g
        |  LEFT JOIN cells ON cells.g = ra.g AND cells.fa = ra.fa
        |    AND cells.fb = cb.fb),
        |terms AS (SELECT grid.g, fa, fb,
        |    (CAST(o AS DOUBLE) -
        |       CAST(ra * cb AS DOUBLE) / CAST(nn.n AS DOUBLE)) *
        |    (CAST(o AS DOUBLE) -
        |       CAST(ra * cb AS DOUBLE) / CAST(nn.n AS DOUBLE)) /
        |    (CAST(ra * cb AS DOUBLE) / CAST(nn.n AS DOUBLE)) AS t
        |  FROM grid JOIN nn ON grid.g = nn.g),
        |per AS (SELECT terms.g, max(nn.n) AS n,
        |    CAST(COUNT(DISTINCT fa) AS BIGINT) AS r,
        |    CAST(COUNT(DISTINCT fb) AS BIGINT) AS c,
        |    list_reduce(list(t ORDER BY fa, fb), (x, y) -> x + y)
        |      AS chi2
        |  FROM terms JOIN nn ON terms.g = nn.g GROUP BY 1)
        |SELECT g AS source, n, r, c,
        |  CAST((r - 1) * (c - 1) AS INT) AS dof,
        |  CASE WHEN (r - 1) * (c - 1) > 0 THEN ROUND(chi2, 6) END
        |    AS chi2,
        |  CASE WHEN (r - 1) * (c - 1) > 0 AND n > 0 THEN
        |    ROUND(sqrt(chi2 / (CAST(n AS DOUBLE) *
        |      CAST(least(r - 1, c - 1) AS DOUBLE))), 6) END AS cramers_v,
        |  CASE WHEN (r - 1) * (c - 1) BETWEEN 1 AND 30 THEN
        |    chi2 * 1000000.0 >=
        |      CAST(([$critLits])[CAST((r - 1) * (c - 1) AS INT)]
        |        AS DOUBLE) END AS significant
        |FROM per ORDER BY 1""".stripMargin
    }),

    // vocabulary richness per source: Chao1 true-vocab lower bound and
    // Good-Turing unseen mass — "does sampling more of this source
    // still buy novelty?"
    Gate("q308_vocab_richness", (s, dir) =>
      Corpus.vocabRichness(docs(s, dir), "source", "text")
        .orderBy(col("source")),
    oracle =
      """WITH w AS (SELECT source AS g, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0)) AS word FROM documents),
        |wc AS (SELECT g, word, CAST(COUNT(1) AS BIGINT) AS c FROM w
        |  GROUP BY 1, 2),
        |per AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(1) AS BIGINT) AS vocab,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS f1,
        |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS f2
        |  FROM wc GROUP BY 1)
        |SELECT g AS source, n_tokens, vocab, f1, f2,
        |  ROUND(CAST(vocab AS DOUBLE) + CAST(f1 * (f1 - 1) AS DOUBLE) /
        |    (2.0 * CAST(f2 + 1 AS DOUBLE)), 6) AS chao1,
        |  ROUND(CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
        |    AS unseen_mass
        |FROM per ORDER BY 1""".stripMargin),

    // Krippendorff's alpha per event type: three synthetic judges
    // (perturbed value buckets) with deterministic missingness — the
    // multi-rater agreement readout kappa can't give
    Gate("q309_krippendorff", (s, dir) => {
      val ev = events(s, dir).filter(col("value").isNotNull)
      def bucket(v: Column) =
        when(v < 20, "lo").when(v < 60, "mid").otherwise("hi")
      val rated = Seq(
        ev.filter((col("event_id") + 0) % 5 =!= 0)
          .select(col("event_type"), col("event_id"),
            bucket(col("value")).as("label")),
        ev.filter((col("event_id") + 1) % 5 =!= 0)
          .select(col("event_type"), col("event_id"),
            bucket(col("value") * 1.05).as("label")),
        ev.filter((col("event_id") + 2) % 5 =!= 0)
          .select(col("event_type"), col("event_id"),
            bucket(col("value") + (col("user_id") % 3) * 10.0)
              .as("label"))).reduce(_ union _)
      graft.ops.Profiling.krippendorffAlpha(rated, "event_type",
          "event_id", "label")
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH e AS (SELECT event_type, event_id, user_id, value
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT event_type AS g, event_id AS u,
        |    CASE WHEN value < 20 THEN 'lo' WHEN value < 60 THEN 'mid'
        |      ELSE 'hi' END AS l
        |  FROM e WHERE (event_id + 0) % 5 <> 0
        |  UNION ALL
        |  SELECT event_type, event_id,
        |    CASE WHEN value * 1.05 < 20 THEN 'lo'
        |      WHEN value * 1.05 < 60 THEN 'mid' ELSE 'hi' END
        |  FROM e WHERE (event_id + 1) % 5 <> 0
        |  UNION ALL
        |  SELECT event_type, event_id,
        |    CASE WHEN value + (user_id % 3) * 10.0 < 20 THEN 'lo'
        |      WHEN value + (user_id % 3) * 10.0 < 60 THEN 'mid'
        |      ELSE 'hi' END
        |  FROM e WHERE (event_id + 2) % 5 <> 0),
        |cells AS (SELECT g, u, l, CAST(COUNT(1) AS BIGINT) AS o FROM r
        |  GROUP BY 1, 2, 3),
        |pu AS (SELECT g, u, CAST(SUM(o) AS BIGINT) AS nu,
        |    SUM(CAST(o AS HUGEINT) * o) AS o2
        |  FROM cells GROUP BY 1, 2),
        |pair AS (SELECT g, u, nu, o2 FROM pu WHERE nu >= 2),
        |pm AS (SELECT g, nu - 1 AS m,
        |    SUM(CAST(nu AS HUGEINT) * nu - o2) AS a,
        |    CAST(COUNT(1) AS BIGINT) AS units,
        |    CAST(SUM(nu) AS BIGINT) AS rts
        |  FROM pair GROUP BY 1, 2),
        |dd AS (SELECT g, CAST(SUM(units) AS BIGINT) AS n_units,
        |    CAST(SUM(rts) AS BIGINT) AS n_ratings,
        |    list_reduce(list(CAST(a AS DOUBLE) / CAST(m AS DOUBLE)
        |      ORDER BY m), (x, y) -> x + y) AS do_
        |  FROM pm GROUP BY 1),
        |mg AS (SELECT cells.g, cells.l, CAST(SUM(o) AS BIGINT) AS nc
        |  FROM cells JOIN pair ON cells.g = pair.g AND cells.u = pair.u
        |  GROUP BY 1, 2),
        |m2 AS (SELECT g, SUM(CAST(nc AS HUGEINT) * nc) AS nc2 FROM mg
        |  GROUP BY 1),
        |unp AS (SELECT g, CAST(SUM(CASE WHEN nu < 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_unpairable
        |  FROM pu GROUP BY 1)
        |SELECT unp.g AS event_type,
        |  COALESCE(dd.n_units, 0) AS n_units,
        |  COALESCE(dd.n_ratings, 0) AS n_ratings, unp.n_unpairable,
        |  CASE WHEN dd.n_ratings > 1 AND
        |      CAST(CAST(dd.n_ratings AS HUGEINT) * dd.n_ratings - nc2
        |        AS DOUBLE) > 0 THEN
        |    ROUND(1.0 - do_ * CAST(dd.n_ratings - 1 AS DOUBLE) /
        |      CAST(CAST(dd.n_ratings AS HUGEINT) * dd.n_ratings - nc2
        |        AS DOUBLE), 6) END AS alpha
        |FROM unp LEFT JOIN dd ON unp.g = dd.g
        |  LEFT JOIN m2 ON unp.g = m2.g
        |ORDER BY 1""".stripMargin),

    // Cochran's Q per event type: three scorers on the same events
    // with deterministic gaps — the k-model omnibus over q306's pair
    Gate("q310_cochran_q", (s, dir) => {
      val ev = events(s, dir).filter(col("value").isNotNull)
      val scored = Seq(
        ev.filter((col("event_id") + 0) % 7 =!= 0)
          .select(col("event_type"), col("event_id"),
            lit("m0").as("model"),
            (floor(col("value") * 1000 + 0.5).cast("long") > 34000L)
              .as("ok")),
        ev.filter((col("event_id") + 1) % 7 =!= 0)
          .select(col("event_type"), col("event_id"),
            lit("m1").as("model"),
            (floor(col("value") * 900 + 0.5).cast("long") +
              (col("user_id") % 10) * 500L > 34000L).as("ok")),
        ev.filter((col("event_id") + 2) % 7 =!= 0)
          .select(col("event_type"), col("event_id"),
            lit("m2").as("model"),
            (floor(col("value") * 1100 + 0.5).cast("long") -
              (col("user_id") % 5) * 300L > 34000L).as("ok")))
        .reduce(_ union _)
      graft.ops.Profiling.cochranQ(scored, "event_type", "event_id",
          "model", "ok")
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH e AS (SELECT event_type, event_id, user_id, value
        |  FROM events WHERE value IS NOT NULL),
        |b AS (
        |  SELECT event_type AS g, event_id AS t, 'm0' AS mo,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) > 34000 AS ok
        |  FROM e WHERE (event_id + 0) % 7 <> 0
        |  UNION ALL
        |  SELECT event_type, event_id, 'm1',
        |    CAST(floor(value * 900 + 0.5) AS BIGINT) +
        |      (user_id % 10) * 500 > 34000
        |  FROM e WHERE (event_id + 1) % 7 <> 0
        |  UNION ALL
        |  SELECT event_type, event_id, 'm2',
        |    CAST(floor(value * 1100 + 0.5) AS BIGINT) -
        |      (user_id % 5) * 300 > 34000
        |  FROM e WHERE (event_id + 2) % 7 <> 0),
        |kp AS (SELECT g, CAST(COUNT(DISTINCT mo) AS BIGINT) AS k
        |  FROM b GROUP BY 1),
        |pt AS (SELECT g, t, CAST(COUNT(1) AS BIGINT) AS nm,
        |    CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS li
        |  FROM b GROUP BY 1, 2),
        |comp AS (SELECT pt.g, pt.t, pt.li FROM pt JOIN kp
        |  ON pt.g = kp.g WHERE pt.nm = kp.k),
        |ta AS (SELECT g, CAST(COUNT(1) AS BIGINT) AS n_tasks,
        |    SUM(CAST(li AS HUGEINT)) AS sl,
        |    SUM(CAST(li AS HUGEINT) * li) AS sl2
        |  FROM comp GROUP BY 1),
        |dr AS (SELECT pt.g, CAST(SUM(CASE WHEN pt.nm <> kp.k THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_incomplete
        |  FROM pt JOIN kp ON pt.g = kp.g GROUP BY 1),
        |ma AS (SELECT b.g, b.mo, CAST(SUM(CASE WHEN b.ok THEN 1
        |      ELSE 0 END) AS BIGINT) AS gj
        |  FROM b JOIN comp ON b.g = comp.g AND b.t = comp.t
        |  GROUP BY 1, 2),
        |ms AS (SELECT g, SUM(CAST(gj AS HUGEINT)) AS s,
        |    SUM(CAST(gj AS HUGEINT) * gj) AS sg2
        |  FROM ma GROUP BY 1)
        |SELECT kp.g AS event_type, kp.k,
        |  COALESCE(ta.n_tasks, 0) AS n_tasks, dr.n_incomplete,
        |  CASE WHEN kp.k * ta.sl - ta.sl2 > 0 THEN
        |    ROUND(CAST((kp.k - 1) * (kp.k * ms.sg2 - ms.s * ms.s)
        |        AS DOUBLE) /
        |      CAST(kp.k * ta.sl - ta.sl2 AS DOUBLE), 6) END AS q,
        |  CASE WHEN kp.k * ta.sl - ta.sl2 > 0 AND kp.k - 1 = 2 THEN
        |    (kp.k - 1) * (kp.k * ms.sg2 - ms.s * ms.s) * 1000000 >=
        |      5991000 * (kp.k * ta.sl - ta.sl2) END AS significant
        |FROM kp JOIN dr ON kp.g = dr.g
        |  LEFT JOIN ta ON kp.g = ta.g LEFT JOIN ms ON kp.g = ms.g
        |ORDER BY 1""".stripMargin),

    // Cochran–Armitage trend per event type: does the pass rate trend
    // with the value decile? single-df monotone test over the
    // dose-bounded moment table
    Gate("q311_cochran_armitage", (s, dir) => {
      val ev = valuedEvents(s, dir,
          least(floor(col("value") / 50).cast("long"), lit(9L))
            .as("dose"),
          (floor(col("value") * 10 + 0.5).cast("long") +
            col("user_id") % 350 > 500L).as("ok"))
      graft.ops.Profiling.cochranArmitage(ev, "event_type", "dose",
          "ok")
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    LEAST(CAST(floor(value / 50) AS BIGINT), 9) AS x,
        |    CAST(floor(value * 10 + 0.5) AS BIGINT) +
        |      user_id % 350 > 500 AS ok
        |  FROM events WHERE value IS NOT NULL),
        |pd AS (SELECT g, x, CAST(COUNT(1) AS BIGINT) AS ni,
        |    CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS ri
        |  FROM b GROUP BY 1, 2),
        |per AS (SELECT g, CAST(SUM(ni) AS BIGINT) AS n,
        |    CAST(COUNT(1) AS BIGINT) AS k_doses,
        |    SUM(CAST(ri AS HUGEINT)) AS r,
        |    SUM(CAST(x AS HUGEINT) * ri) AS xr,
        |    SUM(CAST(x AS HUGEINT) * ni) AS xn,
        |    SUM(CAST(x AS HUGEINT) * x * ni) AS x2n
        |  FROM pd GROUP BY 1),
        |t AS (SELECT g, n, k_doses,
        |    CAST(n AS HUGEINT) * xr - r * xn AS num,
        |    CAST(r * (CAST(n AS HUGEINT) - r) AS DOUBLE) *
        |      CAST(CAST(n AS HUGEINT) * x2n - xn * xn AS DOUBLE) AS vt
        |  FROM per),
        |z AS (SELECT g, n, k_doses, num, vt,
        |    CAST(n AS DOUBLE) * CAST(num AS DOUBLE) *
        |      CAST(num AS DOUBLE) / vt AS z2
        |  FROM t)
        |SELECT g AS event_type, n, k_doses,
        |  CASE WHEN vt > 0 THEN ROUND(z2, 6) END AS z2,
        |  CASE WHEN vt > 0 AND num <> 0 THEN num > 0 END AS rising,
        |  CASE WHEN vt > 0 THEN z2 * 1000000.0 >= 3841000.0 END
        |    AS significant
        |FROM z ORDER BY 1""".stripMargin),

    // Mantel–Haenszel pooled OR + CMH per event type: treatment effect
    // controlling for the user-segment confounder the outcome is
    // deliberately loaded with
    Gate("q312_mantel_haenszel", (s, dir) => {
      val ev = valuedEvents(s, dir,
          concat(lit("s"), (col("user_id") % 4).cast("string"))
            .as("stratum"),
          (col("event_id") % 2 === 0).as("treated"),
          (floor(col("value") * 10 + 0.5).cast("long") +
            (col("user_id") % 4) * 100L +
            when(col("event_id") % 2 === 0, 50L).otherwise(0L) > 400L)
            .as("ok"))
      graft.ops.Profiling.mantelHaenszel(ev, "event_type", "stratum",
          "treated", "ok")
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    's' || CAST(user_id % 4 AS VARCHAR) AS s,
        |    event_id % 2 = 0 AS t,
        |    CAST(floor(value * 10 + 0.5) AS BIGINT) +
        |      (user_id % 4) * 100 +
        |      CASE WHEN event_id % 2 = 0 THEN 50 ELSE 0 END > 400 AS ok
        |  FROM events WHERE value IS NOT NULL),
        |cells AS (SELECT g, s,
        |    CAST(SUM(CASE WHEN t AND ok THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(SUM(CASE WHEN t AND NOT ok THEN 1 ELSE 0 END)
        |      AS BIGINT) AS bb,
        |    CAST(SUM(CASE WHEN NOT t AND ok THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN NOT t AND NOT ok THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM b GROUP BY 1, 2),
        |fat AS (SELECT *, a + bb + c + d AS ni FROM cells
        |  WHERE a + bb + c + d >= 2),
        |terms AS (SELECT g, s,
        |    CAST(CAST(a AS HUGEINT) * d AS DOUBLE) /
        |      CAST(ni AS DOUBLE) AS ad,
        |    CAST(CAST(bb AS HUGEINT) * c AS DOUBLE) /
        |      CAST(ni AS DOUBLE) AS bc,
        |    CAST((CAST(a AS HUGEINT) + bb) * (CAST(a AS HUGEINT) + c)
        |      AS DOUBLE) / CAST(ni AS DOUBLE) AS e,
        |    CAST((CAST(a AS HUGEINT) + bb) * (CAST(c AS HUGEINT) + d) *
        |        (CAST(a AS HUGEINT) + c) * (CAST(bb AS HUGEINT) + d)
        |      AS DOUBLE) /
        |      (CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE) *
        |        (CAST(ni AS DOUBLE) - 1.0)) AS v
        |  FROM fat),
        |per AS (SELECT terms.g,
        |    CAST(COUNT(1) AS BIGINT) AS n_strata,
        |    CAST(SUM(fat.ni) AS BIGINT) AS n,
        |    CAST(SUM(fat.a) AS BIGINT) AS asum,
        |    list_reduce(list(ad ORDER BY terms.s), (x, y) -> x + y)
        |      AS sad,
        |    list_reduce(list(bc ORDER BY terms.s), (x, y) -> x + y)
        |      AS sbc,
        |    list_reduce(list(e ORDER BY terms.s), (x, y) -> x + y)
        |      AS se,
        |    list_reduce(list(v ORDER BY terms.s), (x, y) -> x + y)
        |      AS sv
        |  FROM terms JOIN fat ON terms.g = fat.g AND terms.s = fat.s
        |  GROUP BY 1),
        |thin AS (SELECT g, CAST(SUM(CASE WHEN a + bb + c + d < 2
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_thin
        |  FROM cells GROUP BY 1),
        |fin AS (SELECT thin.g, per.n_strata, thin.n_thin, per.n,
        |    per.sad, per.sbc, per.sv,
        |    (CAST(per.asum AS DOUBLE) - per.se) *
        |      (CAST(per.asum AS DOUBLE) - per.se) / per.sv AS chi2
        |  FROM thin LEFT JOIN per ON thin.g = per.g)
        |SELECT g AS event_type, COALESCE(n_strata, 0) AS n_strata,
        |  n_thin, COALESCE(n, 0) AS n,
        |  CASE WHEN sbc > 0 THEN ROUND(sad / sbc, 6) END AS or_mh,
        |  CASE WHEN sv > 0 THEN ROUND(chi2, 6) END AS chi2,
        |  CASE WHEN sv > 0 THEN chi2 * 1000000.0 >= 3841000.0 END
        |    AS significant
        |FROM fin ORDER BY 1""".stripMargin),

    // Matryoshka truncation audit: retrieval quality of the first
    // 16/32 dims against the full 64-dim top-5 — the keep-how-many-dims
    // decision, measured as overlap@k and top-1 agreement
    Gate("q313_truncation_audit", (s, dir) => {
      val e = emb(s, dir)
      Similarity.truncationAudit(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", k = 5, dims = Seq(16, 32))
        .orderBy(col("dim"))
    },
    oracle = {
      def ddotN(a: String, b: String, n: Int) = (1 to n).map(i =>
        s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)")
        .mkString(" + ")
      def dcosN(a: String, b: String, n: Int) =
        s"(${ddotN(a, b, n)}) / (SQRT(${ddotN(a, a, n)}) * " +
          s"SQRT(${ddotN(b, b, n)}))"
      def rankCte(name: String, n: Int) =
        s"""$name AS (SELECT * FROM (
           |  SELECT query_id, neighbor_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY cos_raw DESC, neighbor_id) AS rank
           |  FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |      ${dcosN("q.embedding", "c.embedding", n)} AS cos_raw
           |    FROM qq q, embeddings c WHERE q.vec_id <> c.vec_id))
           |  WHERE rank <= 5)""".stripMargin
      def statCte(d: Int) =
        s"""o$d AS (SELECT f.query_id, CAST(COUNT(1) AS BIGINT) AS ov
           |  FROM fr f JOIN r$d t ON f.query_id = t.query_id
           |    AND f.neighbor_id = t.neighbor_id GROUP BY 1),
           |s$d AS (SELECT CAST($d AS INT) AS dim,
           |    CAST(COUNT(1) AS BIGINT) AS n_queries,
           |    CAST(SUM(COALESCE(o$d.ov, 0)) AS BIGINT) AS sov,
           |    CAST(SUM(CASE WHEN f.neighbor_id = t.neighbor_id THEN 1
           |      ELSE 0 END) AS BIGINT) AS t1m
           |  FROM fr f JOIN r$d t ON f.query_id = t.query_id
           |    AND f.rank = 1 AND t.rank = 1
           |  LEFT JOIN o$d ON f.query_id = o$d.query_id)""".stripMargin
      s"""WITH qq AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id < 10),
         |${rankCte("fr", 64)},
         |${rankCte("r16", 16)},
         |${rankCte("r32", 32)},
         |${statCte(16)},
         |${statCte(32)}
         |SELECT dim, n_queries,
         |  ROUND(CAST(sov AS DOUBLE) / CAST(n_queries * 5 AS DOUBLE), 6)
         |    AS mean_overlap_at_k,
         |  ROUND(CAST(t1m AS DOUBLE) / CAST(n_queries AS DOUBLE), 6)
         |    AS top1_match_rate
         |FROM (SELECT * FROM s16 UNION ALL SELECT * FROM s32)
         |ORDER BY dim""".stripMargin
    }),

    // chi2 goodness-of-fit per language: is the length-bucket mix on
    // the declared 25/50/25 plan? the post-sampleMixture QA gate
    Gate("q314_chi2_gof", (s, dir) => {
      val d = docs(s, dir).select(col("lang"),
        when(col("n_chars") < 200, "short")
          .when(col("n_chars") < 350, "mid").otherwise("long")
          .as("len_bucket"))
      graft.ops.Profiling.chi2GoodnessOfFit(d, "lang", "len_bucket",
          Map("short" -> 250000L, "mid" -> 500000L, "long" -> 250000L))
        .orderBy(col("lang"))
    },
    oracle = {
      // term per target category in sorted order (long, mid, short) —
      // the category-sorted fold the op replays
      def term(cat: String, micro: Long) =
        s"""((CAST(o_$cat AS DOUBLE) -
           |      CAST(CAST(n AS HUGEINT) * $micro AS DOUBLE) /
           |        1000000.0) *
           |    (CAST(o_$cat AS DOUBLE) -
           |      CAST(CAST(n AS HUGEINT) * $micro AS DOUBLE) /
           |        1000000.0) /
           |    (CAST(CAST(n AS HUGEINT) * $micro AS DOUBLE) /
           |      1000000.0))""".stripMargin
      s"""WITH b AS (SELECT lang AS g,
         |    CASE WHEN n_chars < 200 THEN 'short'
         |      WHEN n_chars < 350 THEN 'mid' ELSE 'long' END AS c
         |  FROM documents WHERE lang IS NOT NULL),
         |per AS (SELECT g, CAST(COUNT(1) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN c = 'long' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS o_long,
         |    CAST(SUM(CASE WHEN c = 'mid' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS o_mid,
         |    CAST(SUM(CASE WHEN c = 'short' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS o_short
         |  FROM b GROUP BY 1),
         |f AS (SELECT g, n,
         |    ${term("long", 250000L)} +
         |    ${term("mid", 500000L)} +
         |    ${term("short", 250000L)} AS chi2
         |  FROM per)
         |SELECT g AS lang, n, CAST(0 AS BIGINT) AS n_unplanned,
         |  CASE WHEN n > 0 THEN ROUND(chi2, 6) END AS chi2,
         |  CASE WHEN n > 0 THEN chi2 * 1000000.0 >= 5991000.0 END
         |    AS significant
         |FROM f ORDER BY 1""".stripMargin
    }),

    // Wilson score intervals per event type: the error bars on the
    // pass rate eval dashboards must carry
    Gate("q315_wilson", (s, dir) => {
      val ev = valuedEvents(s, dir,
          (floor(col("value") * 1000 + 0.5).cast("long") > 34000L)
            .as("ok"))
      graft.ops.Profiling.wilsonInterval(ev, "event_type", "ok")
        .orderBy(col("event_type"))
    },
    oracle = {
      val z = 1.959964
      val z2 = z * z
      s"""WITH per AS (SELECT event_type AS g,
         |    CAST(COUNT(1) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN CAST(floor(value * 1000 + 0.5)
         |      AS BIGINT) > 34000 THEN 1 ELSE 0 END) AS BIGINT) AS k
         |  FROM events WHERE value IS NOT NULL GROUP BY 1),
         |m AS (SELECT g, n, k,
         |    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
         |    1.0 + $z2 / CAST(n AS DOUBLE) AS denom
         |  FROM per),
         |w AS (SELECT g, n, k, p,
         |    (p + $z2 / (2.0 * CAST(n AS DOUBLE))) / denom AS center,
         |    $z * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE) +
         |      $z2 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) /
         |      denom AS hw
         |  FROM m)
         |SELECT g AS event_type, n, k, ROUND(p, 6) AS rate,
         |  ROUND(center - hw, 6) AS lo, ROUND(center + hw, 6) AS hi
         |FROM w ORDER BY 1""".stripMargin
    }),

    // best filter threshold per source: the n_chars cut that best
    // separates English — max-F1 over the exact PR grid, ties to the
    // data-keeping side
    Gate("q316_best_threshold", (s, dir) => {
      val d = docs(s, dir)
        .filter(col("n_chars").isNotNull && col("lang").isNotNull)
        .select(col("source"), col("n_chars"),
          (col("lang") === "en").as("is_en"))
      graft.ops.Profiling.bestThreshold(d, "source", "n_chars",
          "is_en")
        .orderBy(col("source"))
    },
    oracle =
      """WITH b AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS s,
        |    lang = 'en' AS l
        |  FROM documents WHERE n_chars IS NOT NULL
        |    AND lang IS NOT NULL),
        |ps AS (SELECT g, s,
        |    CAST(SUM(CASE WHEN l THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |    CAST(SUM(CASE WHEN l THEN 0 ELSE 1 END) AS BIGINT) AS neg
        |  FROM b GROUP BY 1, 2),
        |cum AS (SELECT g, s,
        |    SUM(pos) OVER (PARTITION BY g ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        |    SUM(neg) OVER (PARTITION BY g ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
        |    SUM(pos) OVER (PARTITION BY g) AS p
        |  FROM ps),
        |f AS (SELECT g, s, tp, fp, p,
        |    CAST(tp * 2 AS DOUBLE) / CAST(tp + fp + p AS DOUBLE) AS f1
        |  FROM cum),
        |pick AS (SELECT * FROM f
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY g
        |    ORDER BY f1 DESC, s ASC) = 1)
        |SELECT g AS source, s AS threshold, CAST(tp AS BIGINT) AS tp,
        |  CAST(fp AS BIGINT) AS fp, CAST(p - tp AS BIGINT) AS fn,
        |  ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
        |    AS "precision",
        |  ROUND(CAST(tp AS DOUBLE) / CAST(p AS DOUBLE), 6) AS recall,
        |  ROUND(f1, 6) AS f1
        |FROM pick ORDER BY 1""".stripMargin),

    // Group-sequential A/B monitor per event type: 5 chronological
    // interims, OBF-style boundaries — the peeking-safe eval dashboard
    Gate("q317_group_sequential", (s, dir) => {
      val ev = valuedEvents(s, dir,
          least(expr("(unix_micros(ts) div 86400000000 - 19723) " +
            "div 6") + 1, lit(5L)).as("interim"),
          (col("user_id") % 2 === 0).as("treated"),
          (floor(col("value") * 1000 + 0.5).cast("long") > 34000L)
            .as("ok"))
      graft.ops.Profiling.groupSequential(ev, "event_type", "interim",
          "treated", "ok", totalInterims = 5)
        .orderBy(col("event_type"), col("interim"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    LEAST((epoch_us(ts) // 86400000000 - 19723) // 6 + 1, 5)
        |      AS k,
        |    user_id % 2 = 0 AS t,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) > 34000 AS ok
        |  FROM events WHERE value IS NOT NULL),
        |per AS (SELECT g, k,
        |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN t AND ok THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ka,
        |    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nb,
        |    CAST(SUM(CASE WHEN NOT t AND ok THEN 1 ELSE 0 END)
        |      AS BIGINT) AS kb
        |  FROM b WHERE k BETWEEN 1 AND 5 GROUP BY 1, 2),
        |cum AS (SELECT g, k,
        |    CAST(SUM(na) OVER w AS BIGINT) AS cna,
        |    CAST(SUM(ka) OVER w AS BIGINT) AS cka,
        |    CAST(SUM(nb) OVER w AS BIGINT) AS cnb,
        |    CAST(SUM(kb) OVER w AS BIGINT) AS ckb
        |  FROM per WINDOW w AS (PARTITION BY g ORDER BY k
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (SELECT g, k, cna, cnb,
        |    CAST(cka AS DOUBLE) / CAST(cna AS DOUBLE) AS pa,
        |    CAST(ckb AS DOUBLE) / CAST(cnb AS DOUBLE) AS pb,
        |    CAST(cka + ckb AS DOUBLE) / CAST(cna + cnb AS DOUBLE)
        |      AS pbar
        |  FROM cum),
        |z AS (SELECT g, k, cna, cnb,
        |    pbar * (1.0 - pbar) *
        |      (1.0 / CAST(cna AS DOUBLE) + 1.0 / CAST(cnb AS DOUBLE))
        |      AS den,
        |    (pa - pb) * (pa - pb) AS num,
        |    1.959964 * sqrt(5.0 / CAST(k AS DOUBLE)) AS bound
        |  FROM m),
        |c AS (SELECT g, k, cna, cnb, den, num, bound,
        |    CASE WHEN cna > 0 AND cnb > 0 AND den > 0
        |      THEN num / den >= bound * bound END AS crossed
        |  FROM z)
        |SELECT g AS event_type, k AS interim, cna AS n_a, cnb AS n_b,
        |  CASE WHEN cna > 0 AND cnb > 0 AND den > 0
        |    THEN ROUND(num / den, 6) END AS z2,
        |  ROUND(bound, 6) AS z_bound, crossed,
        |  MAX(CASE WHEN crossed THEN 1 ELSE 0 END) OVER
        |    (PARTITION BY g ORDER BY k
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
        |    AS decided
        |FROM c ORDER BY 1, 2""".stripMargin),

    // Power plan per event type: units per arm needed to detect
    // +1pp/+2pp/+5pp off the observed pass rate — the design-time
    // readout before q317's monitor runs
    Gate("q318_power_plan", (s, dir) => {
      val ev = valuedEvents(s, dir,
          (floor(col("value") * 1000 + 0.5).cast("long") > 34000L)
            .as("ok"))
      graft.ops.Profiling.powerPlan(ev, "event_type", "ok",
          Seq(10000L, 20000L, 50000L))
        .orderBy(col("event_type"), col("mde_micro"))
    },
    oracle =
      """WITH per AS (SELECT event_type AS g,
        |    CAST(COUNT(1) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN CAST(floor(value * 1000 + 0.5)
        |      AS BIGINT) > 34000 THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |c AS (SELECT g, n, mde,
        |    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p1,
        |    CAST(mde AS DOUBLE) / 1000000.0 AS d
        |  FROM per CROSS JOIN
        |    (SELECT unnest([10000, 20000, 50000]) AS mde)),
        |e AS (SELECT g, n, mde, p1, d, p1 + d AS p2,
        |    (p1 + (p1 + d)) / 2.0 AS pb
        |  FROM c),
        |f AS (SELECT g, n, mde, p1, p2, d,
        |    1.959964 * sqrt(2.0 * pb * (1.0 - pb)) +
        |      0.841621 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)) AS s
        |  FROM e)
        |SELECT g AS event_type, CAST(mde AS BIGINT) AS mde_micro,
        |  n AS n_baseline, ROUND(p1, 6) AS baseline_rate,
        |  CASE WHEN p2 <= 1.0 THEN ROUND(p2, 6) END AS target_rate,
        |  CASE WHEN p2 <= 1.0 THEN CAST(ceil(s * s / (d * d))
        |    AS BIGINT) END AS n_per_arm
        |FROM f ORDER BY 1, 2""".stripMargin),

    // Quantile treatment effects per event type: did the user-parity
    // "treatment" move p25/p50/p75/p90 of the milli value? exact
    // nearest-rank quantiles per arm, integer differences
    Gate("q319_quantile_effect", (s, dir) => {
      val ev = valuedEvents(s, dir,
          (col("user_id") % 2 === 0).as("treated"),
          floor(col("value") * 1000 + 0.5).cast("long").as("vmil"))
      graft.ops.Profiling.quantileTreatmentEffect(ev, "event_type",
          "treated", "vmil")
        .orderBy(col("event_type"), col("prob_micro"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g, user_id % 2 = 0 AS t,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |hist AS (SELECT g, t, v, CAST(COUNT(1) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2, 3),
        |cum AS (SELECT g, t, v,
        |    CAST(SUM(c) OVER (PARTITION BY g, t ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cm,
        |    CAST(SUM(c) OVER (PARTITION BY g, t) AS BIGINT) AS n
        |  FROM hist),
        |qs AS (SELECT g, t, prob_micro, MIN(v) AS q, MAX(n) AS nn
        |  FROM cum CROSS JOIN (SELECT unnest([250000, 500000, 750000,
        |    900000]) AS prob_micro)
        |  WHERE CAST(cm AS HUGEINT) * 1000000 >=
        |    CAST(prob_micro AS HUGEINT) * n
        |  GROUP BY 1, 2, 3),
        |tr AS (SELECT g, prob_micro, nn AS n_treated, q AS q_treated
        |  FROM qs WHERE t),
        |co AS (SELECT g, prob_micro, nn AS n_control, q AS q_control
        |  FROM qs WHERE NOT t)
        |SELECT g AS event_type, CAST(prob_micro AS BIGINT)
        |    AS prob_micro,
        |  n_treated, n_control, q_treated, q_control,
        |  q_treated - q_control AS diff
        |FROM tr FULL JOIN co USING (g, prob_micro)
        |ORDER BY 1, 2""".stripMargin),

    // End-to-end experiment chain: ONE plan composing the sequential
    // decision (q317), the power plan for the next test (q318) and the
    // median treatment effect (q319) per event type — the family's
    // composability demonstration, the q301 pattern
    Gate("q320_experiment_chain", (s, dir) => {
      val ev = valuedEvents(s, dir,
          least(expr("(unix_micros(ts) div 86400000000 - 19723) " +
            "div 6") + 1, lit(5L)).as("interim"),
          (col("user_id") % 2 === 0).as("treated"),
          (floor(col("value") * 1000 + 0.5).cast("long") > 34000L)
            .as("ok"),
          floor(col("value") * 1000 + 0.5).cast("long").as("vmil"))
      val gs = graft.ops.Profiling.groupSequential(ev, "event_type",
          "interim", "treated", "ok", totalInterims = 5)
        .groupBy(col("event_type"))
        .agg((max(when(col("crossed"), 1).otherwise(0)) === 1)
          .as("decided"),
          min(when(col("crossed"), col("interim"))).as("decided_at"))
      val pp = graft.ops.Profiling.powerPlan(ev, "event_type", "ok",
          Seq(20000L))
        .select(col("event_type"), col("n_baseline"),
          col("baseline_rate"), col("n_per_arm").as("n_per_arm_2pp"))
      val qe = graft.ops.Profiling.quantileTreatmentEffect(ev,
          "event_type", "treated", "vmil", Seq(500000L))
        .select(col("event_type"), col("diff").as("p50_diff"))
      pp.join(gs, Seq("event_type")).join(qe, Seq("event_type"))
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH ev AS (SELECT event_type AS g,
        |    LEAST((epoch_us(ts) // 86400000000 - 19723) // 6 + 1, 5)
        |      AS k,
        |    user_id % 2 = 0 AS t,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) > 34000 AS ok,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |gs_per AS (SELECT g, k,
        |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN t AND ok THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ka,
        |    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nb,
        |    CAST(SUM(CASE WHEN NOT t AND ok THEN 1 ELSE 0 END)
        |      AS BIGINT) AS kb
        |  FROM ev WHERE k BETWEEN 1 AND 5 GROUP BY 1, 2),
        |gs_cum AS (SELECT g, k,
        |    CAST(SUM(na) OVER w AS BIGINT) AS cna,
        |    CAST(SUM(ka) OVER w AS BIGINT) AS cka,
        |    CAST(SUM(nb) OVER w AS BIGINT) AS cnb,
        |    CAST(SUM(kb) OVER w AS BIGINT) AS ckb
        |  FROM gs_per WINDOW w AS (PARTITION BY g ORDER BY k
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |gs_m AS (SELECT g, k, cna, cnb,
        |    CAST(cka AS DOUBLE) / CAST(cna AS DOUBLE) AS pa,
        |    CAST(ckb AS DOUBLE) / CAST(cnb AS DOUBLE) AS pb,
        |    CAST(cka + ckb AS DOUBLE) / CAST(cna + cnb AS DOUBLE)
        |      AS pbar
        |  FROM gs_cum),
        |gs_c AS (SELECT g, k,
        |    CASE WHEN cna > 0 AND cnb > 0 AND pbar * (1.0 - pbar) *
        |        (1.0 / CAST(cna AS DOUBLE) + 1.0 / CAST(cnb AS DOUBLE))
        |        > 0
        |      THEN (pa - pb) * (pa - pb) / (pbar * (1.0 - pbar) *
        |        (1.0 / CAST(cna AS DOUBLE) + 1.0 / CAST(cnb AS DOUBLE)))
        |        >= (1.959964 * sqrt(5.0 / CAST(k AS DOUBLE))) *
        |           (1.959964 * sqrt(5.0 / CAST(k AS DOUBLE)))
        |      END AS crossed
        |  FROM gs_m),
        |gs AS (SELECT g,
        |    MAX(CASE WHEN crossed THEN 1 ELSE 0 END) = 1 AS decided,
        |    MIN(CASE WHEN crossed THEN k END) AS decided_at
        |  FROM gs_c GROUP BY 1),
        |pp_per AS (SELECT g, CAST(COUNT(1) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS kk
        |  FROM ev GROUP BY 1),
        |pp_c AS (SELECT g, n,
        |    CAST(kk AS DOUBLE) / CAST(n AS DOUBLE) AS p1,
        |    0.02 AS d
        |  FROM pp_per),
        |pp_e AS (SELECT g, n, p1, d, p1 + d AS p2,
        |    (p1 + (p1 + d)) / 2.0 AS pb FROM pp_c),
        |pp AS (SELECT g, n AS n_baseline,
        |    ROUND(p1, 6) AS baseline_rate,
        |    CASE WHEN p2 <= 1.0 THEN CAST(ceil(
        |      (1.959964 * sqrt(2.0 * pb * (1.0 - pb)) +
        |       0.841621 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))) *
        |      (1.959964 * sqrt(2.0 * pb * (1.0 - pb)) +
        |       0.841621 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))) /
        |      (d * d)) AS BIGINT) END AS n_per_arm_2pp
        |  FROM pp_e),
        |qe_hist AS (SELECT g, t, v, CAST(COUNT(1) AS BIGINT) AS c
        |  FROM ev GROUP BY 1, 2, 3),
        |qe_cum AS (SELECT g, t, v,
        |    CAST(SUM(c) OVER (PARTITION BY g, t ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cm,
        |    CAST(SUM(c) OVER (PARTITION BY g, t) AS BIGINT) AS n
        |  FROM qe_hist),
        |qe_q AS (SELECT g, t, MIN(v) AS q FROM qe_cum
        |  WHERE CAST(cm AS HUGEINT) * 1000000 >=
        |    CAST(500000 AS HUGEINT) * n
        |  GROUP BY 1, 2),
        |qe AS (SELECT g, qt - qc AS p50_diff
        |  FROM (SELECT g, q AS qt FROM qe_q WHERE t) tr
        |  FULL JOIN (SELECT g, q AS qc FROM qe_q WHERE NOT t) co
        |  USING (g))
        |SELECT pp.g AS event_type, pp.n_baseline, pp.baseline_rate,
        |  pp.n_per_arm_2pp, gs.decided, gs.decided_at, qe.p50_diff
        |FROM pp JOIN gs ON pp.g = gs.g JOIN qe ON pp.g = qe.g
        |ORDER BY 1""".stripMargin),

    // Brown–Forsythe spread test per event type: arm a is injected
    // with extra dispersion in 'error' events — the variance-
    // homogeneity check run before q288's ANOVA
    Gate("q321_levene", (s, dir) => {
      val ev = valuedEvents(s, dir,
          when(col("user_id") % 3 === 0, "a")
            .when(col("user_id") % 3 === 1, "b").otherwise("c")
            .as("variant"),
          (floor(col("value") * 100 + 0.5).cast("long") +
            when(col("user_id") % 3 === 0 &&
              col("event_type") === "error",
              (col("event_id") % 21) * 2000L - 20000L).otherwise(0L))
            .as("v"))
      graft.ops.Profiling.leveneTest(ev, "event_type", "variant", "v")
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    CASE user_id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b'
        |      ELSE 'c' END AS var,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) +
        |      (CASE WHEN user_id % 3 = 0 AND event_type = 'error'
        |        THEN (event_id % 21) * 2000 - 20000 ELSE 0 END) AS v
        |  FROM events WHERE value IS NOT NULL),
        |hist AS (SELECT g, var, v, CAST(COUNT(1) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2, 3),
        |cum AS (SELECT g, var, v,
        |    CAST(SUM(c) OVER (PARTITION BY g, var ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cm,
        |    CAST(SUM(c) OVER (PARTITION BY g, var) AS BIGINT) AS n
        |  FROM hist),
        |med AS (SELECT g, var, MIN(v) AS med FROM cum
        |  WHERE CAST(cm AS HUGEINT) * 2 >= n GROUP BY 1, 2),
        |zz AS (SELECT b.g, b.var, abs(b.v - med.med) AS v
        |  FROM b JOIN med ON b.g = med.g AND b.var = med.var),
        |pv AS (SELECT g, var, CAST(COUNT(1) AS HUGEINT) AS nv,
        |    SUM(CAST(v AS HUGEINT)) AS s,
        |    SUM(CAST(v AS HUGEINT) * v) AS q
        |  FROM zz GROUP BY 1, 2),
        |t AS (SELECT g, var, nv, s, nv * q - s * s AS sswn,
        |    CAST(s * s AS DOUBLE) / CAST(nv AS DOUBLE) AS tb,
        |    CAST(nv * q - s * s AS DOUBLE) / CAST(nv AS DOUBLE) AS tw
        |  FROM pv),
        |p AS (SELECT g, SUM(nv) AS n, CAST(COUNT(1) AS BIGINT) AS k,
        |    SUM(s) AS stot, SUM(sswn) AS sswx,
        |    list_reduce(list_transform(list_sort(
        |      list(struct_pack(v := var, tb := tb, tw := tw))),
        |      x -> x.tb), (a, b) -> a + b) AS tbsum,
        |    list_reduce(list_transform(list_sort(
        |      list(struct_pack(v := var, tb := tb, tw := tw))),
        |      x -> x.tw), (a, b) -> a + b) AS ssw
        |  FROM t GROUP BY 1),
        |z AS (SELECT g, n, k, sswx, ssw,
        |    tbsum - CAST(stot * stot AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS ssb,
        |    CAST(n AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd
        |  FROM p)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n, k,
        |  CASE WHEN k >= 2 AND n > k AND sswx > 0 THEN
        |    ROUND(ssb * (nd - kd) / (ssw * (kd - 1.0)), 6) END
        |    AS f_stat,
        |  CASE WHEN k >= 2 AND n > k AND sswx > 0 THEN
        |    ssb * (nd - kd) * 1000000.0 >= 2996000.0 * ssw * (kd - 1.0)
        |  END AS significant
        |FROM z ORDER BY 1""".stripMargin),

    // Dunn's post-hoc per event type: which arm pairs differ on the
    // pooled midranks, Bonferroni-guarded — arm b is injected with a
    // click-only shift so exactly its pairs flag there
    Gate("q322_dunn", (s, dir) => {
      val ev = valuedEvents(s, dir,
          when(col("user_id") % 3 === 0, "a")
            .when(col("user_id") % 3 === 1, "b").otherwise("c")
            .as("variant"),
          (floor(col("value") * 100 + 0.5).cast("long") +
            when(col("user_id") % 3 === 1 &&
              col("event_type") === "click", 2000L).otherwise(0L))
            .as("v"))
      graft.ops.Profiling.dunnTest(ev, "event_type", "variant", "v")
        .orderBy(col("event_type"), col("variant_a"),
          col("variant_b"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    CASE user_id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b'
        |      ELSE 'c' END AS var,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) +
        |      (CASE WHEN user_id % 3 = 1 AND event_type = 'click'
        |        THEN 2000 ELSE 0 END) AS v
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT g, v, COUNT(1) AS t FROM b GROUP BY 1, 2),
        |r AS (SELECT g, v, t,
        |    2 * COALESCE(SUM(t) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + t + 1 AS r2
        |  FROM h),
        |pv AS (SELECT b.g, b.var, CAST(COUNT(1) AS BIGINT) AS nv,
        |    SUM(CAST(r.r2 AS HUGEINT)) AS r2s
        |  FROM b JOIN r ON b.g = r.g AND b.v = r.v GROUP BY 1, 2),
        |st AS (SELECT g, CAST(SUM(t) AS BIGINT) AS n,
        |    SUM(CAST(t AS HUGEINT) * t * t - t) AS ts
        |  FROM r GROUP BY 1),
        |pr AS (SELECT a.g, a.var AS variant_a, bb.var AS variant_b,
        |    a.nv AS n_a, bb.nv AS n_b, a.r2s AS ra, bb.r2s AS rb
        |  FROM pv a JOIN pv bb ON a.g = bb.g AND a.var < bb.var),
        |c AS (SELECT pr.g, pr.variant_a, pr.variant_b, pr.n_a,
        |    pr.n_b, pr.ra, pr.rb,
        |    CAST(CAST(st.n AS HUGEINT) * (st.n + 1) AS DOUBLE) / 12.0 -
        |      CAST(st.ts AS DOUBLE) /
        |      (12.0 * (CAST(st.n AS DOUBLE) - 1.0)) AS vb
        |  FROM pr JOIN st ON pr.g = st.g),
        |zz AS (SELECT g, variant_a, variant_b, n_a, n_b, vb,
        |    (CAST(ra AS DOUBLE) / CAST(n_a AS DOUBLE) -
        |     CAST(rb AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |      sqrt(4.0 * vb * (1.0 / CAST(n_a AS DOUBLE) +
        |        1.0 / CAST(n_b AS DOUBLE))) AS z
        |  FROM c)
        |SELECT g AS event_type, variant_a, variant_b, n_a, n_b,
        |  CASE WHEN vb > 0 THEN ROUND(z, 6) END AS z,
        |  CASE WHEN vb > 0 THEN z * z >= 2.394 * 2.394 END
        |    AS significant
        |FROM zz ORDER BY 1, 2, 3""".stripMargin),

    // Friedman test per event type: three scorers' CONTINUOUS scores
    // ranked within each event — the score-valued twin of q310's
    // Cochran Q, same deterministic gaps
    Gate("q323_friedman", (s, dir) => {
      val ev = events(s, dir).filter(col("value").isNotNull)
      val scored = Seq(
        ev.filter((col("event_id") + 0) % 7 =!= 0)
          .select(col("event_type"), col("event_id"),
            lit("m0").as("model"),
            floor(col("value") * 1000 + 0.5).cast("long").as("score")),
        ev.filter((col("event_id") + 1) % 7 =!= 0)
          .select(col("event_type"), col("event_id"),
            lit("m1").as("model"),
            (floor(col("value") * 900 + 0.5).cast("long") +
              (col("user_id") % 10) * 500L).as("score")),
        ev.filter((col("event_id") + 2) % 7 =!= 0)
          .select(col("event_type"), col("event_id"),
            lit("m2").as("model"),
            (floor(col("value") * 1100 + 0.5).cast("long") -
              (col("user_id") % 5) * 300L).as("score")))
        .reduce(_ union _)
      graft.ops.Profiling.friedmanTest(scored, "event_type",
          "event_id", "model", "score")
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH e AS (SELECT event_type, event_id, user_id, value
        |  FROM events WHERE value IS NOT NULL),
        |b AS (
        |  SELECT event_type AS g, event_id AS blk, 'm0' AS mo,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
        |  FROM e WHERE (event_id + 0) % 7 <> 0
        |  UNION ALL
        |  SELECT event_type, event_id, 'm1',
        |    CAST(floor(value * 900 + 0.5) AS BIGINT) +
        |      (user_id % 10) * 500
        |  FROM e WHERE (event_id + 1) % 7 <> 0
        |  UNION ALL
        |  SELECT event_type, event_id, 'm2',
        |    CAST(floor(value * 1100 + 0.5) AS BIGINT) -
        |      (user_id % 5) * 300
        |  FROM e WHERE (event_id + 2) % 7 <> 0),
        |kp AS (SELECT g, CAST(COUNT(DISTINCT mo) AS BIGINT) AS k
        |  FROM b GROUP BY 1),
        |bs AS (SELECT g, blk, CAST(COUNT(1) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |dr AS (SELECT bs.g, CAST(SUM(CASE WHEN bs.c <> kp.k THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_incomplete
        |  FROM bs JOIN kp ON bs.g = kp.g GROUP BY 1),
        |comp AS (SELECT bs.g, bs.blk FROM bs JOIN kp ON bs.g = kp.g
        |  WHERE bs.c = kp.k),
        |rws AS (SELECT b.g, b.blk, b.mo, b.v FROM b
        |  JOIN comp ON b.g = comp.g AND b.blk = comp.blk),
        |h AS (SELECT g, blk, v, COUNT(1) AS t FROM rws GROUP BY 1, 2, 3),
        |r AS (SELECT g, blk, v,
        |    2 * COALESCE(SUM(t) OVER (PARTITION BY g, blk ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + t + 1 AS r2
        |  FROM h),
        |rr AS (SELECT rws.g, rws.blk, rws.mo, r.r2 FROM rws
        |  JOIN r ON rws.g = r.g AND rws.blk = r.blk AND rws.v = r.v),
        |pt AS (SELECT g, mo, SUM(CAST(r2 AS HUGEINT)) AS rj
        |  FROM rr GROUP BY 1, 2),
        |pg AS (SELECT g, SUM(CAST(r2 AS HUGEINT) * r2) AS a2,
        |    CAST(COUNT(DISTINCT blk) AS BIGINT) AS n_blocks
        |  FROM rr GROUP BY 1),
        |s2 AS (SELECT pt.g,
        |    SUM((pt.rj - CAST(pg.n_blocks AS HUGEINT) * (kp.k + 1)) *
        |        (pt.rj - CAST(pg.n_blocks AS HUGEINT) * (kp.k + 1)))
        |      AS s2
        |  FROM pt JOIN pg ON pt.g = pg.g JOIN kp ON pt.g = kp.g
        |  GROUP BY 1),
        |fin AS (SELECT dr.g, kp.k, pg.n_blocks, dr.n_incomplete,
        |    (CAST(kp.k AS HUGEINT) - 1) * s2.s2 AS num,
        |    pg.a2 - CAST(pg.n_blocks AS HUGEINT) * kp.k * (kp.k + 1) *
        |      (kp.k + 1) AS den
        |  FROM dr JOIN kp ON dr.g = kp.g
        |  LEFT JOIN pg ON dr.g = pg.g LEFT JOIN s2 ON dr.g = s2.g)
        |SELECT g AS event_type, k, COALESCE(n_blocks, 0) AS n_blocks,
        |  n_incomplete,
        |  CASE WHEN den > 0 THEN
        |    ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) END
        |    AS chi2,
        |  CASE WHEN den > 0 AND k - 1 = 2 THEN
        |    num * 1000000 >= 5991000 * den END AS significant
        |FROM fin ORDER BY 1""".stripMargin),

    // Rank effect sizes per event type: Cliff's delta + Vargha-Delaney
    // A for arms b/c vs control a — HOW MUCH the q322-style click
    // shift moves arm b, not just whether
    Gate("q324_rank_effect", (s, dir) => {
      val ev = valuedEvents(s, dir,
          when(col("user_id") % 3 === 0, "a")
            .when(col("user_id") % 3 === 1, "b").otherwise("c")
            .as("variant"),
          (floor(col("value") * 100 + 0.5).cast("long") +
            when(col("user_id") % 3 === 1 &&
              col("event_type") === "click", 2000L).otherwise(0L))
            .as("v"))
      graft.ops.Profiling.rankEffectSize(ev, "event_type", "variant",
          "v", control = "a")
        .orderBy(col("event_type"), col("variant"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    CASE user_id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b'
        |      ELSE 'c' END AS var,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) +
        |      (CASE WHEN user_id % 3 = 1 AND event_type = 'click'
        |        THEN 2000 ELSE 0 END) AS v
        |  FROM events WHERE value IS NOT NULL),
        |cells AS (SELECT g, var, v, CAST(COUNT(1) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2, 3),
        |vc AS (SELECT g, var, v, n FROM cells WHERE var <> 'a'),
        |cc AS (SELECT g, v AS vcv, n AS nc FROM cells
        |  WHERE var = 'a'),
        |per AS (SELECT vc.g, vc.var AS variant,
        |    SUM(CASE WHEN vc.v > cc.vcv
        |      THEN CAST(vc.n AS HUGEINT) * cc.nc ELSE 0 END) AS gt,
        |    SUM(CASE WHEN vc.v < cc.vcv
        |      THEN CAST(vc.n AS HUGEINT) * cc.nc ELSE 0 END) AS lt,
        |    SUM(CASE WHEN vc.v = cc.vcv
        |      THEN CAST(vc.n AS HUGEINT) * cc.nc ELSE 0 END) AS ti
        |  FROM vc JOIN cc ON vc.g = cc.g GROUP BY 1, 2),
        |nv AS (SELECT g, var AS variant,
        |    CAST(COUNT(1) AS BIGINT) AS n_variant
        |  FROM b WHERE var <> 'a' GROUP BY 1, 2),
        |nc2 AS (SELECT g, CAST(COUNT(1) AS BIGINT) AS n_control
        |  FROM b WHERE var = 'a' GROUP BY 1)
        |SELECT nv.g AS event_type, nv.variant, nv.n_variant,
        |  nc2.n_control,
        |  ROUND(CAST(gt - lt AS DOUBLE) /
        |    CAST(gt + lt + ti AS DOUBLE), 6) AS delta,
        |  ROUND(CAST(gt * 2 + ti AS DOUBLE) /
        |    CAST((gt + lt + ti) * 2 AS DOUBLE), 6) AS vda,
        |  CASE WHEN gt + lt + ti > 0 THEN
        |    CASE WHEN abs(gt - lt) * 1000 >= 474 * (gt + lt + ti)
        |      THEN 'large'
        |    WHEN abs(gt - lt) * 1000 >= 330 * (gt + lt + ti)
        |      THEN 'medium'
        |    WHEN abs(gt - lt) * 1000 >= 147 * (gt + lt + ti)
        |      THEN 'small'
        |    ELSE 'negligible' END END AS magnitude
        |FROM nv JOIN nc2 ON nv.g = nc2.g
        |  LEFT JOIN per ON nv.g = per.g AND nv.variant = per.variant
        |ORDER BY 1, 2""".stripMargin),

    // TOST equivalence per event type: is the user-parity "candidate"
    // the SAME as baseline within +/-1pp? positive evidence of
    // sameness, the non-inferiority gate for model swaps
    Gate("q325_equivalence", (s, dir) => {
      val ev = valuedEvents(s, dir,
          (col("user_id") % 2 === 0).as("cand"),
          (floor(col("value") * 1000 + 0.5).cast("long") > 34000L)
            .as("ok"))
      graft.ops.Profiling.equivalenceTest(ev, "event_type", "cand",
          "ok", marginMicro = 10000L)
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH per AS (SELECT event_type AS g,
        |    CAST(SUM(CASE WHEN NOT (user_id % 2 = 0) THEN 1 ELSE 0
        |      END) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN NOT (user_id % 2 = 0) AND
        |      CAST(floor(value * 1000 + 0.5) AS BIGINT) > 34000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS kb,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nc,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 AND
        |      CAST(floor(value * 1000 + 0.5) AS BIGINT) > 34000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS kc
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |m AS (SELECT g, nb, nc,
        |    CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE) AS pb,
        |    CAST(kc AS DOUBLE) / CAST(nc AS DOUBLE) AS pc
        |  FROM per),
        |t AS (SELECT g, nb, nc, pb, pc, pc - pb AS diff,
        |    sqrt(pb * (1.0 - pb) / CAST(nb AS DOUBLE) +
        |      pc * (1.0 - pc) / CAST(nc AS DOUBLE)) AS se
        |  FROM m)
        |SELECT g AS event_type, nb AS n_baseline, nc AS n_candidate,
        |  ROUND(pb, 6) AS rate_baseline, ROUND(pc, 6) AS rate_candidate,
        |  CASE WHEN nb > 0 AND nc > 0 THEN ROUND(diff, 6) END AS diff,
        |  CASE WHEN nb > 0 AND nc > 0 AND se > 0 THEN
        |    (diff + 0.01) / se >= 1.644854 END AS non_inferior,
        |  CASE WHEN nb > 0 AND nc > 0 AND se > 0 THEN
        |    (diff + 0.01) / se >= 1.644854 AND
        |    (0.01 - diff) / se >= 1.644854 END AS equivalent
        |FROM t ORDER BY 1""".stripMargin),

    // Fightin' words: which words distinguish English docs from the
    // rest, evidence-ranked by prior-shrunk log-odds z — the corpus
    // comparison that neither raw ratios nor chi2 keywords get right
    Gate("q326_log_odds", (s, dir) => {
      val d = docs(s, dir)
      Corpus.logOddsWords(d.filter(col("lang") === "en"),
          d.filter(col("lang") =!= "en"), "text", topK = 15)
        .orderBy(col("side"), col("word"))
    },
    oracle =
      """WITH wa AS (SELECT word, CAST(COUNT(1) AS BIGINT) AS n_a
        |  FROM (SELECT unnest(list_filter(
        |      regexp_split_to_array(lower(text), '\s+'),
        |      t -> length(t) > 0)) AS word
        |    FROM documents WHERE lang = 'en') GROUP BY 1),
        |wb AS (SELECT word, CAST(COUNT(1) AS BIGINT) AS n_b
        |  FROM (SELECT unnest(list_filter(
        |      regexp_split_to_array(lower(text), '\s+'),
        |      t -> length(t) > 0)) AS word
        |    FROM documents WHERE lang <> 'en') GROUP BY 1),
        |j AS (SELECT word, COALESCE(n_a, 0) AS n_a,
        |    COALESCE(n_b, 0) AS n_b
        |  FROM wa FULL JOIN wb USING (word)
        |  WHERE COALESCE(n_a, 0) + COALESCE(n_b, 0) >= 5),
        |tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
        |    CAST(SUM(n_b) AS BIGINT) AS tb FROM j),
        |sc AS (SELECT word, n_a, n_b,
        |    1.0 * CAST(n_a + n_b AS DOUBLE) /
        |      CAST(ta + tb AS DOUBLE) AS aw,
        |    ta, tb
        |  FROM j CROSS JOIN tot),
        |zt AS (SELECT word, n_a, n_b,
        |    ln((CAST(n_a AS DOUBLE) + aw) /
        |       (CAST(ta AS DOUBLE) + 1.0 - CAST(n_a AS DOUBLE) - aw))
        |    - ln((CAST(n_b AS DOUBLE) + aw) /
        |       (CAST(tb AS DOUBLE) + 1.0 - CAST(n_b AS DOUBLE) - aw))
        |      AS delta,
        |    aw
        |  FROM sc),
        |zz AS (SELECT word, n_a, n_b, delta,
        |    delta / sqrt(1.0 / (CAST(n_a AS DOUBLE) + aw) +
        |      1.0 / (CAST(n_b AS DOUBLE) + aw)) AS zr
        |  FROM zt),
        |ta2 AS (SELECT 'a' AS side, word, n_a, n_b,
        |    ROUND(delta, 6) AS delta, ROUND(zr, 6) AS z
        |  FROM zz ORDER BY zr DESC, word ASC LIMIT 15),
        |tb2 AS (SELECT 'b' AS side, word, n_a, n_b,
        |    ROUND(delta, 6) AS delta, ROUND(zr, 6) AS z
        |  FROM zz ORDER BY zr ASC, word ASC LIMIT 15)
        |SELECT * FROM (SELECT * FROM ta2 UNION ALL SELECT * FROM tb2)
        |ORDER BY side, word""".stripMargin),

    // Off-policy replay per event type: IPS/SNIPS value of a candidate
    // routing policy over logged propensities, with the matched-weight
    // ESS diagnostic
    Gate("q327_off_policy", (s, dir) => {
      val ev = valuedEvents(s, dir,
          (col("event_id") % 3 === 0).as("matched"),
          (lit(200000L) + (col("user_id") % 5) * 150000L)
            .as("p_micro"),
          floor(col("value") * 1000 + 0.5).cast("long").as("r_milli"))
      graft.ops.Profiling.offPolicyValue(ev, "event_type", "matched",
          "p_micro", "r_milli")
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g, event_id % 3 = 0 AS m,
        |    200000 + (user_id % 5) * 150000 AS p,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS r
        |  FROM events WHERE value IS NOT NULL),
        |per AS (SELECT g, CAST(COUNT(1) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_match,
        |    SUM(CASE WHEN m THEN CAST((r * 1000000) // p AS HUGEINT)
        |      ELSE 0 END) AS st,
        |    SUM(CASE WHEN m THEN CAST(1000000000000 // p AS HUGEINT)
        |      ELSE 0 END) AS sw,
        |    SUM(CASE WHEN m THEN CAST(1000000000000 // p AS HUGEINT) *
        |      (1000000000000 // p) ELSE 0 END) AS sw2
        |  FROM b WHERE p > 0 GROUP BY 1)
        |SELECT g AS event_type, n, n_match,
        |  ROUND(CAST(st AS DOUBLE) / CAST(n * 1000 AS DOUBLE), 6)
        |    AS ips,
        |  CASE WHEN sw > 0 THEN ROUND(CAST(st * 1000 AS DOUBLE) /
        |    CAST(sw AS DOUBLE), 6) END AS snips,
        |  CASE WHEN sw2 > 0 THEN ROUND(CAST(sw * sw AS DOUBLE) /
        |    CAST(sw2 AS DOUBLE), 6) END AS ess_matched
        |FROM per ORDER BY 1""".stripMargin),

    // Doubly-robust off-policy per event type: q327's replay hardened
    // with a (deliberately biased) reward model — the correction
    // column shows exactly what the model gets wrong
    Gate("q328_doubly_robust", (s, dir) => {
      val ev = valuedEvents(s, dir,
          (col("event_id") % 3 === 0).as("matched"),
          (lit(200000L) + (col("user_id") % 5) * 150000L)
            .as("p_micro"),
          floor(col("value") * 1000 + 0.5).cast("long").as("r_milli"),
          (floor(col("value") * 800 + 0.5).cast("long") +
            (col("user_id") % 7) * 100L).as("q_milli"))
      graft.ops.Profiling.doublyRobustValue(ev, "event_type",
          "matched", "p_micro", "r_milli", "q_milli")
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g, event_id % 3 = 0 AS m,
        |    200000 + (user_id % 5) * 150000 AS p,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS r,
        |    CAST(floor(value * 800 + 0.5) AS BIGINT) +
        |      (user_id % 7) * 100 AS q
        |  FROM events WHERE value IS NOT NULL),
        |per AS (SELECT g, CAST(COUNT(1) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_match,
        |    SUM(CAST(q AS HUGEINT)) AS sq,
        |    SUM(CASE WHEN m THEN
        |      CASE WHEN r >= q
        |        THEN CAST(((r - q) * 1000000) // p AS HUGEINT)
        |        ELSE -CAST(((q - r) * 1000000) // p AS HUGEINT) END
        |      ELSE 0 END) AS sc
        |  FROM b WHERE p > 0 GROUP BY 1)
        |SELECT g AS event_type, n, n_match,
        |  ROUND(CAST(sq AS DOUBLE) / CAST(n * 1000 AS DOUBLE), 6)
        |    AS dm,
        |  ROUND(CAST(sq + sc AS DOUBLE) / CAST(n * 1000 AS DOUBLE), 6)
        |    AS dr,
        |  ROUND(CAST(sc AS DOUBLE) / CAST(n * 1000 AS DOUBLE), 6)
        |    AS correction
        |FROM per ORDER BY 1""".stripMargin),

    // fixed-radius spatial self-join on a deterministic 12-blob planar
    // layout (grid-bucketed equi-join; the oracle brute-forces all
    // pairs, so the gate also PROVES grid completeness — no pair within
    // the radius can hide in a missed neighbor cell)
    Gate("q329_grid_radius_join", (s, dir) =>
      graft.ops.Spatial.gridRadiusJoin(spatialDocs(s, dir),
          "doc_id", "x", "y", radius = 8L)
        .orderBy(col("id_a"), col("id_b")),
    // brute-force all-pairs twin of the grid join: any pair the grid
    // missed (or double-counted) fails the diff
    oracle =
      s"""WITH $spatialDocsSql
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS BIGINT)
         |    AS dist2
         |FROM p a JOIN p b ON a.doc_id < b.doc_id
         |WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 64
         |ORDER BY id_a, id_b""".stripMargin),

    // DBSCAN over the same layout: core/border/noise roles + min-id
    // clusters; CC on core points only, border points attach to the
    // MINIMUM adjacent core cluster (deterministic, unlike classic
    // DBSCAN's arrival-order assignment)
    Gate("q330_dbscan", (s, dir) =>
      graft.ops.Spatial.dbscanLite(spatialDocs(s, dir),
          "doc_id", "x", "y", eps = 12L, minPts = 3)
        .orderBy(col("doc_id")),
    // brute-force DBSCAN: O(n²) neighbor counts, recursive-CTE CC over
    // core-core adjacency, min-cluster border attachment
    oracle =
      s"""WITH RECURSIVE $spatialDocsSql,
         |e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM p a JOIN p b ON a.doc_id < b.doc_id
         |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 144),
         |sym AS (SELECT id_a AS s, id_b AS d FROM e
         |  UNION ALL SELECT id_b, id_a FROM e),
         |deg AS (SELECT s AS id, COUNT(1) AS nb FROM sym GROUP BY 1),
         |lab AS (SELECT p.doc_id AS id, COALESCE(nb, 0) + 1 >= 3 AS core
         |  FROM p LEFT JOIN deg ON p.doc_id = deg.id),
         |ce AS (SELECT s, d FROM sym
         |  JOIN lab la ON la.id = sym.s AND la.core
         |  JOIN lab lb ON lb.id = sym.d AND lb.core),
         |cc(id, label) AS (
         |  SELECT id, id FROM lab WHERE core
         |  UNION
         |  SELECT ce.s, cc.label FROM ce JOIN cc ON cc.id = ce.d),
         |ccl AS (SELECT id, MIN(label) AS cl FROM cc GROUP BY 1),
         |bord AS (SELECT sym.s AS id, MIN(ccl.cl) AS bcl
         |  FROM sym JOIN ccl ON ccl.id = sym.d GROUP BY 1)
         |SELECT lab.id AS doc_id,
         |  CASE WHEN lab.core THEN 'core'
         |    WHEN bord.bcl IS NOT NULL THEN 'border'
         |    ELSE 'noise' END AS role,
         |  CASE WHEN lab.core THEN ccl.cl ELSE bord.bcl END AS cluster
         |FROM lab LEFT JOIN ccl ON ccl.id = lab.id
         |LEFT JOIN bord ON bord.id = lab.id
         |ORDER BY doc_id""".stripMargin),

    // grid hotspot detection over the event stream: 10% of events are
    // funneled into one 50×50 box; 3×3-smoothed density vs 3× the
    // uniform baseline, verdict by exact integer cross-multiplication
    Gate("q331_hotspots", (s, dir) => {
      val ev = events(s, dir).select(
        when(col("event_id") % 10 === 0,
          lit(100L) + expr("event_id div 10") % 50)
          .otherwise((col("user_id") * 7919) % 1000).as("x"),
        when(col("event_id") % 10 === 0,
          lit(200L) + expr("event_id div 7") % 50)
          .otherwise((col("event_id") * 104729) % 1000).as("y"))
      graft.ops.Spatial.spatialHotspots(ev, "x", "y", cellWidth = 50L)
        .orderBy(col("cell_x"), col("cell_y"))
    },
    oracle =
      """WITH pt AS (SELECT
        |  CASE WHEN event_id % 10 = 0 THEN 100 + (event_id // 10) % 50
        |    ELSE (user_id * 7919) % 1000 END AS x,
        |  CASE WHEN event_id % 10 = 0 THEN 200 + (event_id // 7) % 50
        |    ELSE (event_id * 104729) % 1000 END AS y
        |  FROM events),
        |cells AS (SELECT x // 50 AS cx, y // 50 AS cy,
        |    CAST(COUNT(1) AS BIGINT) AS n
        |  FROM pt GROUP BY 1, 2),
        |sm AS (SELECT c.cx + dx.o AS cx, c.cy + dy.o AS cy,
        |    CAST(SUM(n) AS BIGINT) AS nbhd_n
        |  FROM cells c, (VALUES (-1), (0), (1)) dx(o),
        |    (VALUES (-1), (0), (1)) dy(o)
        |  GROUP BY 1, 2),
        |g AS (SELECT CAST(COUNT(1) AS BIGINT) AS ncells,
        |    CAST(SUM(n) AS BIGINT) AS total FROM cells)
        |SELECT cells.cx AS cell_x, cells.cy AS cell_y, n, nbhd_n,
        |  CAST(nbhd_n AS HUGEINT) * ncells * 1000000 >=
        |    CAST(3000000 AS HUGEINT) * 9 * total AS hot
        |FROM cells JOIN sm ON sm.cx = cells.cx AND sm.cy = cells.cy
        |CROSS JOIN g
        |ORDER BY cell_x, cell_y""".stripMargin),

    // link prediction on the user↔item bipartite interaction graph
    // (distinct id spaces: users 0..198, items 199..595): top-100
    // non-adjacent pairs by common neighbors + exact integer-division
    // resource allocation, Jaccard as the exact pair
    Gate("q332_link_prediction", (s, dir) => {
      val ev = events(s, dir)
        .select((col("user_id") % 199).as("a"),
          (lit(199L) + col("event_id") % 397).as("b"))
      graft.ops.Graph.linkPrediction(ev, "a", "b", topK = 100)
    },
    oracle =
      """WITH e0 AS (SELECT DISTINCT user_id % 199 AS a,
        |    199 + event_id % 397 AS b FROM events),
        |und AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        |  FROM e0 WHERE a <> b),
        |sym AS (SELECT u AS n, v AS m FROM und
        |  UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT n, CAST(COUNT(1) AS BIGINT) AS d
        |  FROM sym GROUP BY 1),
        |zd AS (SELECT n AS z, d FROM deg WHERE d <= 10000),
        |cand AS (SELECT w1.n AS ia, w2.n AS ib,
        |    CAST(COUNT(1) AS BIGINT) AS common,
        |    CAST(SUM(1000000 // zd.d) AS BIGINT) AS ra_micro
        |  FROM sym w1 JOIN sym w2 ON w1.m = w2.m AND w1.n < w2.n
        |  JOIN zd ON zd.z = w1.m
        |  GROUP BY 1, 2),
        |nonadj AS (SELECT * FROM cand WHERE NOT EXISTS
        |  (SELECT 1 FROM und
        |   WHERE und.u = cand.ia AND und.v = cand.ib))
        |SELECT ia AS id_a, ib AS id_b, common, ra_micro,
        |  common AS jac_num, da.d + db.d - common AS jac_den
        |FROM nonadj JOIN deg da ON da.n = ia JOIN deg db ON db.n = ib
        |ORDER BY common DESC, ra_micro DESC, id_a, id_b
        |LIMIT 100""".stripMargin),

    // item-item co-occurrence recommender over the interaction log:
    // top-5 neighbors per item by exact squared-cosine micro-score
    Gate("q333_item_cooccurrence", (s, dir) => {
      val ev = events(s, dir)
        .select((col("user_id") % 400).as("u"),
          (col("event_id") % 97).as("i"))
      EventAnalytics.itemCooccurrence(ev, "u", "i", topK = 5)
        .orderBy(col("item"), col("rank"))
    },
    oracle =
      """WITH ui AS (SELECT DISTINCT user_id % 400 AS u,
        |    event_id % 97 AS i FROM events),
        |ku AS (SELECT u FROM ui GROUP BY u HAVING COUNT(1) <= 1000),
        |kept AS (SELECT ui.u, ui.i FROM ui JOIN ku USING (u)),
        |deg AS (SELECT i, CAST(COUNT(1) AS BIGINT) AS d
        |  FROM kept GROUP BY 1),
        |pairs AS (SELECT a.i AS ia, b.i AS ib,
        |    CAST(COUNT(1) AS BIGINT) AS n_co
        |  FROM kept a JOIN kept b ON a.u = b.u AND a.i < b.i
        |  GROUP BY 1, 2),
        |sym AS (SELECT ia, ib, n_co FROM pairs
        |  UNION ALL SELECT ib, ia, n_co FROM pairs),
        |sc AS (SELECT ia AS item, ib AS neighbor, n_co,
        |    CAST((CAST(n_co AS HUGEINT) * n_co * 1000000) //
        |      (CAST(da.d AS HUGEINT) * db.d) AS BIGINT) AS cos2_micro
        |  FROM sym JOIN deg da ON da.i = sym.ia
        |  JOIN deg db ON db.i = sym.ib)
        |SELECT item, neighbor, n_co, cos2_micro, rank FROM (
        |  SELECT sc.*, CAST(ROW_NUMBER() OVER (PARTITION BY item
        |    ORDER BY cos2_micro DESC, n_co DESC, neighbor)
        |    AS INTEGER) AS rank FROM sc) t
        |WHERE rank <= 5 ORDER BY item, rank""".stripMargin),

    // corpus BLEU per language: even docs submit their 30-word prefix
    // (high n-gram precision, BP < 1), odd docs the REVERSED prefix
    // (unigrams survive, higher orders collapse) — exercises clipping,
    // corpus pooling and the brevity penalty in one readout
    Gate("q334_bleu", (s, dir) => {
      val ws = regexp_extract_all(lower(col("text")),
        lit("[^\\s]+"), lit(0))
      val d = docs(s, dir).select(col("lang"), col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat_ws(" ", slice(ws, 1, 30)))
          .otherwise(concat_ws(" ", reverse(slice(ws, 1, 30))))
          .as("cand"),
        // 60-word reference prefix: everything the 30-word candidates
        // can match, at an eighth of the full-text gram volume
        concat_ws(" ", slice(ws, 1, 60)).as("ref"))
      TextAnalysis.bleu(d, "lang", "doc_id", "cand", "ref")
        .orderBy(col("lang"))
    },
    // clipped n-gram counts per (pair, n), corpus pooling, ln/exp
    // assembled on the identical exact integers
    oracle = {
      def side(tok: String, pre: String) =
        s"""${pre}g AS (SELECT lang, doc_id, n.n AS n,
           |    unnest(list_transform(
           |      range(1, greatest(len(w) - n.n + 2, 1)),
           |      i -> array_to_string(list_slice(w, i, i + n.n - 1),
           |        ' '))) AS g
           |  FROM $tok, (VALUES (1), (2), (3), (4)) n(n)),
           |${pre}c AS (SELECT lang, doc_id, n, g,
           |    CAST(COUNT(1) AS BIGINT) AS ${pre}n
           |  FROM ${pre}g GROUP BY ALL)""".stripMargin
      val logsum = (1 to 4).map(i =>
        s"ln(CAST(match_$i AS DOUBLE) / CAST(total_$i AS DOUBLE))")
        .mkString("(", " + ", ") / 4.0")
      val bpExpr = "CASE WHEN cand_len >= ref_len THEN 1.0 ELSE " +
        "exp(1.0 - CAST(ref_len AS DOUBLE) / CAST(cand_len AS DOUBLE)) END"
      val allPos = (1 to 4).map(i => s"total_$i > 0").mkString(" AND ")
      val anyZero = (1 to 4).map(i => s"match_$i = 0").mkString(" OR ")
      s"""WITH dtok AS (SELECT lang, doc_id,
         |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |      t -> length(t) > 0) AS w
         |  FROM documents),
         |ctok AS (SELECT lang, doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN list_slice(w, 1, 30)
         |      ELSE list_reverse(list_slice(w, 1, 30)) END AS w
         |  FROM dtok),
         |rtok AS (SELECT lang, doc_id, list_slice(w, 1, 60) AS w
         |  FROM dtok),
         |${side("ctok", "c")},
         |${side("rtok", "r")},
         |j AS (SELECT lang, doc_id, n,
         |    LEAST(COALESCE(cn, 0), COALESCE(rn, 0)) AS m,
         |    COALESCE(cn, 0) AS c, COALESCE(rn, 0) AS r
         |  FROM cc FULL JOIN rc USING (lang, doc_id, n, g)),
         |pern AS (SELECT lang, n, CAST(SUM(m) AS BIGINT) AS mt,
         |    CAST(SUM(c) AS BIGINT) AS tc, CAST(SUM(r) AS BIGINT) AS tr
         |  FROM j GROUP BY 1, 2),
         |wide AS (SELECT lang,
         |    ${"COALESCE(SUM(CASE WHEN n = 1 THEN tc END), 0) AS cand_len,"}
         |    COALESCE(SUM(CASE WHEN n = 1 THEN tr END), 0) AS ref_len,
         |    ${(1 to 4).map(i =>
                s"COALESCE(SUM(CASE WHEN n = $i THEN mt END), 0) AS match_$i, " +
                s"COALESCE(SUM(CASE WHEN n = $i THEN tc END), 0) AS total_$i")
                .mkString(",\n")}
         |  FROM pern GROUP BY 1),
         |wb AS (SELECT lang, CAST(cand_len AS BIGINT) AS cand_len,
         |    CAST(ref_len AS BIGINT) AS ref_len,
         |    ${(1 to 4).map(i =>
                s"CAST(match_$i AS BIGINT) AS match_$i, " +
                s"CAST(total_$i AS BIGINT) AS total_$i").mkString(",\n")}
         |  FROM wide),
         |np AS (SELECT lang, CAST(COUNT(1) AS BIGINT) AS n_pairs
         |  FROM documents GROUP BY 1)
         |SELECT np.lang, n_pairs, cand_len, ref_len,
         |  ${(1 to 4).map(i => s"match_$i, total_$i").mkString(", ")},
         |  CASE WHEN cand_len > 0 THEN ROUND($bpExpr, 6) END AS bp,
         |  CASE WHEN $allPos THEN
         |    CASE WHEN $anyZero THEN 0.0
         |      ELSE ROUND(($bpExpr) * exp($logsum), 6) END
         |  END AS bleu
         |FROM np LEFT JOIN wb USING (lang) ORDER BY lang""".stripMargin
    }),

    // Cohen's d / Hedges' g per event type vs the 'view' control —
    // type-length shifts inject known standardized effects
    Gate("q335_cohens_d", (s, dir) => {
      val ev = valuedEvents(s, dir,
          (floor(col("value") * 1000 + 0.5).cast("long") +
            length(col("event_type")) * 100L).as("y"))
      graft.ops.Profiling.cohensD(ev, "event_type", "y", "view")
        .orderBy(col("variant"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS v,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) +
        |      length(event_type) * 100 AS y
        |  FROM events WHERE value IS NOT NULL),
        |per AS (SELECT v, CAST(COUNT(1) AS BIGINT) AS n,
        |    SUM(CAST(y AS HUGEINT)) AS s,
        |    SUM(CAST(y AS HUGEINT) * y) AS q
        |  FROM b GROUP BY 1),
        |ctl AS (SELECT n AS cn, s AS cs, q AS cq
        |  FROM per WHERE v = 'view'),
        |t AS (SELECT v, n, s, q, cn, cs, cq,
        |    n * q - s * s AS ss1, cn * cq - cs * cs AS ss2,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) -
        |      CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE) AS md,
        |    (CAST(n * q - s * s AS DOUBLE) / CAST(n AS DOUBLE) +
        |     CAST(cn * cq - cs * cs AS DOUBLE) / CAST(cn AS DOUBLE)) /
        |      CAST(n + cn - 2 AS DOUBLE) AS sp2
        |  FROM per CROSS JOIN ctl),
        |d0 AS (SELECT v, n, s, ss1, ss2, cn, md / sqrt(sp2) AS d
        |  FROM t),
        |d1 AS (SELECT v, n, s, d,
        |    d * (1.0 - 3.0 / (4.0 * CAST(n + cn AS DOUBLE) - 9.0)) AS g,
        |    v <> 'view' AND n > 1 AND cn > 1 AND
        |      (ss1 > 0 OR ss2 > 0) AS ok
        |  FROM d0)
        |SELECT v AS variant, n,
        |  ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
        |  CASE WHEN ok THEN ROUND(d, 6) END AS d,
        |  CASE WHEN ok THEN ROUND(g, 6) END AS hedges_g,
        |  CASE WHEN ok THEN
        |    CASE WHEN abs(d) < 0.2 THEN 'negligible'
        |      WHEN abs(d) < 0.5 THEN 'small'
        |      WHEN abs(d) < 0.8 THEN 'medium'
        |      ELSE 'large' END END AS magnitude
        |FROM d1 ORDER BY 1""".stripMargin),

    // two-arm log-rank over day-granularity durations: treatment arm
    // (odd users) gets an event-id-spread duration shift; 1/3 of rows
    // censored — the whole-curve survival verdict
    Gate("q336_log_rank", (s, dir) => {
      val ev = events(s, dir)
        .select(
          (expr("unix_micros(ts) div 86400000000") - 19700L +
            when(col("user_id") % 2 === 1, col("event_id") % 5)
              .otherwise(lit(0L))).as("dur"),
          (col("event_id") % 3 =!= 0).as("ev"),
          when(col("user_id") % 2 === 0, lit("ctl"))
            .otherwise(lit("trt")).as("arm"))
      EventAnalytics.logRank(ev, "dur", "ev", "arm", "ctl")
    },
    oracle =
      """WITH b AS (SELECT
        |    (epoch_us(ts) // 86400000000) - 19700 +
        |      (CASE WHEN user_id % 2 = 1 THEN event_id % 5
        |        ELSE 0 END) AS t,
        |    event_id % 3 <> 0 AS e, user_id % 2 = 1 AS trt
        |  FROM events),
        |pert AS (SELECT t,
        |    CAST(SUM(CASE WHEN trt AND e THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d1,
        |    CAST(SUM(CASE WHEN NOT trt AND e THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d0,
        |    CAST(SUM(CASE WHEN trt THEN 1 ELSE 0 END) AS BIGINT) AS a1,
        |    CAST(SUM(CASE WHEN NOT trt THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a0
        |  FROM b GROUP BY 1),
        |tot AS (SELECT
        |    CAST(SUM(CASE WHEN trt THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN NOT trt THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n0
        |  FROM b),
        |risk AS (SELECT t, d1, d0,
        |    n1 - COALESCE(SUM(a1) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS r1,
        |    n0 - COALESCE(SUM(a0) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS r0
        |  FROM pert CROSS JOIN tot),
        |ev AS (SELECT * FROM risk WHERE d1 + d0 > 0),
        |terms AS (SELECT t,
        |    CAST(d1 AS DOUBLE) - CAST(d1 + d0 AS DOUBLE) *
        |      (CAST(r1 AS DOUBLE) / CAST(r1 + r0 AS DOUBLE)) AS oe,
        |    CASE WHEN r1 + r0 > 1 THEN
        |      CAST(d1 + d0 AS DOUBLE) *
        |        (CAST(r1 AS DOUBLE) / CAST(r1 + r0 AS DOUBLE)) *
        |        (1.0 - CAST(r1 AS DOUBLE) / CAST(r1 + r0 AS DOUBLE)) *
        |        ((CAST(r1 + r0 AS DOUBLE) - CAST(d1 + d0 AS DOUBLE)) /
        |          (CAST(r1 + r0 AS DOUBLE) - 1.0))
        |      ELSE 0.0 END AS v,
        |    d1 + d0 AS d
        |  FROM ev),
        |f AS (SELECT CAST(SUM(d) AS BIGINT) AS n_events,
        |    list_reduce(list_transform(list_sort(
        |      list(struct_pack(ft := t, oe := oe, v := v))),
        |      s -> s.oe), (a, b) -> a + b) AS osum,
        |    list_reduce(list_transform(list_sort(
        |      list(struct_pack(ft := t, oe := oe, v := v))),
        |      s -> s.v), (a, b) -> a + b) AS vsum
        |  FROM terms)
        |SELECT n1 AS n_treated, n0 AS n_control,
        |  COALESCE(n_events, 0) AS n_events,
        |  ROUND(osum, 6) AS o_minus_e, ROUND(vsum, 6) AS variance,
        |  CASE WHEN vsum > 0
        |    THEN ROUND(osum * osum / vsum, 6) END AS chi2,
        |  CASE WHEN vsum > 0 THEN
        |    osum * osum / vsum * 1000000.0 >= 3841000.0
        |  END AS significant
        |FROM f CROSS JOIN tot""".stripMargin),

    // post-stratified IPW ATE on a CONFOUNDED log: the bucket drives
    // both the treatment rate ((b%4+2)/10) and the outcome (+100·b),
    // the treatment adds +500 — stratification must recover ~500
    Gate("q337_ipw_ate", (s, dir) => {
      val ev = events(s, dir).filter(col("value").isNotNull)
        .select((col("user_id") % 10).as("b"),
          (col("event_id") % 10 < (col("user_id") % 10) % 4 + 2)
            .as("treated"),
          col("value"))
      val out = ev.select(col("b"), col("treated"),
        (floor(col("value") * 1000 + 0.5).cast("long") +
          col("b") * 100L +
          when(col("treated"), 500L).otherwise(0L)).as("y"))
      graft.ops.Profiling.ipwAte(out, "b", "treated", "y")
    },
    oracle =
      """WITH b0 AS (SELECT user_id % 10 AS b,
        |    (event_id % 10) < (user_id % 10) % 4 + 2 AS tr, value
        |  FROM events WHERE value IS NOT NULL),
        |b1 AS (SELECT b, tr,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) + b * 100 +
        |      CASE WHEN tr THEN 500 ELSE 0 END AS y
        |  FROM b0),
        |per AS (SELECT b, CAST(COUNT(1) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |    SUM(CASE WHEN tr THEN CAST(y AS HUGEINT)
        |      ELSE CAST(0 AS HUGEINT) END) AS st,
        |    SUM(CASE WHEN NOT tr THEN CAST(y AS HUGEINT)
        |      ELSE CAST(0 AS HUGEINT) END) AS sc
        |  FROM b1 GROUP BY 1),
        |t AS (SELECT b, n, nt, nt > 0 AND n - nt > 0 AS used,
        |    CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) AS mt,
        |    CAST(sc AS DOUBLE) / CAST(n - nt AS DOUBLE) AS mc
        |  FROM per),
        |f AS (SELECT
        |    CAST(SUM(CASE WHEN used THEN n ELSE 0 END) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN used THEN nt ELSE 0 END) AS BIGINT)
        |      AS n_treated,
        |    CAST(SUM(CASE WHEN used THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_buckets,
        |    CAST(SUM(CASE WHEN NOT used THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_buckets_dropped,
        |    CAST(SUM(CASE WHEN NOT used THEN n ELSE 0 END) AS BIGINT)
        |      AS n_dropped_rows,
        |    list_reduce(list_transform(list_sort(
        |      list(struct_pack(bb := CAST(b AS VARCHAR), n := n,
        |        d := mt - mc, mt := mt, mc := mc))
        |        FILTER (WHERE used)),
        |      x -> CAST(x.n AS DOUBLE) * x.d), (a, c) -> a + c) AS fa,
        |    list_reduce(list_transform(list_sort(
        |      list(struct_pack(bb := CAST(b AS VARCHAR), n := n,
        |        d := mt - mc, mt := mt, mc := mc))
        |        FILTER (WHERE used)),
        |      x -> CAST(x.n AS DOUBLE) * x.mt), (a, c) -> a + c) AS ft,
        |    list_reduce(list_transform(list_sort(
        |      list(struct_pack(bb := CAST(b AS VARCHAR), n := n,
        |        d := mt - mc, mt := mt, mc := mc))
        |        FILTER (WHERE used)),
        |      x -> CAST(x.n AS DOUBLE) * x.mc), (a, c) -> a + c) AS fc
        |  FROM t)
        |SELECT n, n_treated, n_buckets, n_buckets_dropped,
        |  n_dropped_rows,
        |  CASE WHEN n > 0
        |    THEN ROUND(fa / CAST(n AS DOUBLE), 6) END AS ate,
        |  CASE WHEN n > 0
        |    THEN ROUND(ft / CAST(n AS DOUBLE), 6) END AS treated_mean,
        |  CASE WHEN n > 0
        |    THEN ROUND(fc / CAST(n AS DOUBLE), 6) END AS control_mean
        |FROM f""".stripMargin),

    // forecast scorecard over the per-type daily count series with a
    // deterministic ±2 perturbation as the "forecast" and the weekly
    // seasonal-naive baseline
    Gate("q338_forecast_accuracy", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"),
          (expr("unix_micros(ts) div 86400000000") - 19700L).as("t"))
        .agg(count(lit(1)).as("a"))
      val d = daily.select(col("event_type"), col("t"), col("a"),
        (col("a") + col("t") % 5 - 2).as("f"))
      EventAnalytics.forecastAccuracy(d, "event_type", "t", "a", "f",
          season = 7)
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH daily AS (SELECT event_type AS k,
        |    (epoch_us(ts) // 86400000000) - 19700 AS t,
        |    CAST(COUNT(1) AS BIGINT) AS a
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT k, t, a, a + t % 5 - 2 AS f FROM daily),
        |per AS (SELECT k, CAST(COUNT(1) AS BIGINT) AS n,
        |    SUM(CAST(abs(a - f) AS HUGEINT)) AS se,
        |    CAST(SUM(CASE WHEN abs(a) + abs(f) > 0 THEN
        |      (2000000 * abs(a - f)) // (abs(a) + abs(f))
        |      ELSE 0 END) AS BIGINT) AS ss
        |  FROM d GROUP BY 1),
        |nv AS (SELECT cur.k, CAST(COUNT(1) AS BIGINT) AS n_naive,
        |    SUM(CAST(abs(cur.a - prev.a) AS HUGEINT)) AS sn
        |  FROM d cur JOIN d prev
        |    ON cur.k = prev.k AND cur.t = prev.t + 7
        |  GROUP BY 1)
        |SELECT per.k AS event_type, n,
        |  ROUND(CAST(se AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mae,
        |  ROUND(CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0),
        |    6) AS smape,
        |  COALESCE(n_naive, 0) AS n_naive,
        |  CASE WHEN n_naive > 0 AND sn > 0 THEN
        |    ROUND((CAST(se AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      (CAST(sn AS DOUBLE) / CAST(n_naive AS DOUBLE)), 6)
        |  END AS mase
        |FROM per LEFT JOIN nv ON per.k = nv.k ORDER BY 1""".stripMargin),

    // Ljung-Box whiteness test over the same daily series (lags 1..5):
    // is there ANY autocorrelation structure in per-type volume?
    Gate("q339_ljung_box", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"),
          (expr("unix_micros(ts) div 86400000000") - 19700L).as("t"))
        .agg(count(lit(1)).as("x"))
      EventAnalytics.ljungBox(daily, "event_type", "t", "x", maxLag = 5)
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH daily AS (SELECT event_type AS k,
        |    (epoch_us(ts) // 86400000000) - 19700 AS t,
        |    CAST(COUNT(1) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |mom AS (SELECT k, CAST(COUNT(1) AS BIGINT) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS s,
        |    SUM(CAST(x AS HUGEINT) * x) AS q0
        |  FROM daily GROUP BY 1),
        |pl AS (SELECT a.k, l.l AS lag, CAST(COUNT(1) AS BIGINT) AS m,
        |    SUM(CAST(a.x AS HUGEINT) * b.x) AS sxy,
        |    SUM(CAST(a.x AS HUGEINT)) AS sa,
        |    SUM(CAST(b.x AS HUGEINT)) AS sb
        |  FROM daily a
        |  JOIN (VALUES (1), (2), (3), (4), (5)) l(l) ON true
        |  JOIN daily b ON b.k = a.k AND b.t = a.t + l.l
        |  GROUP BY 1, 2),
        |t2 AS (SELECT pl.k, lag, m, n, s,
        |    CAST(n AS HUGEINT) * n * sxy -
        |      CAST(n AS HUGEINT) * s * (sa + sb) +
        |      CAST(m AS HUGEINT) * s * s AS ck,
        |    CAST(n AS HUGEINT) * n * q0 -
        |      CAST(n AS HUGEINT) * s * s AS c0
        |  FROM pl JOIN mom ON mom.k = pl.k),
        |tm AS (SELECT k, n, lag, c0 > 0 AS hasvar,
        |    CASE WHEN n - lag > 0 THEN
        |      (CAST(ck AS DOUBLE) / CAST(c0 AS DOUBLE)) *
        |        (CAST(ck AS DOUBLE) / CAST(c0 AS DOUBLE)) /
        |        CAST(n - lag AS DOUBLE) END AS term
        |  FROM t2),
        |f AS (SELECT k, n, bool_and(hasvar) AS hv,
        |    CAST(COUNT(term) AS BIGINT) AS nl,
        |    list_reduce(list_transform(list_sort(
        |      list(struct_pack(l := lag, t := term))),
        |      s -> COALESCE(s.t, 0.0)), (a, b) -> a + b) AS sm
        |  FROM tm GROUP BY 1, 2)
        |SELECT k AS event_type, n,
        |  CASE WHEN hv AND n > 5 AND nl = 5 THEN
        |    ROUND(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) * sm, 6)
        |  END AS q_stat,
        |  CASE WHEN hv AND n > 5 AND nl = 5 THEN
        |    CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) * sm *
        |      1000000.0 >= 11070000.0
        |  END AS significant
        |FROM f ORDER BY 1""".stripMargin),

    // Nelson-Aalen cumulative hazard over the q336 duration layout —
    // the additive twin of the q229 Kaplan-Meier curve
    Gate("q340_nelson_aalen", (s, dir) => {
      val ev = events(s, dir)
        .select(
          (expr("unix_micros(ts) div 86400000000") - 19700L +
            when(col("user_id") % 2 === 1, col("event_id") % 5)
              .otherwise(lit(0L))).as("dur"),
          (col("event_id") % 3 =!= 0).as("ev"))
      EventAnalytics.nelsonAalen(ev, "dur", "ev").orderBy(col("t"))
    },
    oracle =
      """WITH b AS (SELECT
        |    (epoch_us(ts) // 86400000000) - 19700 +
        |      (CASE WHEN user_id % 2 = 1 THEN event_id % 5
        |        ELSE 0 END) AS t,
        |    event_id % 3 <> 0 AS e
        |  FROM events),
        |p AS (SELECT t,
        |    CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_event,
        |    CAST(SUM(CASE WHEN e THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_censored
        |  FROM b GROUP BY 1),
        |tt AS (SELECT CAST(COUNT(1) AS BIGINT) AS total FROM b),
        |ar AS (SELECT t, n_event, n_censored,
        |    tt.total - COALESCE(SUM(n_event + n_censored) OVER (
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS n_risk
        |  FROM p CROSS JOIN tt),
        |hs AS (SELECT list(struct_pack(ft := t,
        |    h := CAST(n_event AS DOUBLE) / n_risk)
        |    ORDER BY t) AS l FROM ar)
        |SELECT ar.t, CAST(ar.n_risk AS BIGINT) AS n_risk, ar.n_event,
        |  ar.n_censored,
        |  ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(list_filter(hs.l, x -> x.ft <= ar.t),
        |      x -> x.h)), (a, b) -> a + b), 6) AS cum_hazard
        |FROM ar CROSS JOIN hs ORDER BY ar.t""".stripMargin),

    // partial correlation per event type: x and y both ride the
    // user-tier confounder z — r_xy reads strong, r_xy·z collapses
    Gate("q341_partial_corr", (s, dir) => {
      val ev = valuedEvents(s, dir,
          (floor(col("value") * 1000 + 0.5).cast("long") +
            (col("user_id") % 50) * 20L).as("x"),
          ((col("user_id") % 50) * 30L + col("event_id") % 13).as("y"),
          (col("user_id") % 50).as("z"))
      graft.ops.Profiling.partialCorr(ev, "event_type", "x", "y", "z")
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) +
        |      (user_id % 50) * 20 AS x,
        |    (user_id % 50) * 30 + event_id % 13 AS y,
        |    user_id % 50 AS z
        |  FROM events WHERE value IS NOT NULL),
        |m AS (SELECT g, CAST(COUNT(1) AS BIGINT) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx,
        |    SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(z AS HUGEINT)) AS sz,
        |    SUM(CAST(x AS HUGEINT) * x) AS qx,
        |    SUM(CAST(y AS HUGEINT) * y) AS qy,
        |    SUM(CAST(z AS HUGEINT) * z) AS qz,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * z) AS sxz,
        |    SUM(CAST(y AS HUGEINT) * z) AS syz
        |  FROM b GROUP BY 1),
        |r AS (SELECT g, n,
        |    n * qx - sx * sx AS vx, n * qy - sy * sy AS vy,
        |    n * qz - sz * sz AS vz,
        |    CAST(n * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(CAST(n * qx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(n * qy - sy * sy AS DOUBLE))) AS rxy,
        |    CAST(n * sxz - sx * sz AS DOUBLE) /
        |      (sqrt(CAST(n * qx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(n * qz - sz * sz AS DOUBLE))) AS rxz,
        |    CAST(n * syz - sy * sz AS DOUBLE) /
        |      (sqrt(CAST(n * qy - sy * sy AS DOUBLE)) *
        |       sqrt(CAST(n * qz - sz * sz AS DOUBLE))) AS ryz
        |  FROM m),
        |d AS (SELECT g, n, vx > 0 AND vy > 0 AND vz > 0 AS ok,
        |    rxy, rxz, ryz,
        |    sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) AS den
        |  FROM r)
        |SELECT g AS event_type, n,
        |  CASE WHEN ok THEN ROUND(rxy, 6) END AS r_xy,
        |  CASE WHEN ok THEN ROUND(rxz, 6) END AS r_xz,
        |  CASE WHEN ok THEN ROUND(ryz, 6) END AS r_yz,
        |  CASE WHEN ok AND den > 0.000001 THEN
        |    ROUND((rxy - rxz * ryz) / den, 6) END AS r_xy_given_z
        |FROM d ORDER BY 1""".stripMargin),

    // RFM segmentation of the user base: exact integer quintile tiles
    // over recency/frequency/monetary, inverted recency score
    Gate("q342_rfm", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          floor(col("value") * 1000 + 0.5).cast("long").as("v"))
      EventAnalytics.rfm(ev, "user_id", "tus", "v", nTiles = 5)
        .orderBy(col("user_id"))
    },
    oracle =
      """WITH per AS (SELECT user_id, MAX(epoch_us(ts)) AS last,
        |    CAST(COUNT(1) AS BIGINT) AS frequency,
        |    CAST(SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT))
        |      AS BIGINT) AS monetary
        |  FROM events GROUP BY 1),
        |g AS (SELECT CAST(COUNT(1) AS BIGINT) AS tot,
        |    MAX(last) AS gmax FROM per),
        |u AS (SELECT user_id, gmax - last AS recency, frequency,
        |    monetary, tot
        |  FROM per CROSS JOIN g),
        |rt AS (SELECT v AS recency, 1 + (COALESCE(SUM(c) OVER (
        |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    1 PRECEDING), 0) * 5) // t AS rtile
        |  FROM (SELECT recency AS v, CAST(COUNT(1) AS BIGINT) AS c,
        |    MAX(tot) AS t FROM u GROUP BY 1)),
        |ft AS (SELECT v AS frequency, 1 + (COALESCE(SUM(c) OVER (
        |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    1 PRECEDING), 0) * 5) // t AS ftile
        |  FROM (SELECT frequency AS v, CAST(COUNT(1) AS BIGINT) AS c,
        |    MAX(tot) AS t FROM u GROUP BY 1)),
        |mt AS (SELECT v AS monetary, 1 + (COALESCE(SUM(c) OVER (
        |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    1 PRECEDING), 0) * 5) // t AS mtile
        |  FROM (SELECT monetary AS v, CAST(COUNT(1) AS BIGINT) AS c,
        |    MAX(tot) AS t FROM u GROUP BY 1))
        |SELECT u.user_id, u.recency, u.frequency, u.monetary,
        |  CAST(6 - rtile AS BIGINT) AS r_score,
        |  CAST(ftile AS BIGINT) AS f_score,
        |  CAST(mtile AS BIGINT) AS m_score,
        |  CAST((6 - rtile) * 100 + ftile * 10 + mtile AS BIGINT)
        |    AS rfm_code
        |FROM u JOIN rt USING (recency) JOIN ft USING (frequency)
        |JOIN mt USING (monetary)
        |ORDER BY user_id""".stripMargin),

    // chrF over the q334 layout — char n-grams survive the reversed
    // word order far better than word BLEU (the metric's point)
    Gate("q343_chrf", (s, dir) => {
      val ws = regexp_extract_all(lower(col("text")),
        lit("[^\\s]+"), lit(0))
      val d = docs(s, dir).select(col("lang"), col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat_ws(" ", slice(ws, 1, 30)))
          .otherwise(concat_ws(" ", reverse(slice(ws, 1, 30))))
          .as("cand"),
        concat_ws(" ", slice(ws, 1, 60)).as("ref"))
      TextAnalysis.chrF(d, "lang", "doc_id", "cand", "ref")
        .orderBy(col("lang"))
    },
    // char-gram twin of the q334 oracle: substr windows over the
    // whitespace-stripped strings, order-skipping F2 fold
    oracle = {
      def side(tok: String, pre: String) =
        s"""${pre}g AS (SELECT lang, doc_id, n.n AS n,
           |    unnest(list_transform(
           |      range(1, greatest(length(s) - n.n + 2, 1)),
           |      i -> substr(s, i, n.n))) AS g
           |  FROM $tok, (VALUES (1), (2), (3), (4), (5), (6)) n(n)),
           |${pre}c AS (SELECT lang, doc_id, n, g,
           |    CAST(COUNT(1) AS BIGINT) AS ${pre}n
           |  FROM ${pre}g GROUP BY ALL)""".stripMargin
      val fCases = (1 to 6).map { i =>
        val p = s"CAST(match_$i AS DOUBLE) / CAST(totc_$i AS DOUBLE)"
        val r = s"CAST(match_$i AS DOUBLE) / CAST(totr_$i AS DOUBLE)"
        val usable = s"totc_$i > 0 AND totr_$i > 0"
        val f = s"CASE WHEN match_$i > 0 THEN " +
          s"5.0 * ($p) * ($r) / (4.0 * ($p) + ($r)) ELSE 0.0 END"
        (usable, f)
      }
      val nUsable = fCases.map { case (u, _) =>
        s"(CASE WHEN $u THEN 1.0 ELSE 0.0 END)" }.mkString(" + ")
      val fSum = fCases.map { case (u, f) =>
        s"(CASE WHEN $u THEN $f ELSE 0.0 END)" }.mkString(" + ")
      s"""WITH dtok AS (SELECT lang, doc_id,
         |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |      t -> length(t) > 0) AS w
         |  FROM documents),
         |ctok AS (SELECT lang, doc_id, regexp_replace(lower(
         |    CASE WHEN doc_id % 2 = 0
         |      THEN array_to_string(list_slice(w, 1, 30), ' ')
         |      ELSE array_to_string(
         |        list_reverse(list_slice(w, 1, 30)), ' ') END),
         |    '\\s+', '', 'g') AS s
         |  FROM dtok),
         |rtok AS (SELECT lang, doc_id, regexp_replace(lower(
         |    array_to_string(list_slice(w, 1, 60), ' ')),
         |    '\\s+', '', 'g') AS s
         |  FROM dtok),
         |${side("ctok", "c")},
         |${side("rtok", "r")},
         |j AS (SELECT lang, doc_id, n,
         |    LEAST(COALESCE(cn, 0), COALESCE(rn, 0)) AS m,
         |    COALESCE(cn, 0) AS c, COALESCE(rn, 0) AS r
         |  FROM cc FULL JOIN rc USING (lang, doc_id, n, g)),
         |pern AS (SELECT lang, n, CAST(SUM(m) AS BIGINT) AS mt,
         |    CAST(SUM(c) AS BIGINT) AS tc, CAST(SUM(r) AS BIGINT) AS tr
         |  FROM j GROUP BY 1, 2),
         |wide AS (SELECT lang,
         |    ${(1 to 6).map(i =>
              s"CAST(COALESCE(SUM(CASE WHEN n = $i THEN mt END), 0) AS BIGINT) AS match_$i, " +
              s"CAST(COALESCE(SUM(CASE WHEN n = $i THEN tc END), 0) AS BIGINT) AS totc_$i, " +
              s"CAST(COALESCE(SUM(CASE WHEN n = $i THEN tr END), 0) AS BIGINT) AS totr_$i")
              .mkString(",\n")}
         |  FROM pern GROUP BY 1),
         |np AS (SELECT lang, CAST(COUNT(1) AS BIGINT) AS n_pairs
         |  FROM documents GROUP BY 1)
         |SELECT np.lang, n_pairs,
         |  ${(1 to 6).map(i => s"match_$i, totc_$i, totr_$i")
              .mkString(", ")},
         |  CASE WHEN ($nUsable) > 0 THEN
         |    ROUND(($fSum) / ($nUsable), 6) END AS chrf
         |FROM np LEFT JOIN wide USING (lang) ORDER BY lang""".stripMargin
    }),

    // 10%-trimmed mean of event value per type — the whale-proof
    // location readout, exact interval-overlap trim off the histogram
    Gate("q344_trimmed_mean", (s, dir) => {
      val ev = valuedEvents(s, dir,
          floor(col("value") * 1000 + 0.5).cast("long").as("v"))
      graft.ops.Profiling.trimmedMean(ev, "event_type", "v")
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT g, v, CAST(COUNT(1) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(COUNT(1) AS BIGINT) AS n,
        |    SUM(CAST(v AS HUGEINT)) AS s
        |  FROM b GROUP BY 1),
        |wc AS (SELECT h.g, v, c, n, s,
        |    COALESCE(SUM(c) OVER (PARTITION BY h.g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cb,
        |    (n * 100000) // 1000000 AS k
        |  FROM h JOIN tot ON tot.g = h.g),
        |kept AS (SELECT g, n, s, k, v,
        |    CASE WHEN LEAST(cb + c, n - k) > GREATEST(cb, k)
        |      THEN LEAST(cb + c, n - k) - GREATEST(cb, k)
        |      ELSE 0 END AS kc
        |  FROM wc)
        |SELECT g AS event_type, n, CAST(SUM(kc) AS BIGINT) AS n_used,
        |  CASE WHEN SUM(kc) > 0 THEN
        |    ROUND(CAST(SUM(CAST(kc AS HUGEINT) * v) AS DOUBLE) /
        |      CAST(SUM(kc) AS DOUBLE), 6) END AS trimmed_mean,
        |  ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean
        |FROM kept GROUP BY g, n, s, k ORDER BY 1""".stripMargin),

    // empirical-Bayes smoothed pass rates per (type, user-bucket):
    // corpus-fitted beta prior, small buckets shrink to the mean
    Gate("q345_eb_shrink", (s, dir) => {
      val ev = valuedEvents(s, dir, (col("user_id") % 100).as("item"),
          (floor(col("value") * 1000 + 0.5).cast("long") > 34000L)
            .as("ok"))
      graft.ops.Profiling.ebShrinkRates(ev, "event_type", "item", "ok")
        .orderBy(col("event_type"), col("item"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g, user_id % 100 AS item,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) > 34000 AS ok
        |  FROM events WHERE value IS NOT NULL),
        |per AS (SELECT g, item, CAST(COUNT(1) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM b GROUP BY 1, 2),
        |pr AS (SELECT per.*, (k * 1000000) // n AS r FROM per),
        |prior AS (SELECT g, CAST(COUNT(1) AS BIGINT) AS cnt,
        |    SUM(CAST(r AS HUGEINT)) AS sr,
        |    SUM(CAST(r AS HUGEINT) * r) AS qr
        |  FROM pr GROUP BY 1),
        |pj AS (SELECT pr.g, pr.item, pr.k, pr.n, cnt, sr, qr,
        |    CAST(sr AS DOUBLE) / (CAST(cnt AS DOUBLE) * 1000000.0)
        |      AS m,
        |    CAST(cnt * qr - sr * sr AS DOUBLE) /
        |      CAST(cnt * cnt * (cnt - 1) AS DOUBLE) / 1e12 AS v,
        |    cnt * qr - sr * sr AS vnum
        |  FROM pr JOIN prior ON prior.g = pr.g),
        |ab AS (SELECT g, item, k, n, m, v,
        |    m * (1.0 - m) / v - 1.0 AS apb,
        |    cnt > 1 AND vnum > 0 AND v < m * (1.0 - m) AND
        |      m > 0 AND m < 1 AS okc
        |  FROM pj)
        |SELECT g AS event_type, item, k, n,
        |  ROUND(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
        |  CASE WHEN okc THEN
        |    ROUND((CAST(k AS DOUBLE) + m * apb) /
        |      (CAST(n AS DOUBLE) + m * apb + (1.0 - m) * apb), 6)
        |  END AS shrunk_rate
        |FROM ab ORDER BY event_type, item""".stripMargin),

    // nearest neighbor within radius 8 on the q329 layout — brute-force
    // oracle again proves the grid candidates were complete
    Gate("q346_fixed_radius_nn", (s, dir) =>
      graft.ops.Spatial.fixedRadiusNN(spatialDocs(s, dir),
          "doc_id", "x", "y", radius = 8L)
        .orderBy(col("doc_id")),
    oracle =
      s"""WITH $spatialDocsSql,
         |pr AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
         |    (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS d2
         |  FROM p a JOIN p b ON a.doc_id <> b.doc_id
         |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 64),
         |sel AS (SELECT ia, ib, d2 FROM pr
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY ia
         |    ORDER BY d2, ib) = 1)
         |SELECT p.doc_id, sel.ib AS nn_id,
         |  CAST(sel.d2 AS BIGINT) AS nn_dist2
         |FROM p LEFT JOIN sel ON sel.ia = p.doc_id
         |ORDER BY doc_id""".stripMargin),

    // quantile normalization of event values ACROSS types: each row
    // maps to the global value at its within-type percentile
    Gate("q347_quantile_normalize", (s, dir) => {
      val ev = valuedEvents(s, dir,
          floor(col("value") * 1000 + 0.5).cast("long").as("v"))
      graft.ops.Profiling.quantileNormalize(ev, "event_type", "v")
        .orderBy(col("event_type"), col("v"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT g, v, CAST(COUNT(1) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |hg AS (SELECT g, v, SUM(c) OVER (PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl
        |  FROM h),
        |ng AS (SELECT g, CAST(COUNT(1) AS BIGINT) AS ngn
        |  FROM b GROUP BY 1),
        |nn AS (SELECT CAST(COUNT(1) AS BIGINT) AS n FROM b),
        |q AS (SELECT hg.g, hg.v,
        |    CAST((cl * 1000000) // ngn AS BIGINT) AS p_micro,
        |    (cl * n + ngn - 1) // ngn AS gr
        |  FROM hg JOIN ng USING (g) CROSS JOIN nn),
        |gh AS (SELECT v AS vg, SUM(c2) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS clg
        |  FROM (SELECT v, CAST(COUNT(1) AS BIGINT) AS c2
        |    FROM b GROUP BY 1)),
        |mp AS (SELECT q.g, q.v, q.p_micro,
        |    CAST(MIN(gh.vg) AS BIGINT) AS norm_value
        |  FROM q JOIN gh ON gh.clg >= q.gr GROUP BY 1, 2, 3)
        |SELECT b.g AS event_type, b.v AS v, mp.p_micro, mp.norm_value
        |FROM b JOIN mp ON mp.g = b.g AND mp.v = b.v
        |ORDER BY event_type, b.v""".stripMargin),

    // Holt double-exponential smoothing over the per-type daily series:
    // final level/trend state + one-step forecast (the baseline q338
    // scores); textbook l1=y1, b1=y2-y1 init, alpha=0.3 beta=0.1
    Gate("q348_holt", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"),
          (expr("unix_micros(ts) div 86400000000") - 19700L).as("t"))
        .agg(count(lit(1)).as("v"))
      EventAnalytics.holt(daily, "event_type", "t", "v",
          alpha = 0.3, beta = 0.1)
        .orderBy(col("event_type"))
    },
    // recursive-CTE replay of the Holt fold; (1.0 - 0.3)/(1.0 - 0.1)
    // are written as SUBTRACTIONS so both engines round the constant
    // identically (a literal 0.7 is a different double from 1.0-0.3)
    oracle =
      """WITH RECURSIVE daily AS (SELECT event_type AS k,
        |    (epoch_us(ts) // 86400000000) - 19700 AS t,
        |    CAST(COUNT(1) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT k, CAST(c AS DOUBLE) AS v,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY k ORDER BY t)
        |      AS BIGINT) AS rn
        |  FROM daily),
        |nn AS (SELECT k, CAST(COUNT(1) AS BIGINT) AS n
        |  FROM s GROUP BY 1),
        |h(k, rn, l, b) AS (
        |  SELECT a.k, CAST(2 AS BIGINT),
        |    0.3 * b2.v + (1.0 - 0.3) * (a.v + (b2.v - a.v)),
        |    0.1 * ((0.3 * b2.v + (1.0 - 0.3) * (a.v + (b2.v - a.v)))
        |      - a.v) + (1.0 - 0.1) * (b2.v - a.v)
        |  FROM s a JOIN s b2 ON b2.k = a.k AND b2.rn = 2
        |  WHERE a.rn = 1
        |  UNION ALL
        |  SELECT h.k, h.rn + 1,
        |    0.3 * s.v + (1.0 - 0.3) * (h.l + h.b),
        |    0.1 * ((0.3 * s.v + (1.0 - 0.3) * (h.l + h.b)) - h.l)
        |      + (1.0 - 0.1) * h.b
        |  FROM h JOIN s ON s.k = h.k AND s.rn = h.rn + 1)
        |SELECT nn.k AS event_type, nn.n,
        |  ROUND(h.l, 6) AS level, ROUND(h.b, 6) AS trend,
        |  ROUND(h.l + h.b, 6) AS forecast
        |FROM nn JOIN h ON h.k = nn.k AND h.rn = nn.n
        |ORDER BY event_type""".stripMargin),

    // restricted mean survival time over the q336 duration layout:
    // area under the KM curve up to day 20
    Gate("q349_rmst", (s, dir) => {
      val ev = events(s, dir)
        .select(
          (expr("unix_micros(ts) div 86400000000") - 19700L +
            when(col("user_id") % 2 === 1, col("event_id") % 5)
              .otherwise(lit(0L))).as("dur"),
          (col("event_id") % 3 =!= 0).as("ev"))
      EventAnalytics.rmst(ev, "dur", "ev", tau = 20L)
    },
    // KM survival replay + recursive step integral up to the horizon
    oracle =
      """WITH RECURSIVE b AS (SELECT
        |    (epoch_us(ts) // 86400000000) - 19700 +
        |      (CASE WHEN user_id % 2 = 1 THEN event_id % 5
        |        ELSE 0 END) AS t,
        |    event_id % 3 <> 0 AS e
        |  FROM events),
        |p AS (SELECT t,
        |    CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_event,
        |    CAST(SUM(CASE WHEN e THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_censored
        |  FROM b GROUP BY 1),
        |tt AS (SELECT CAST(COUNT(1) AS BIGINT) AS total,
        |    CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_events
        |  FROM b),
        |ar AS (SELECT t, n_event, n_censored,
        |    tt.total - COALESCE(SUM(n_event + n_censored) OVER (
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS n_risk
        |  FROM p CROSS JOIN tt),
        |fs AS (SELECT list(struct_pack(ft := t,
        |    f := CAST(1 AS DOUBLE) - CAST(n_event AS DOUBLE) / n_risk)
        |    ORDER BY t) AS l FROM ar),
        |sv AS (SELECT ar.t,
        |    ROUND(list_reduce(list_prepend(CAST(1 AS DOUBLE),
        |      list_transform(list_filter(fs.l, x -> x.ft <= ar.t),
        |        x -> x.f)), (a, c) -> a * c), 6) AS s
        |  FROM ar CROSS JOIN fs),
        |g AS (SELECT t, s,
        |    CAST(ROW_NUMBER() OVER (ORDER BY t) AS BIGINT) AS rn
        |  FROM sv),
        |cnt AS (SELECT CAST(COUNT(1) AS BIGINT) AS m FROM g),
        |r(rn, pt, ps, acc) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |    CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)
        |  UNION ALL
        |  SELECT g.rn, g.t, g.s,
        |    r.acc + r.ps *
        |      CAST(LEAST(g.t, 20) - LEAST(r.pt, 20) AS DOUBLE)
        |  FROM r JOIN g ON g.rn = r.rn + 1),
        |fin AS (SELECT r.pt, r.ps, r.acc
        |  FROM r JOIN cnt ON r.rn = cnt.m)
        |SELECT tt.total AS n, tt.n_events, CAST(20 AS BIGINT) AS tau,
        |  ROUND(fin.acc + fin.ps *
        |    CAST(GREATEST(20 - fin.pt, 0) AS DOUBLE), 6) AS rmst
        |FROM fin CROSS JOIN tt""".stripMargin),

    // classical additive decomposition of the per-type daily series at
    // the weekly period: y = trend + seasonal + remainder
    Gate("q350_seasonal_decompose", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"),
          (expr("unix_micros(ts) div 86400000000") - 19700L).as("t"))
        .agg(count(lit(1)).as("v"))
      EventAnalytics.seasonalDecompose(daily, "event_type", "t", "v",
          period = 7)
        .orderBy(col("event_type"), col("t"))
    },
    oracle =
      """WITH daily AS (SELECT event_type AS k,
        |    (epoch_us(ts) // 86400000000) - 19700 AS t,
        |    CAST(COUNT(1) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |off AS (SELECT * FROM (VALUES (-3, 2), (-2, 2), (-1, 2),
        |    (0, 2), (1, 2), (2, 2), (3, 2)) o(j, w2)),
        |contrib AS (SELECT k, t - j AS t, w2 * y AS c, w2 AS w
        |  FROM daily CROSS JOIN off),
        |tr AS (SELECT k, t, CAST(SUM(c) AS BIGINT) AS num2,
        |    CAST(SUM(w) AS BIGINT) AS wsum
        |  FROM contrib GROUP BY 1, 2),
        |wt AS (SELECT d.k, d.t, d.y, tr.num2,
        |    tr.wsum = 14 AS isfull,
        |    CASE WHEN tr.wsum = 14 THEN 14 * d.y - tr.num2 END AS detr
        |  FROM daily d LEFT JOIN tr ON tr.k = d.k AND tr.t = d.t),
        |ph AS (SELECT k, t % 7 AS ph,
        |    SUM(CAST(detr AS HUGEINT)) AS sd,
        |    CAST(COUNT(1) AS BIGINT) AS cnt
        |  FROM wt WHERE isfull GROUP BY 1, 2),
        |pj AS (SELECT k, ph,
        |    CAST(sd AS DOUBLE) / (CAST(cnt AS DOUBLE) * 14.0) AS sj
        |  FROM ph),
        |sb AS (SELECT k,
        |    list_reduce(list_transform(list_sort(
        |      list(struct_pack(ph := ph, s := sj))), x -> x.s),
        |      (a, b) -> a + b) / CAST(COUNT(1) AS DOUBLE) AS sbar
        |  FROM pj GROUP BY 1),
        |se AS (SELECT pj.k, pj.ph, pj.sj - sb.sbar AS seas
        |  FROM pj JOIN sb ON sb.k = pj.k)
        |SELECT wt.k AS event_type, wt.t, wt.y AS v,
        |  CASE WHEN wt.isfull
        |    THEN ROUND(CAST(num2 AS DOUBLE) / 14.0, 6) END AS trend,
        |  ROUND(se.seas, 6) AS seasonal,
        |  CASE WHEN wt.isfull AND se.seas IS NOT NULL THEN
        |    ROUND(CAST(wt.y AS DOUBLE) -
        |      CAST(num2 AS DOUBLE) / 14.0 - se.seas, 6)
        |  END AS remainder
        |FROM wt LEFT JOIN se ON se.k = wt.k AND se.ph = wt.t % 7
        |ORDER BY event_type, t""".stripMargin),

    // isotonic (PAV) calibration of the score→pass-rate curve per
    // event type: ~29 score levels, user-noise makes the empirical
    // rates wiggle so real violators get pooled; the oracle replays
    // the fit through the MINIMAX formula — two entirely different
    // algorithms must agree to 6dp on every level
    Gate("q351_isotonic", (s, dir) => {
      val milli = floor(col("value") * 1000 + 0.5).cast("long")
      val ev = valuedEvents(s, dir,
          expr("cast(floor(value * 1000 + 0.5) as bigint) div 20000")
            .as("score"),
          (milli + (col("user_id") % 7) * 3000L > 35000L).as("ok"))
      graft.ops.Profiling.isotonicCalibration(ev, "event_type",
          "score", "ok")
        .orderBy(col("event_type"), col("score"))
    },
    // the minimax characterization of the isotonic fit,
    // fit_i = max_{j<=i} min_{l>=i} mean(j..l) — an O(L³) brute force
    // over the score grid that must equal the Spark side's O(L) PAV
    // stack exactly (both are single divisions of the same exact
    // integers; IEEE division is correctly rounded, so equal rationals
    // print equal doubles)
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) // 20000 AS s,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) +
        |      (user_id % 7) * 3000 > 35000 AS ok
        |  FROM events WHERE value IS NOT NULL),
        |grid AS (SELECT g, s,
        |    CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS k,
        |    CAST(COUNT(1) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2),
        |rg AS (SELECT g, s, k, n,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY s)
        |      AS BIGINT) AS rn,
        |    SUM(k) OVER (PARTITION BY g ORDER BY s
        |      ROWS UNBOUNDED PRECEDING) AS pk,
        |    SUM(n) OVER (PARTITION BY g ORDER BY s
        |      ROWS UNBOUNDED PRECEDING) AS pn
        |  FROM grid),
        |mn AS (SELECT i.g, i.rn AS i, j.rn AS j,
        |    MIN(CAST(l.pk - j.pk + j.k AS DOUBLE) /
        |        CAST(l.pn - j.pn + j.n AS DOUBLE)) AS mi
        |  FROM rg i JOIN rg j ON j.g = i.g AND j.rn <= i.rn
        |  JOIN rg l ON l.g = i.g AND l.rn >= i.rn
        |  GROUP BY 1, 2, 3),
        |fit AS (SELECT g, i, MAX(mi) AS f FROM mn GROUP BY 1, 2)
        |SELECT rg.g AS event_type, rg.s AS score, rg.k, rg.n,
        |  ROUND(fit.f, 6) AS fit
        |FROM rg JOIN fit ON fit.g = rg.g AND fit.i = rg.rn
        |ORDER BY event_type, score""".stripMargin),

    // 10%-winsorized mean per type — q344's clamping sibling (tails
    // pin to the boundary order statistics, n stays n)
    Gate("q352_winsorized_mean", (s, dir) => {
      val ev = valuedEvents(s, dir,
          floor(col("value") * 1000 + 0.5).cast("long").as("v"))
      graft.ops.Profiling.winsorizedMean(ev, "event_type", "v")
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT g, v, CAST(COUNT(1) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(COUNT(1) AS BIGINT) AS n,
        |    SUM(CAST(v AS HUGEINT)) AS s
        |  FROM b GROUP BY 1),
        |cum AS (SELECT h.g, v, c, n, s,
        |    SUM(c) OVER (PARTITION BY h.g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl,
        |    (n * 100000) // 1000000 AS k
        |  FROM h JOIN tot ON tot.g = h.g),
        |bd AS (SELECT g, n, s, k,
        |    MIN(CASE WHEN cl >= k + 1 THEN v END) AS lo,
        |    MIN(CASE WHEN cl >= n - k THEN v END) AS hi
        |  FROM cum GROUP BY 1, 2, 3, 4),
        |mass AS (SELECT cum.g, cum.n, cum.s, bd.lo, bd.hi, cum.v,
        |    LEAST(cl, cum.k) - LEAST(cl - c, cum.k) AS mb,
        |    GREATEST(cl, cum.n - cum.k) -
        |      GREATEST(cl - c, cum.n - cum.k) AS ma,
        |    c AS cc
        |  FROM cum JOIN bd ON bd.g = cum.g)
        |SELECT g AS event_type, n, lo, hi,
        |  ROUND(CAST(SUM(CAST(mb AS HUGEINT) * lo +
        |    CAST(cc - mb - ma AS HUGEINT) * v +
        |    CAST(ma AS HUGEINT) * hi) AS DOUBLE) /
        |    CAST(n AS DOUBLE), 6) AS winsorized_mean,
        |  ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean
        |FROM mass GROUP BY g, n, s, lo, hi
        |ORDER BY event_type""".stripMargin),

    // two-sample Cramér-von Mises: click-value vs purchase-value
    // distributions per user tier — the integrated companion to q96's
    // KS supremum
    Gate("q353_cvm", (s, dir) => {
      val ev = events(s, dir).filter(col("value").isNotNull)
        .select((col("user_id") % 5).as("tier"), col("event_type"),
          floor(col("value") * 1000 + 0.5).cast("long").as("v"))
      graft.ops.Profiling.cvmTest(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          "tier", "v")
        .orderBy(col("tier"))
    },
    oracle =
      """WITH e AS (SELECT user_id % 5 AS g, event_type,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |pooled AS (SELECT g, v, 0 AS t FROM e
        |    WHERE event_type = 'click'
        |  UNION ALL SELECT g, v, 1 FROM e
        |    WHERE event_type = 'purchase'),
        |h AS (SELECT g, v,
        |    CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM pooled GROUP BY 1, 2),
        |tot AS (SELECT g,
        |    CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b
        |  FROM pooled GROUP BY 1),
        |cum AS (SELECT h.g, ca, cb, n_a, n_b,
        |    SUM(ca) OVER (PARTITION BY h.g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cla,
        |    SUM(cb) OVER (PARTITION BY h.g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS clb
        |  FROM h JOIN tot ON tot.g = h.g),
        |m AS (SELECT g, n_a, n_b,
        |    SUM(CAST(ca + cb AS HUGEINT) *
        |      (CAST(cla AS HUGEINT) * n_b - CAST(clb AS HUGEINT) * n_a) *
        |      (CAST(cla AS HUGEINT) * n_b - CAST(clb AS HUGEINT) * n_a))
        |      AS num
        |  FROM cum GROUP BY 1, 2, 3)
        |SELECT g AS tier, n_a, n_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN ROUND(
        |    CAST(num AS DOUBLE) /
        |    CAST(CAST(n_a AS HUGEINT) * n_b * (n_a + n_b) *
        |      (n_a + n_b) AS DOUBLE), 6) END AS t_stat,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    CAST(num AS DOUBLE) /
        |    CAST(CAST(n_a AS HUGEINT) * n_b * (n_a + n_b) *
        |      (n_a + n_b) AS DOUBLE) * 1000000.0 >= 461000.0
        |  END AS significant
        |FROM m ORDER BY tier""".stripMargin),

    // cross-set radius join: the q329 layout vs a (5,3)-shifted copy
    // — every A point finds its displaced twin (dist² = 34) plus
    // whatever else drifted into range; brute-force oracle
    Gate("q354_radius_join_ab", (s, dir) => {
      val a = spatialDocs(s, dir)
      val b = a.select((col("doc_id") + 10000L).as("doc_id"),
        (col("x") + 5L).as("x"), (col("y") + 3L).as("y"))
      graft.ops.Spatial.gridRadiusJoinAB(a, "doc_id", b, "doc_id",
          "x", "y", radius = 8L)
        .orderBy(col("id_a"), col("id_b"))
    },
    oracle =
      s"""WITH $spatialDocsSql,
         |pb AS (SELECT doc_id + 10000 AS doc_id, x + 5 AS x,
         |    y + 3 AS y FROM p)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS BIGINT)
         |    AS dist2
         |FROM p a JOIN pb b
         |  ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 64
         |ORDER BY id_a, id_b""".stripMargin),

    // raking (IPF) to a joint target: uniform event-type margin AND a
    // 50/30/20 user-tier margin at once — the 2-margin corpus
    // rebalancer over the q80 single-margin mixture
    Gate("q355_rake", (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"), (col("user_id") % 3).as("tier"))
      Corpus.rakeWeights(ev, "event_type", "tier",
          Map("click" -> 200000L, "error" -> 200000L,
            "purchase" -> 200000L, "signup" -> 200000L,
            "view" -> 200000L),
          Map("0" -> 500000L, "1" -> 300000L, "2" -> 200000L),
          iters = 5)
        .orderBy(col("event_type"), col("tier"))
    },
    // 5 unrolled IPF iterations (10 half-steps); margin sums fold in
    // the same (row, col)-sorted order as the driver-side loop
    oracle = {
      val rowT = Seq("click", "error", "purchase", "signup", "view")
        .map(r => s"WHEN '$r' THEN CAST(200000 AS DOUBLE) / 1000000.0")
        .mkString(" ")
      val colT = Seq(("0", 500000), ("1", 300000), ("2", 200000))
        .map { case (c, t) =>
          s"WHEN '$c' THEN CAST($t AS DOUBLE) / 1000000.0" }
        .mkString(" ")
      val steps = (1 to 5).flatMap { i =>
        val a = 2 * i - 1; val b = 2 * i
        Seq(
          s"""rs$a AS (SELECT r, list_reduce(list_transform(
             |    list(struct_pack(cc := c, m := m) ORDER BY c),
             |    x -> x.m), (x, y) -> x + y) AS s
             |  FROM m${a - 1} GROUP BY r)""".stripMargin,
          s"""m$a AS (SELECT p.r, p.c,
             |    p.m * (CASE p.r $rowT END) / rs.s AS m
             |  FROM m${a - 1} p JOIN rs$a rs ON rs.r = p.r)""".stripMargin,
          s"""cs$b AS (SELECT c, list_reduce(list_transform(
             |    list(struct_pack(rr := r, m := m) ORDER BY r),
             |    x -> x.m), (x, y) -> x + y) AS s
             |  FROM m${b - 1} GROUP BY c)""".stripMargin,
          s"""m$b AS (SELECT p.r, p.c,
             |    p.m * (CASE p.c $colT END) / cs.s AS m
             |  FROM m${b - 1} p JOIN cs$b cs ON cs.c = p.c)""".stripMargin)
      }.mkString(",\n")
      s"""WITH cells AS (SELECT event_type AS r,
         |    CAST(user_id % 3 AS VARCHAR) AS c,
         |    CAST(COUNT(1) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS bign FROM cells),
         |m0 AS (SELECT r, c, CAST(n AS DOUBLE) /
         |    (SELECT CAST(bign AS DOUBLE) FROM tot) AS m FROM cells),
         |$steps
         |SELECT cells.r AS event_type, cells.c AS tier, cells.n,
         |  ROUND(m10.m, 6) AS p,
         |  ROUND(m10.m * (SELECT CAST(bign AS DOUBLE) FROM tot) /
         |    CAST(cells.n AS DOUBLE), 6) AS weight
         |FROM cells JOIN m10 ON m10.r = cells.r AND m10.c = cells.c
         |ORDER BY event_type, tier""".stripMargin
    }),

    // Qini uplift curve per event type: treatment (+8000 milli boost)
    // converts more, score tracks the base value — the incremental-
    // conversion readout an uplift targeting model is judged on
    Gate("q356_qini", (s, dir) => {
      val milli = floor(col("value") * 1000 + 0.5).cast("long")
      val ev = valuedEvents(s, dir,
          expr("cast(floor(value * 1000 + 0.5) as bigint) div 10000")
            .as("score"),
          (col("user_id") % 2 === 0).as("treated"),
          (milli +
            when(col("user_id") % 2 === 0, 8000L).otherwise(0L) +
            (col("user_id") % 11) * 500L > 40000L).as("ok"))
      graft.ops.Profiling.qiniCurve(ev, "event_type", "score",
          "treated", "ok")
        .orderBy(col("event_type"), col("decile"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) // 10000 AS s,
        |    user_id % 2 = 0 AS t,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) +
        |      (CASE WHEN user_id % 2 = 0 THEN 8000 ELSE 0 END) +
        |      (user_id % 11) * 500 > 40000 AS ok
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT g, s, CAST(COUNT(1) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |    CAST(SUM(CASE WHEN t AND ok THEN 1 ELSE 0 END) AS BIGINT)
        |      AS kt,
        |    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nc,
        |    CAST(SUM(CASE WHEN NOT t AND ok THEN 1 ELSE 0 END)
        |      AS BIGINT) AS kc
        |  FROM b GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(COUNT(1) AS BIGINT) AS n
        |  FROM b GROUP BY 1),
        |tiled AS (SELECT h.g, s, c, nt, kt, nc, kc, n,
        |    1 + (COALESCE(SUM(c) OVER (PARTITION BY h.g ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      * 10) // n AS tile
        |  FROM h JOIN tot ON tot.g = h.g),
        |per AS (SELECT g, tile, CAST(SUM(nt) AS BIGINT) AS dnt,
        |    CAST(SUM(kt) AS BIGINT) AS dkt,
        |    CAST(SUM(nc) AS BIGINT) AS dnc,
        |    CAST(SUM(kc) AS BIGINT) AS dkc,
        |    CAST(SUM(c) AS BIGINT) AS dc, MAX(n) AS n
        |  FROM tiled GROUP BY 1, 2),
        |cum AS (SELECT g, tile, n,
        |    SUM(dnt) OVER w AS n_t, SUM(dkt) OVER w AS k_t,
        |    SUM(dnc) OVER w AS n_c, SUM(dkc) OVER w AS k_c,
        |    SUM(dc) OVER w AS cn
        |  FROM per WINDOW w AS (PARTITION BY g ORDER BY tile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT g AS event_type, CAST(tile AS BIGINT) AS decile,
        |  CAST(n_t AS BIGINT) AS n_t, CAST(k_t AS BIGINT) AS k_t,
        |  CAST(n_c AS BIGINT) AS n_c, CAST(k_c AS BIGINT) AS k_c,
        |  CASE WHEN n_c > 0 THEN ROUND(CAST(k_t AS DOUBLE) -
        |    CAST(k_c AS DOUBLE) * CAST(n_t AS DOUBLE) /
        |    CAST(n_c AS DOUBLE), 6) END AS uplift,
        |  ROUND(CAST(cn AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS frac_targeted
        |FROM cum ORDER BY event_type, decile""".stripMargin),

    // Markov removal-effect attribution over view/click/signup
    // journeys ending in purchase — the data-driven credit split the
    // q128 last-touch rule can't see assists in
    Gate("q357_markov_attribution", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"), col("event_type"))
      EventAnalytics.markovAttribution(ev, "user_id", "tus",
          "event_id", "event_type", convType = "purchase",
          touchTypes = Seq("click", "signup", "view"))
        .orderBy(col("channel"))
    },
    // journey chain + 20 unrolled absorption power steps, one per
    // removal variant folded into an `rm` dimension; every float sum
    // runs in the driver loop's state-sorted order
    oracle = {
      val steps = (1 to 20).map { k =>
        s"""v$k AS MATERIALIZED (SELECT r.rm, st.s,
           |    CASE WHEN st.s = 'CONV' THEN CAST(1.0 AS DOUBLE)
           |      WHEN st.s = 'NULL' OR st.s = r.rm
           |        THEN CAST(0.0 AS DOUBLE)
           |      ELSE COALESCE(f.fv, CAST(0.0 AS DOUBLE)) END AS v
           |  FROM rms r CROSS JOIN sts st
           |  LEFT JOIN (
           |    SELECT pv.rm, pr.f AS s,
           |      list_reduce(list_transform(list(struct_pack(
           |        tt := pr.tt, x := pr.p *
           |          (CASE WHEN pr.tt = pv.rm THEN CAST(0.0 AS DOUBLE)
           |            ELSE pv.v END)) ORDER BY pr.tt),
           |        e -> e.x), (a, b) -> a + b) AS fv
           |    FROM pr JOIN v${k - 1} pv ON pv.s = pr.tt
           |    GROUP BY pv.rm, pr.f
           |  ) f ON f.rm = r.rm AND f.s = st.s)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT user_id AS u, epoch_us(ts) AS ts,
         |    event_id AS id, event_type AS t FROM events),
         |cv AS (SELECT u, ts AS cts, id AS cid FROM e
         |  WHERE t = 'purchase'
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY u
         |    ORDER BY ts, id) = 1),
         |tch AS MATERIALIZED (SELECT e.u, e.ts, e.id, e.t, cv.cts, cv.cid
         |  FROM e LEFT JOIN cv USING (u)
         |  WHERE e.t IN ('click', 'signup', 'view') AND
         |    (cv.cts IS NULL OR e.ts < cv.cts OR
         |      (e.ts = cv.cts AND e.id < cv.cid))),
         |sq AS (SELECT u, t, cts,
         |    LAG(t) OVER (PARTITION BY u ORDER BY ts, id) AS prev,
         |    LEAD(t) OVER (PARTITION BY u ORDER BY ts, id) AS next
         |  FROM tch),
         |mid AS (SELECT COALESCE(prev, 'START') AS f, t AS tt FROM sq),
         |lst AS (SELECT t AS f,
         |    CASE WHEN cts IS NOT NULL THEN 'CONV' ELSE 'NULL' END AS tt
         |  FROM sq WHERE next IS NULL),
         |bare AS (SELECT 'START' AS f, 'CONV' AS tt FROM cv
         |  WHERE u NOT IN (SELECT DISTINCT u FROM tch)),
         |tr AS (SELECT f, tt, CAST(COUNT(1) AS BIGINT) AS n
         |  FROM (SELECT * FROM mid UNION ALL SELECT * FROM lst
         |    UNION ALL SELECT * FROM bare) GROUP BY 1, 2),
         |ft AS (SELECT f, CAST(SUM(n) AS BIGINT) AS nf
         |  FROM tr GROUP BY 1),
         |pr AS MATERIALIZED (SELECT tr.f, tr.tt,
         |    CAST(tr.n AS DOUBLE) / CAST(ft.nf AS DOUBLE) AS p
         |  FROM tr JOIN ft ON ft.f = tr.f),
         |sts AS MATERIALIZED (SELECT f AS s FROM pr UNION SELECT tt FROM pr),
         |rms AS (SELECT * FROM (VALUES ('__none__'), ('click'),
         |    ('signup'), ('view')) r(rm)),
         |v0 AS (SELECT rm, s,
         |    CASE WHEN s = 'CONV' THEN CAST(1.0 AS DOUBLE)
         |      ELSE CAST(0.0 AS DOUBLE) END AS v
         |  FROM rms CROSS JOIN sts),
         |$steps,
         |fin AS (SELECT rm, v FROM v20 WHERE s = 'START'),
         |pf AS (SELECT v AS pfull FROM fin WHERE rm = '__none__'),
         |inb AS (SELECT tt AS ch, CAST(SUM(n) AS BIGINT) AS n_in
         |  FROM tr GROUP BY 1),
         |eff AS (SELECT fin.rm AS channel, fin.v AS pc,
         |    CASE WHEN pf.pfull > 0 THEN
         |      GREATEST(1.0 - fin.v / pf.pfull, CAST(0.0 AS DOUBLE))
         |      ELSE CAST(0.0 AS DOUBLE) END AS ef
         |  FROM fin CROSS JOIN pf WHERE fin.rm <> '__none__'),
         |es AS (SELECT list_reduce(list_transform(
         |    list(struct_pack(c := channel, e := ef) ORDER BY channel),
         |    x -> x.e), (a, b) -> a + b) AS s FROM eff)
         |SELECT eff.channel, COALESCE(inb.n_in, 0) AS n_in,
         |  ROUND(pf.pfull, 6) AS p_full, ROUND(eff.pc, 6) AS p_removed,
         |  ROUND(eff.ef, 6) AS removal_effect,
         |  CASE WHEN es.s > 0
         |    THEN ROUND(eff.ef / es.s, 6) END AS share
         |FROM eff CROSS JOIN pf CROSS JOIN es
         |LEFT JOIN inb ON inb.ch = eff.channel
         |ORDER BY channel""".stripMargin
    }),

    // Pike hazard ratio + CI over the q336 duration layout — the
    // effect size beside the log-rank verdict
    Gate("q358_hazard_ratio", (s, dir) => {
      val ev = events(s, dir)
        .select(
          (expr("unix_micros(ts) div 86400000000") - 19700L +
            when(col("user_id") % 2 === 1, col("event_id") % 5)
              .otherwise(lit(0L))).as("dur"),
          (col("event_id") % 3 =!= 0).as("ev"),
          when(col("user_id") % 2 === 0, lit("ctl"))
            .otherwise(lit("trt")).as("arm"))
      EventAnalytics.hazardRatio(ev, "dur", "ev", "arm", "ctl")
    },
    oracle =
      """WITH b AS (SELECT
        |    (epoch_us(ts) // 86400000000) - 19700 +
        |      (CASE WHEN user_id % 2 = 1 THEN event_id % 5
        |        ELSE 0 END) AS t,
        |    event_id % 3 <> 0 AS e, user_id % 2 = 1 AS trt
        |  FROM events),
        |pert AS (SELECT t,
        |    CAST(SUM(CASE WHEN trt AND e THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d1,
        |    CAST(SUM(CASE WHEN NOT trt AND e THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d0,
        |    CAST(SUM(CASE WHEN trt THEN 1 ELSE 0 END) AS BIGINT) AS a1,
        |    CAST(SUM(CASE WHEN NOT trt THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a0
        |  FROM b GROUP BY 1),
        |tot AS (SELECT
        |    CAST(SUM(CASE WHEN trt THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN NOT trt THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n0
        |  FROM b),
        |risk AS (SELECT t, d1, d0,
        |    n1 - COALESCE(SUM(a1) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS r1,
        |    n0 - COALESCE(SUM(a0) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS r0
        |  FROM pert CROSS JOIN tot),
        |ev AS (SELECT * FROM risk WHERE d1 + d0 > 0),
        |terms AS (SELECT t, d1, d0,
        |    CAST(d1 + d0 AS DOUBLE) *
        |      (CAST(r1 AS DOUBLE) / CAST(r1 + r0 AS DOUBLE)) AS e1,
        |    CAST(d1 + d0 AS DOUBLE) *
        |      (CAST(r0 AS DOUBLE) / CAST(r1 + r0 AS DOUBLE)) AS e0,
        |    CASE WHEN r1 + r0 > 1 THEN
        |      CAST(d1 + d0 AS DOUBLE) *
        |        (CAST(r1 AS DOUBLE) / CAST(r1 + r0 AS DOUBLE)) *
        |        (1.0 - CAST(r1 AS DOUBLE) / CAST(r1 + r0 AS DOUBLE)) *
        |        ((CAST(r1 + r0 AS DOUBLE) - CAST(d1 + d0 AS DOUBLE)) /
        |          (CAST(r1 + r0 AS DOUBLE) - 1.0))
        |      ELSE 0.0 END AS v
        |  FROM ev),
        |f AS (SELECT CAST(SUM(d1) AS BIGINT) AS o1,
        |    CAST(SUM(d0) AS BIGINT) AS o0,
        |    list_reduce(list_transform(list_sort(
        |      list(struct_pack(ft := t, e1 := e1, e0 := e0, v := v))),
        |      s -> s.e1), (a, b) -> a + b) AS fe1,
        |    list_reduce(list_transform(list_sort(
        |      list(struct_pack(ft := t, e1 := e1, e0 := e0, v := v))),
        |      s -> s.e0), (a, b) -> a + b) AS fe0,
        |    list_reduce(list_transform(list_sort(
        |      list(struct_pack(ft := t, e1 := e1, e0 := e0, v := v))),
        |      s -> s.v), (a, b) -> a + b) AS fv
        |  FROM terms)
        |SELECT n1 AS n_treated, n0 AS n_control,
        |  COALESCE(o1, 0) AS o1, ROUND(fe1, 6) AS e1,
        |  COALESCE(o0, 0) AS o0, ROUND(fe0, 6) AS e0,
        |  CASE WHEN fe1 > 0 AND fe0 > 0 AND o0 > 0 THEN
        |    ROUND((CAST(o1 AS DOUBLE) / fe1) /
        |      (CAST(o0 AS DOUBLE) / fe0), 6) END AS hazard_ratio,
        |  CASE WHEN fe1 > 0 AND fe0 > 0 AND o0 > 0 AND fv > 0 THEN
        |    ROUND(exp((CAST(o1 AS DOUBLE) - fe1) / fv -
        |      1.959964 / sqrt(fv)), 6) END AS hr_lo,
        |  CASE WHEN fe1 > 0 AND fe0 > 0 AND o0 > 0 AND fv > 0 THEN
        |    ROUND(exp((CAST(o1 AS DOUBLE) - fe1) / fv +
        |      1.959964 / sqrt(fv)), 6) END AS hr_hi
        |FROM f CROSS JOIN tot""".stripMargin),

    // the spatial-family chain: hotspot cells → points inside them →
    // DBSCAN → per-cluster core/border profile, ONE composed plan
    // (the q301/q320 composability pattern for the geo family)
    Gate("q359_geo_chain", (s, dir) => {
      // every 5th doc is funneled into one 20×20 box — the hotspot the
      // chain must find, isolate and cluster (the diffuse 12-blob
      // background never clears the 1.2× density bar)
      val pts = spatialDocs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 5 === 0, lit(600L) +
          (col("doc_id") * col("doc_id") * 13 +
            col("doc_id") * 7919) % 20).otherwise(col("x")).as("x"),
        when(col("doc_id") % 5 === 0, lit(600L) +
          (col("doc_id") * col("doc_id") * 29 +
            col("doc_id") * 104729) % 20).otherwise(col("y")).as("y"))
      val withCell = pts
        .withColumn("cx", expr("x div 50"))
        .withColumn("cy", expr("y div 50"))
      val hot = graft.ops.Spatial.spatialHotspots(pts, "x", "y",
          cellWidth = 50L, factorMicro = 1200000L)
        .filter(col("hot"))
        .select(col("cell_x").as("cx"), col("cell_y").as("cy"))
      val inHot = withCell.join(hot, Seq("cx", "cy"))
        .select(col("doc_id"), col("x"), col("y"))
      graft.ops.Spatial.dbscanLite(inHot, "doc_id", "x", "y",
          eps = 12L, minPts = 3)
        .filter(col("cluster").isNotNull)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_points"),
          sum(when(col("role") === "core", 1L).otherwise(0L))
            .as("n_core"),
          sum(when(col("role") === "border", 1L).otherwise(0L))
            .as("n_border"))
        .orderBy(col("cluster"))
    },
    // hotspot CTE + brute-force DBSCAN over the hot-cell points +
    // per-cluster rollup — the whole chain replayed stage by stage
    oracle =
      s"""WITH RECURSIVE $spatialDocsSql,
         |p2 AS (SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN 600 +
         |      (doc_id * doc_id * 13 + doc_id * 7919) % 20
         |      ELSE x END AS x,
         |    CASE WHEN doc_id % 5 = 0 THEN 600 +
         |      (doc_id * doc_id * 29 + doc_id * 104729) % 20
         |      ELSE y END AS y
         |  FROM p),
         |cells AS (SELECT x // 50 AS cx, y // 50 AS cy,
         |    CAST(COUNT(1) AS BIGINT) AS n
         |  FROM p2 GROUP BY 1, 2),
         |sm AS (SELECT c.cx + dx.o AS cx, c.cy + dy.o AS cy,
         |    CAST(SUM(n) AS BIGINT) AS nbhd_n
         |  FROM cells c, (VALUES (-1), (0), (1)) dx(o),
         |    (VALUES (-1), (0), (1)) dy(o)
         |  GROUP BY 1, 2),
         |g AS (SELECT CAST(COUNT(1) AS BIGINT) AS ncells,
         |    CAST(SUM(n) AS BIGINT) AS total FROM cells),
         |hot AS (SELECT cells.cx, cells.cy
         |  FROM cells JOIN sm ON sm.cx = cells.cx AND sm.cy = cells.cy
         |  CROSS JOIN g
         |  WHERE CAST(nbhd_n AS HUGEINT) * ncells * 1000000 >=
         |    CAST(1200000 AS HUGEINT) * 9 * total),
         |ih AS (SELECT p2.doc_id, p2.x, p2.y FROM p2
         |  JOIN hot ON hot.cx = p2.x // 50 AND hot.cy = p2.y // 50),
         |e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM ih a JOIN ih b ON a.doc_id < b.doc_id
         |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 144),
         |sym AS (SELECT id_a AS s, id_b AS d FROM e
         |  UNION ALL SELECT id_b, id_a FROM e),
         |deg AS (SELECT s AS id, COUNT(1) AS nb FROM sym GROUP BY 1),
         |lab AS (SELECT ih.doc_id AS id, COALESCE(nb, 0) + 1 >= 3
         |    AS core
         |  FROM ih LEFT JOIN deg ON ih.doc_id = deg.id),
         |ce AS (SELECT s, d FROM sym
         |  JOIN lab la ON la.id = sym.s AND la.core
         |  JOIN lab lb ON lb.id = sym.d AND lb.core),
         |cc(id, label) AS (
         |  SELECT id, id FROM lab WHERE core
         |  UNION
         |  SELECT ce.s, cc.label FROM ce JOIN cc ON cc.id = ce.d),
         |ccl AS (SELECT id, MIN(label) AS cl FROM cc GROUP BY 1),
         |bord AS (SELECT sym.s AS id, MIN(ccl.cl) AS bcl
         |  FROM sym JOIN ccl ON ccl.id = sym.d GROUP BY 1),
         |roles AS (SELECT lab.id,
         |    CASE WHEN lab.core THEN 'core'
         |      WHEN bord.bcl IS NOT NULL THEN 'border'
         |      ELSE 'noise' END AS role,
         |    CASE WHEN lab.core THEN ccl.cl ELSE bord.bcl END AS cluster
         |  FROM lab LEFT JOIN ccl ON ccl.id = lab.id
         |  LEFT JOIN bord ON bord.id = lab.id)
         |SELECT cluster, CAST(COUNT(1) AS BIGINT) AS n_points,
         |  CAST(SUM(CASE WHEN role = 'core' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_core,
         |  CAST(SUM(CASE WHEN role = 'border' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_border
         |FROM roles WHERE cluster IS NOT NULL
         |GROUP BY 1 ORDER BY cluster""".stripMargin),

    // Yuen robust test per event type vs 'view': q335's effect shifts
    // judged on 20%-trimmed means with winsorized variances
    Gate("q360_yuen", (s, dir) => {
      val ev = valuedEvents(s, dir,
          (floor(col("value") * 1000 + 0.5).cast("long") +
            length(col("event_type")) * 100L).as("y"))
      graft.ops.Profiling.yuenTest(ev, "event_type", "y", "view")
        .orderBy(col("event_type"))
    },
    oracle =
      """WITH b AS (SELECT event_type AS g,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) +
        |      length(event_type) * 100 AS v
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT g, v, CAST(COUNT(1) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(COUNT(1) AS BIGINT) AS n
        |  FROM b GROUP BY 1),
        |cum AS (SELECT h.g, v, c, n,
        |    SUM(c) OVER (PARTITION BY h.g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl,
        |    (n * 200000) // 1000000 AS k
        |  FROM h JOIN tot ON tot.g = h.g),
        |bd AS (SELECT g, n, k,
        |    MIN(CASE WHEN cl >= k + 1 THEN v END) AS lo,
        |    MIN(CASE WHEN cl >= n - k THEN v END) AS hi
        |  FROM cum GROUP BY 1, 2, 3),
        |mass AS (SELECT cum.g, cum.n, cum.k, bd.lo, bd.hi, cum.v,
        |    LEAST(cl, cum.k) - LEAST(cl - c, cum.k) AS mb,
        |    GREATEST(cl, cum.n - cum.k) -
        |      GREATEST(cl - c, cum.n - cum.k) AS ma,
        |    c AS cc,
        |    CASE WHEN cl > cum.k AND
        |        LEAST(cl, cum.n - cum.k) - GREATEST(cl - c, cum.k) > 0
        |      THEN LEAST(cl, cum.n - cum.k) - GREATEST(cl - c, cum.k)
        |      ELSE 0 END AS tk
        |  FROM cum JOIN bd ON bd.g = cum.g),
        |per AS (SELECT g, n,
        |    SUM(CAST(tk AS HUGEINT) * v) AS ts,
        |    CAST(SUM(tk) AS BIGINT) AS hh,
        |    SUM(CAST(mb AS HUGEINT) * lo * lo +
        |      CAST(cc - mb - ma AS HUGEINT) * v * v +
        |      CAST(ma AS HUGEINT) * hi * hi) AS wq,
        |    SUM(CAST(mb AS HUGEINT) * lo +
        |      CAST(cc - mb - ma AS HUGEINT) * v +
        |      CAST(ma AS HUGEINT) * hi) AS ws
        |  FROM mass GROUP BY 1, 2),
        |ctl AS (SELECT n AS cn, hh AS ch, ts AS cts, wq AS cwq,
        |    ws AS cws FROM per WHERE g = 'view'),
        |t AS (SELECT g, n, hh,
        |    CAST(ts AS DOUBLE) / CAST(hh AS DOUBLE) AS tm1,
        |    CAST(cts AS DOUBLE) / CAST(ch AS DOUBLE) AS tm2,
        |    (CAST(n * wq - ws * ws AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      (CAST(hh AS DOUBLE) * CAST(hh - 1 AS DOUBLE)) AS d1,
        |    (CAST(cn * cwq - cws * cws AS DOUBLE) / CAST(cn AS DOUBLE)) /
        |      (CAST(ch AS DOUBLE) * CAST(ch - 1 AS DOUBLE)) AS d2,
        |    g = 'view' AS isctl, ch
        |  FROM per CROSS JOIN ctl)
        |SELECT g AS event_type, n, hh AS h,
        |  ROUND(tm1, 6) AS trimmed_mean,
        |  CASE WHEN NOT isctl AND hh > 1 AND ch > 1
        |    THEN ROUND(tm1 - tm2, 6) END AS diff_vs_control,
        |  CASE WHEN NOT isctl AND hh > 1 AND ch > 1 AND d1 + d2 > 0
        |    THEN (tm1 - tm2) * (tm1 - tm2) / (d1 + d2) * 1000000.0 >=
        |      3841600.0 END AS significant
        |FROM t ORDER BY 1""".stripMargin),

    // Storey q-values over the q291 spiked family: the estimated-pi0
    // FDR readout beside BH's declared-alpha decision
    Gate("q361_q_values", (s, dir) => {
      val ev = events(s, dir)
      val tests = ev
        .groupBy(col("event_type"), (col("user_id") % 25).as("tid"))
        .agg((abs(sum(floor(col("value") * 100 + 0.5).cast("long"))) %
          1000001L).as("__pseudo__"))
        .select(col("event_type"), col("tid"),
          when(col("tid") < 5, col("tid") * 1000L)
            .otherwise(col("__pseudo__")).as("p_micro"))
      graft.ops.Profiling.qValues(tests, "event_type", "tid",
          "p_micro", alphaMicro = 200000L)
        .orderBy(col("event_type"), col("rank"))
    },
    oracle =
      """WITH t AS (SELECT event_type AS g, user_id % 25 AS tid,
        |    abs(CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      AS BIGINT)) % 1000001 AS pseudo
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT g, tid,
        |    CASE WHEN tid < 5 THEN tid * 1000 ELSE pseudo END
        |      AS p_micro
        |  FROM t),
        |r AS (SELECT g, tid, p_micro,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY g
        |      ORDER BY p_micro, tid) AS BIGINT) AS rank,
        |    CAST(COUNT(1) OVER (PARTITION BY g) AS BIGINT) AS m,
        |    CAST(SUM(CASE WHEN p_micro > 500000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY g) AS BIGINT) AS gt
        |  FROM p),
        |s AS (SELECT g, tid, p_micro, rank,
        |    LEAST(CAST(1.0 AS DOUBLE), CAST(gt AS DOUBLE) * 1000000.0 /
        |      (CAST(m AS DOUBLE) * (1000000.0 - 500000.0))) AS pi0,
        |    LEAST(CAST(1.0 AS DOUBLE), CAST(gt AS DOUBLE) * 1000000.0 /
        |      (CAST(m AS DOUBLE) * (1000000.0 - 500000.0))) *
        |      CAST(m AS DOUBLE) * CAST(p_micro AS DOUBLE) /
        |      (CAST(rank AS DOUBLE) * 1000000.0) AS raw
        |  FROM r),
        |q AS (SELECT g, tid, p_micro, rank, pi0,
        |    LEAST(CAST(1.0 AS DOUBLE), MIN(raw) OVER (PARTITION BY g
        |      ORDER BY p_micro DESC, tid DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS qv
        |  FROM s)
        |SELECT g AS event_type, tid, p_micro, rank,
        |  ROUND(pi0, 6) AS pi0, ROUND(qv, 6) AS q_value,
        |  qv * 1000000.0 <= 200000.0 AS discovery
        |FROM q ORDER BY event_type, rank""".stripMargin),

    // Ripley's K over the 12-blob layout: K >> pi*r^2 at blob scales —
    // the at-what-scale clustering summary beside q331's where
    Gate("q362_ripley_k", (s, dir) =>
      graft.ops.Spatial.ripleyK(spatialDocs(s, dir), "doc_id",
        "x", "y", radii = Seq(5L, 10L, 20L, 50L), area = 1080000L),
    oracle =
      s"""WITH $spatialDocsSql,
         |pr AS (SELECT (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS d2
         |  FROM p a JOIN p b ON a.doc_id < b.doc_id
         |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 2500),
         |nn AS (SELECT CAST(COUNT(1) AS BIGINT) AS n FROM p),
         |c AS (SELECT r.r,
         |    CAST(2 * COALESCE(SUM(CASE WHEN d2 <= r.r * r.r
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS np
         |  FROM (VALUES (5), (10), (20), (50)) r(r)
         |  LEFT JOIN pr ON true GROUP BY 1)
         |SELECT CAST(c.r AS BIGINT) AS r, np AS n_pairs,
         |  ROUND(1080000.0 * CAST(np AS DOUBLE) /
         |    (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 6) AS k_hat,
         |  ROUND(sqrt(1080000.0 * CAST(np AS DOUBLE) /
         |    (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / pi()), 6)
         |    AS l_hat,
         |  ROUND(pi() * CAST(c.r AS DOUBLE) * CAST(c.r AS DOUBLE), 6)
         |    AS csr_k
         |FROM c CROSS JOIN nn ORDER BY r""".stripMargin),

    // Anderson-Darling on the q353 layout: the tail-weighted member
    // of the ECDF-test family (KS sup / CvM integral / AD tails)
    Gate("q363_ad_test", (s, dir) => {
      val ev = events(s, dir).filter(col("value").isNotNull)
        .select((col("user_id") % 5).as("tier"), col("event_type"),
          floor(col("value") * 1000 + 0.5).cast("long").as("v"))
      graft.ops.Profiling.adTest(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          "tier", "v")
        .orderBy(col("tier"))
    },
    oracle =
      """WITH e AS (SELECT user_id % 5 AS g, event_type,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |pooled AS (SELECT g, v, 0 AS t FROM e
        |    WHERE event_type = 'click'
        |  UNION ALL SELECT g, v, 1 FROM e
        |    WHERE event_type = 'purchase'),
        |h AS (SELECT g, v,
        |    CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM pooled GROUP BY 1, 2),
        |tot AS (SELECT g,
        |    CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b
        |  FROM pooled GROUP BY 1),
        |cum AS (SELECT h.g, v, ca, cb, n_a, n_b,
        |    SUM(ca) OVER (PARTITION BY h.g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cla,
        |    SUM(cb) OVER (PARTITION BY h.g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS clb
        |  FROM h JOIN tot ON tot.g = h.g),
        |terms AS (SELECT g, n_a, n_b, v,
        |    CASE WHEN cla + clb < n_a + n_b THEN
        |      CAST(CAST(ca + cb AS HUGEINT) *
        |        (CAST(cla AS HUGEINT) * (n_a + n_b) -
        |          CAST(n_a AS HUGEINT) * (cla + clb)) *
        |        (CAST(cla AS HUGEINT) * (n_a + n_b) -
        |          CAST(n_a AS HUGEINT) * (cla + clb)) AS DOUBLE) /
        |      CAST(CAST(cla + clb AS HUGEINT) *
        |        (n_a + n_b - cla - clb) AS DOUBLE)
        |      ELSE CAST(0.0 AS DOUBLE) END AS tm
        |  FROM cum),
        |f AS (SELECT g, n_a, n_b,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(list(struct_pack(v := v, t := tm)
        |        ORDER BY v), x -> x.t)), (a, b) -> a + b) AS s
        |  FROM terms GROUP BY 1, 2, 3)
        |SELECT g AS tier, n_a, n_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    ROUND(s / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
        |  END AS a2,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    s / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) *
        |      1000000.0 >= 2492000.0
        |  END AS significant
        |FROM f ORDER BY tier""".stripMargin),

    // modularity of a block carve-up of the q131 co-trade graph: is
    // "nodes 0-9, 10-19, ..." real structure? (the dense fold says no
    // — Q near 0 — and the exact rational proves it identically on
    // both engines)
    Gate("q364_modularity", (s, dir) => {
      val e = s.read.parquet(s"$dir/lineitem.parquet")
        .select(pmod(col("l_partkey"), lit(50L)).as("a"),
          pmod(col("l_suppkey"), lit(50L)).as("b"))
      val asg = s.range(0, 50)
        .select(col("id").as("n"), expr("id div 10").as("c"))
      graft.ops.Graph.modularity(e, "a", "b", asg, "n", "c")
    },
    oracle =
      """WITH e0 AS (SELECT l_partkey % 50 AS a, l_suppkey % 50 AS b
        |  FROM lineitem),
        |und AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        |  FROM e0 WHERE a <> b),
        |nodes AS (SELECT u AS n FROM und UNION SELECT v FROM und),
        |lab AS (SELECT n, CAST(n // 10 AS VARCHAR) AS c FROM nodes),
        |e2 AS (SELECT la.c AS cu, lb.c AS cv FROM und
        |  JOIN lab la ON la.n = und.u JOIN lab lb ON lb.n = und.v),
        |tags AS (SELECT cu AS c, cu = cv AS intra FROM e2
        |  UNION ALL SELECT cv, cu = cv FROM e2),
        |perc AS (SELECT c, CAST(COUNT(1) AS BIGINT) AS deg,
        |    CAST(SUM(CASE WHEN intra THEN 1 ELSE 0 END) // 2
        |      AS BIGINT) AS ec
        |  FROM tags GROUP BY 1),
        |mm AS (SELECT CAST(COUNT(1) AS BIGINT) AS m FROM und),
        |nc AS (SELECT CAST(COUNT(1) AS BIGINT) AS n_nodes FROM nodes),
        |qn AS (SELECT CAST(SUM(CAST(4 * mm.m AS HUGEINT) * ec -
        |    CAST(deg AS HUGEINT) * deg) AS BIGINT) AS q_num,
        |    CAST(COUNT(1) AS BIGINT) AS n_communities
        |  FROM perc CROSS JOIN mm)
        |SELECT nc.n_nodes, mm.m AS n_edges, qn.n_communities,
        |  CAST(0 AS BIGINT) AS n_unassigned, qn.q_num,
        |  4 * mm.m * mm.m AS q_den,
        |  CASE WHEN mm.m > 0 THEN ROUND(CAST(qn.q_num AS DOUBLE) /
        |    (4.0 * CAST(mm.m AS DOUBLE) * CAST(mm.m AS DOUBLE)), 6)
        |  END AS modularity
        |FROM qn CROSS JOIN mm CROSS JOIN nc""".stripMargin),

    // sketch-backed rolling actives: HLL-per-day + windowed union — the
    // 100 TB swap for q164's |entity-days|×W presence explode. dau/wau
    // stay exact; the union estimate must land within 5% (q30 posture)
    Gate("q365_rolling_hll", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("ts"))
      val exact = EventAnalytics.rollingActiveUsers(ev, "user_id", "ts", 7)
      val approx = EventAnalytics.rollingActiveUsersApprox(
        ev, "user_id", "ts", 7, lgK = 14)
      exact.join(approx.select(col("day"), col("wau_approx")), Seq("day"))
        .select(col("day"), col("dau"), col("wau"),
          (abs(col("wau_approx") - col("wau")).cast("double") <=
            greatest(col("wau").cast("double") * 0.05, lit(2.0)))
            .as("approx_ok"))
        .orderBy(col("day"))
    },
    oracle =
      s"""WITH $dauWauCtes
        |SELECT dau.day, dau, wau, TRUE AS approx_ok
        |FROM dau JOIN wau USING (day)
        |ORDER BY day""".stripMargin),

    // GK-sketch quantile filtering beside q111's exact twin: per-source
    // kept counts must agree within rank-error tolerance
    Gate("q366_quantile_filter_approx", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        col("n_chars"))
      val base = d.groupBy(col("source")).agg(count(lit(1)).as("n_rows"))
      val ke = Corpus.filterByQuantile(d, "source", "n_chars", 0.8)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      val ka = Corpus.filterByQuantileApprox(d, "source", "n_chars", 0.8,
          accuracy = 10000)
        .groupBy(col("source")).agg(count(lit(1)).as("__ka__"))
      base.join(ke, Seq("source")).join(ka, Seq("source"))
        .select(col("source"), col("n_rows"), col("n_kept"),
          (abs(col("__ka__") - col("n_kept")).cast("double") <=
            greatest(col("n_rows").cast("double") * 0.02, lit(5.0)))
            .as("approx_ok"))
        .orderBy(col("source"))
    },
    oracle =
      """WITH th AS (SELECT source,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.8) AS t,
        |    CAST(COUNT(1) AS BIGINT) AS n_rows
        |  FROM documents GROUP BY 1)
        |SELECT d.source, MIN(th.n_rows) AS n_rows,
        |  CAST(SUM(CASE WHEN CAST(d.n_chars AS DOUBLE) >= th.t
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  TRUE AS approx_ok
        |FROM documents d JOIN th USING (source)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // GK-sketch winsorization beside q130's exact twin: per-source
    // winsorized micro-sums must agree within 1%
    Gate("q367_winsorize_approx", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        col("n_chars"))
      def wsum(df: org.apache.spark.sql.DataFrame) =
        sum(floor(df.col("n_chars_w") * 1000000 + 0.5).cast("long"))
      val e = Corpus.winsorize(d, "source", "n_chars", 0.05, 0.95)
      val a = Corpus.winsorizeApprox(d, "source", "n_chars", 0.05, 0.95,
        accuracy = 10000)
      val ew = e.groupBy(col("source")).agg(count(lit(1)).as("n"),
        min(col("band_lo")).as("band_lo"),
        min(col("band_hi")).as("band_hi"),
        wsum(e).as("wsum_micro"))
      val aw = a.groupBy(col("source")).agg(wsum(a).as("__aw__"))
      ew.join(aw, Seq("source"))
        .select(col("source"), col("n"), col("band_lo"), col("band_hi"),
          col("wsum_micro"),
          (abs(col("__aw__") - col("wsum_micro")).cast("double") <=
            greatest(abs(col("wsum_micro")).cast("double") * 0.01,
              lit(1000000.0))).as("approx_ok"))
        .orderBy(col("source"))
    },
    oracle =
      """WITH th AS (SELECT source,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS band_lo,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS band_hi
        |  FROM documents GROUP BY 1)
        |SELECT d.source, CAST(COUNT(1) AS BIGINT) AS n,
        |  MIN(th.band_lo) AS band_lo, MIN(th.band_hi) AS band_hi,
        |  CAST(SUM(CAST(floor(LEAST(GREATEST(CAST(d.n_chars AS DOUBLE),
        |      th.band_lo), th.band_hi) * 1000000 + 0.5) AS BIGINT))
        |    AS BIGINT) AS wsum_micro,
        |  TRUE AS approx_ok
        |FROM documents d JOIN th USING (source)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // border-corrected Ripley K beside q362's naive twin: only points
    // >= r from the window edge act as centers, killing the boundary
    // undercount — exact integers end to end, no tolerance needed
    Gate("q368_ripley_border", (s, dir) =>
      graft.ops.Spatial.ripleyKBorder(spatialDocs(s, dir), "doc_id",
        "x", "y", radii = Seq(5L, 10L, 20L, 50L),
        x0 = 0L, y0 = 0L, x1 = 989L, y1 = 689L),
    oracle =
      s"""WITH $spatialDocsSql,
         |bd AS (SELECT doc_id, x, y,
         |    LEAST(x - 0, 989 - x, y - 0, 689 - y) AS bd FROM p),
         |pr AS (SELECT a.bd AS bda, b.bd AS bdb,
         |    (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS d2
         |  FROM bd a JOIN bd b ON a.doc_id < b.doc_id
         |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 2500),
         |nn AS (SELECT CAST(COUNT(1) AS BIGINT) AS n FROM p),
         |c AS (SELECT r.r,
         |    CAST(COALESCE(SUM(CASE WHEN d2 <= r.r * r.r THEN
         |      (CASE WHEN bda >= r.r THEN 1 ELSE 0 END) +
         |      (CASE WHEN bdb >= r.r THEN 1 ELSE 0 END)
         |      ELSE 0 END), 0) AS BIGINT) AS np
         |  FROM (VALUES (5), (10), (20), (50)) r(r)
         |  LEFT JOIN pr ON true GROUP BY 1),
         |ct AS (SELECT r.r,
         |    CAST(COALESCE(SUM(CASE WHEN bd >= r.r THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS nc
         |  FROM (VALUES (5), (10), (20), (50)) r(r)
         |  LEFT JOIN bd ON true GROUP BY 1)
         |SELECT CAST(c.r AS BIGINT) AS r, np AS n_pairs_border,
         |  nc AS n_centers,
         |  CASE WHEN nc > 0 THEN ROUND(681421.0 * CAST(np AS DOUBLE) /
         |    (CAST(n AS DOUBLE) * CAST(nc AS DOUBLE)), 6) END AS k_border,
         |  CASE WHEN nc > 0 THEN ROUND(sqrt(681421.0 * CAST(np AS DOUBLE) /
         |    (CAST(n AS DOUBLE) * CAST(nc AS DOUBLE)) / pi()), 6)
         |  END AS l_border,
         |  ROUND(pi() * CAST(c.r AS DOUBLE) * CAST(c.r AS DOUBLE), 6)
         |    AS csr_k
         |FROM c JOIN ct USING (r) CROSS JOIN nn ORDER BY r""".stripMargin),

    // greedy max-coverage selection: 5 rounds of argmax marginal
    // distinct-3-shingle coverage, min-id ties — diversity-first data
    // selection (never pays for a shingle twice); the oracle unrolls
    // the greedy rounds with ANTI JOINs
    Gate("q369_max_coverage", (s, dir) =>
      Corpus.maxCoverageSelect(docs(s, dir), "doc_id", "text", k = 5)
        .orderBy(col("rank")),
    oracle = maxCoverageOracleSql(5, extraSelect = "")),

    // MMR diversity rerank of dense-retrieval candidates: relevance =
    // cosine to query vec 0, lambda as the exact rational 7/10; the
    // oracle unrolls the greedy rounds (max-sim against the growing
    // selected set, NOT-IN exclusion)
    Gate("q370_mmr_rerank", (s, dir) => {
      val e = emb(s, dir)
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("__q__"))
      val cands = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("vec_id"), col("embedding"),
          Similarity.cosine(col("embedding"), col("__q__")).as("rel"))
      Similarity.mmrSelect(cands, "vec_id", "embedding", "rel", k = 5)
        .orderBy(col("rank"))
    },
    oracle = {
      val k = 5
      val rounds = (2 to k).map { i =>
        val m = s"m$i AS (SELECT c.vec_id, c.embedding, c.rel, " +
          s"MAX(${dcosine("c.embedding", "s.embedding")}) AS ms " +
          s"FROM rel c CROSS JOIN sel${i - 1} s " +
          s"WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1}) " +
          "GROUP BY c.vec_id, c.embedding, c.rel)"
        val sSel = s"s$i AS (SELECT vec_id, embedding, rel, ms, " +
          s"(7 * rel - 3 * ms) / 10 AS mmr FROM m$i " +
          "ORDER BY mmr DESC, vec_id LIMIT 1)"
        val selN = if (i < k)
          s",\nsel$i AS (SELECT vec_id, embedding FROM sel${i - 1} " +
            s"UNION ALL SELECT vec_id, embedding FROM s$i)"
        else ""
        s"$m,\n$sSel$selN"
      }.mkString(",\n")
      val out = (s"SELECT 1 AS rank, vec_id, rel, " +
        "CAST(NULL AS DOUBLE) AS ms, mmr FROM s1") +:
        (2 to k).map(i => s"SELECT $i, vec_id, rel, ms, mmr FROM s$i")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id <> 0),
         |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
         |rel0 AS (SELECT vec_id, embedding,
         |    ${dcosine("embedding", "q")} AS rel
         |  FROM e CROSS JOIN qv),
         |rel AS (SELECT * FROM rel0 WHERE rel IS NOT NULL),
         |s1 AS (SELECT vec_id, embedding, rel,
         |    (7 * rel - 3 * 0) / 10 AS mmr
         |  FROM rel ORDER BY mmr DESC, vec_id LIMIT 1),
         |sel1 AS (SELECT vec_id, embedding FROM s1),
         |$rounds
         |SELECT CAST(rank AS INTEGER) AS rank, vec_id,
         |  ROUND(rel, 6) AS relevance, ROUND(ms, 6) AS max_sim_prev,
         |  ROUND(mmr, 6) AS mmr
         |FROM (${out.mkString("\nUNION ALL ")}) ORDER BY rank""".stripMargin
    }),

    // k-core peel with the fixpoint SURFACED: same q185 residue graph,
    // deeper budget; converged + rounds_effective ride every row and
    // the oracle replays the whole edge-count telemetry
    Gate("q371_kcore_converged", (s, dir) =>
      graft.ops.Graph.kCorePeelConverged(
        events(s, dir)
          .select((col("user_id") % 97).as("src"),
            ((col("user_id") * col("user_id") + col("user_id") * 3) % 97)
              .as("dst")).distinct(),
        "src", "dst", k = 2, rounds = 4)
        .orderBy(col("node")),
    oracle = {
      val peels = (1 to 4).map { i =>
        s"""d$i AS (SELECT n, COUNT(1) AS dg FROM (SELECT a AS n FROM e${i - 1}
           |    UNION ALL SELECT b FROM e${i - 1}) GROUP BY 1),
           |k$i AS (SELECT n FROM d$i WHERE dg >= 2),
           |e$i AS (SELECT a, b FROM e${i - 1}
           |  WHERE a IN (SELECT n FROM k$i)
           |    AND b IN (SELECT n FROM k$i))""".stripMargin
      }.mkString(",\n")
      val ms = (0 to 4).map(i =>
        s"(SELECT COUNT(1) FROM e$i) AS m$i").mkString(", ")
      s"""WITH e0 AS (SELECT DISTINCT
         |    LEAST(user_id % 97, (user_id * user_id + user_id * 3) % 97)
         |      AS a,
         |    GREATEST(user_id % 97, (user_id * user_id + user_id * 3) % 97)
         |      AS b
         |  FROM events
         |  WHERE user_id % 97 <> (user_id * user_id + user_id * 3) % 97),
         |$peels,
         |m AS (SELECT $ms),
         |conv AS (SELECT CAST(CASE WHEN m1 = m0 THEN 1
         |    WHEN m2 = m1 THEN 2 WHEN m3 = m2 THEN 3
         |    WHEN m4 = m3 THEN 4 END AS INTEGER) AS rounds_effective
         |  FROM m)
         |SELECT n AS node, CAST(COUNT(1) AS BIGINT) AS degree,
         |  rounds_effective IS NOT NULL AS converged, rounds_effective
         |FROM (SELECT a AS n FROM e4 UNION ALL SELECT b FROM e4)
         |CROSS JOIN conv GROUP BY 1, 3, 4 ORDER BY node""".stripMargin
    }),

    // sync LPA with the fixpoint surfaced on the q179 graph: the
    // per-round changed-label counts decide converged/rounds_effective,
    // labels stay bit-identical to q179's variant at the same depth
    Gate("q372_lpa_converged", (s, dir) =>
      graft.ops.Graph.labelPropagationConverged(
        events(s, dir)
          .select((col("user_id") % 200).as("src"),
            ((col("user_id") * 7 + col("event_id")) % 200).as("dst")),
        "src", "dst", iters = 4)
        .orderBy(col("node")),
    oracle = {
      val rounds = (1 to 4).map { i =>
        s"""c$i AS (SELECT adj.n AS n, l${i - 1}.label AS label,
           |    COUNT(1) AS c
           |  FROM adj JOIN l${i - 1} ON adj.m = l${i - 1}.node
           |  GROUP BY 1, 2),
           |l$i AS (SELECT n AS node, label FROM c$i
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY n
           |    ORDER BY c DESC, label ASC) = 1)""".stripMargin
      }.mkString(",\n")
      val gs = (1 to 4).map(i =>
        s"(SELECT COUNT(1) FROM l$i x JOIN l${i - 1} y" +
          s" ON x.node = y.node WHERE x.label <> y.label) AS g$i")
        .mkString(", ")
      s"""WITH e0 AS (SELECT DISTINCT
         |    LEAST(user_id % 200, (user_id * 7 + event_id) % 200) AS a,
         |    GREATEST(user_id % 200, (user_id * 7 + event_id) % 200) AS b
         |  FROM events
         |  WHERE user_id % 200 <> (user_id * 7 + event_id) % 200),
         |adj AS (SELECT a AS n, b AS m FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |l0 AS (SELECT DISTINCT n AS node, n AS label FROM adj),
         |$rounds,
         |chg AS (SELECT $gs),
         |conv AS (SELECT CAST(CASE WHEN g1 = 0 THEN 1
         |    WHEN g2 = 0 THEN 2 WHEN g3 = 0 THEN 3
         |    WHEN g4 = 0 THEN 4 END AS INTEGER) AS rounds_effective
         |  FROM chg)
         |SELECT node, label, rounds_effective IS NOT NULL AS converged,
         |  rounds_effective
         |FROM l4 CROSS JOIN conv ORDER BY node""".stripMargin
    }),

    // near-dup leakage audit across the content-addressed splits: a
    // near-dup pair straddling train/val/test is eval contamination —
    // count pair mass per split pair (diagonal = benign intra-split
    // dup mass), composing q52's LSH pairs with q65's split assignment
    Gate("q373_split_leakage", (s, dir) => {
      val d = docs(s, dir)
      val pairs = nearDupPairs(d)
      val sp = Corpus.withSplit(d, "text")
        .select(col("doc_id"), col("split"))
      pairs
        .join(sp.select(col("doc_id").as("id_a"),
          col("split").as("__sa__")), Seq("id_a"))
        .join(sp.select(col("doc_id").as("id_b"),
          col("split").as("__sb__")), Seq("id_b"))
        .select(least(col("__sa__"), col("__sb__")).as("split_lo"),
          greatest(col("__sa__"), col("__sb__")).as("split_hi"))
        .groupBy(col("split_lo"), col("split_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaky", col("split_lo") =!= col("split_hi"))
        .orderBy(col("split_lo"), col("split_hi"))
    },
    oracle =
      s"""WITH $minhashPairsCtes,
         |sp AS (SELECT doc_id,
         |    CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
         |      ELSE 'test' END AS split
         |  FROM (SELECT doc_id, ${dpolyhash("text")} % 100 AS b
         |    FROM documents)),
         |x AS (SELECT LEAST(a.split, b.split) AS split_lo,
         |    GREATEST(a.split, b.split) AS split_hi
         |  FROM pairsq p JOIN sp a ON a.doc_id = p.id_a
         |  JOIN sp b ON b.doc_id = p.id_b)
         |SELECT split_lo, split_hi, CAST(COUNT(1) AS BIGINT) AS n_pairs,
         |  split_lo <> split_hi AS leaky
         |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // stochastic-greedy max-coverage (Mirzasoleiman et al.) beside the
    // exact twin: content-hash pools of expected (n/k)·ln(1/ε) docs per
    // round instead of full rescans. q30 posture: the EXACT greedy rows
    // are exported (full oracle replay) and the sampled run enters only
    // through the oracle-replayed coverage-ratio boolean
    // (achieved ≥ (1−1/e−ε)·exact — ε=1/2 here).
    //
    // DATA DEPENDENCE of the approx_ok gate (r12 ADVICE): the
    // (1−1/e−ε) guarantee holds IN EXPECTATION over the sampler's
    // randomness — a single content-hash-derandomized run has no
    // per-instance certainty, so the oracle's `TRUE` is an empirical
    // assertion about THIS data, not a theorem. The margin makes it
    // robust in practice: ε=1/2 puts the gate at ≈0.132·exact while
    // stochastic-greedy empirically lands within a few percent of exact
    // (~7× slack, holds at sf0.001/0.01/0.1). If regenerated or new-SF
    // data ever trips it, the failure is SAFE (gate rejects, nothing
    // silently wrong) and the fix is data-side: re-measure the achieved
    // ratio, not the bound.
    Gate("q374_max_coverage_sampled", (s, dir) => {
      val d = docs(s, dir)
      val exact = Corpus.maxCoverageSelect(d, "doc_id", "text", k = 8)
      val sampled = Corpus.maxCoverageSelectSampled(d, "doc_id", "text",
        k = 8, epsNum = 1, epsDen = 2)
      val bound = 1.0 - 1.0 / math.E - 0.5
      val ok = exact.agg(sum(col("marginal_coverage")).as("__e__"))
        .crossJoin(sampled.agg(sum(col("marginal_coverage")).as("__s__")))
        .select((col("__s__").cast("double") >=
          col("__e__").cast("double") * bound).as("approx_ok"))
      exact.crossJoin(broadcast(ok)).orderBy(col("rank"))
    },
    // sampled twin: the exported rows ARE the exact greedy unroll (same
    // replay, k=8); the stochastic-greedy run is gated by the
    // coverage-ratio boolean, which the oracle asserts as TRUE. That
    // TRUE is EMPIRICAL, not a theorem — the (1−1/e−ε) bound holds in
    // expectation only (see the gate comment): measured slack is ~7× at
    // every shipped SF, and a trip on future data fails safe.
    oracle =
      maxCoverageOracleSql(8, extraSelect = ", TRUE AS approx_ok")),

    // persisted-IVF serving path: build once, snapshot-write the
    // centroids + inverted lists, reload, probe the LOADED index — the
    // repeated-curation amortization. Deterministic build + exact float
    // round-trip through parquet make this bit-identical to q53's
    // build-per-call path, so the same exact-ANN oracle checks it;
    // PlanSpec asserts the probe plan never rescans the corpus
    Gate("q375_ann_ivf_persist", (s, dir) => {
      val e = emb(s, dir)
      val base = "/tmp/graft_ivf_q375/" +
        dir.replaceAll("[^A-Za-z0-9.]", "_")
      val v = Similarity.ivfWrite(
        Similarity.ivfBuild(e, "vec_id", "embedding", nCentroids = 8), base)
      val loaded = Similarity.ivfLoad(s, base, Some(v))
      Similarity.ivfTopKWith(loaded, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", 3, nProbe = 8)
        .orderBy(col("query_id"), col("rank"))
    },
    // the persisted-index path probes at full depth too, so the same
    // exact-ANN replay is the oracle
    oracle = annSqlFor(5, 3)),

    // unigram-LM tokenizer training with the default seed, vocab and
    // EM rounds (the piece table q378 encodes with)
    Gate("q376_unigram_lm_train", (s, dir) =>
      graft.ops.Corpus.trainUnigramLm(docs(s, dir), "text")
        .orderBy(col("rank")),
    // DuckDB replay of [[graft.ops.Corpus.trainUnigramLm]] (defaults:
    // maxWordLen 12, maxPieceLen 4, seed 30, vocab 20, 2 EM rounds).
    // The Viterbi dp is unrolled as one COLUMN per word position and the
    // backtrace as one boundary column per step — plain column
    // expressions throughout because DuckDB 1.0 mis-evaluates
    // `list_reduce` lambdas whose accumulators carry lists/structs
    // (observed: the same reduce returning different segmentations in
    // different query contexts). `list_max` over {'s', 'nb'=-i} structs
    // reproduces the Spark side's "max score, then smallest split" tie
    // rule; probabilities are single IEEE divisions, so dp values are
    // bit-identical across engines.
    oracle =
      s"""WITH $unigramLmCtes
         |SELECT CAST(row_number() OVER (ORDER BY c DESC, piece ASC) AS INT) AS rank,
         |  piece, c AS piece_count
         |FROM pieces_2 ORDER BY rank""".stripMargin),

    // arbitrary-length exact-substring spans (Lee et al. shape): a
    // 5-token tail shared across the doc_id%5==0 docs is INVISIBLE to
    // q83's k=8 shingles (no duplicated 8-shingle exists in it) but
    // surfaces here as a maximal run of duplicated 4-grams — spans
    // straddle the unique-prefix/shared-tail boundary, so only the
    // pure-shared grams flag and the span extent is exact
    Gate("q377_exact_substr_spans", (s, dir) => {
      val synth = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(coalesce(col("text"), lit("")),
            lit(" zq0 zq1 zq2 zq3 zq4")))
          .otherwise(coalesce(col("text"), lit(""))).as("text"))
      Dedup.maximalDupSpans(synth, "doc_id", "text", minLen = 4)
        .orderBy(col("doc_id"), col("span_start"))
    },
    oracle = {
      val l = 4
      val synth = "CASE WHEN doc_id % 5 = 0 THEN coalesce(text,'') || " +
        "' zq0 zq1 zq2 zq3 zq4' ELSE coalesce(text,'') END"
      s"""WITH s AS (SELECT doc_id, $synth AS text FROM documents),
         |t AS (SELECT doc_id, ${dshingleHashesK("text", l)} AS sh FROM s),
         |e0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(sh)),
         |    i -> {'pos': CAST(i-1 AS BIGINT), 'h': sh[i]})) AS u FROM t),
         |e AS (SELECT doc_id, struct_extract(u,'pos') AS pos,
         |    struct_extract(u,'h') AS h FROM e0),
         |dup AS (SELECT h FROM e GROUP BY h HAVING COUNT(*) >= 2),
         |f AS (SELECT doc_id, pos FROM e SEMI JOIN dup USING (h)),
         |r AS (SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM f)
         |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
         |  CAST(MAX(pos) + ${l - 1} AS BIGINT) AS span_end,
         |  CAST(MAX(pos) - MIN(pos) + $l AS BIGINT) AS span_tokens
         |FROM r GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin
    }),

    // encode side of q376: per-doc fertility under the trained unigram
    // table (one JIT Viterbi per word); the oracle reruns the train
    // chain then segments every distinct word through the same dp
    // column unroll
    Gate("q378_unigram_encode", (s, dir) => {
      val d = docs(s, dir)
      val trained = graft.ops.Corpus.trainUnigramLm(d, "text")
        .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
      graft.ops.Corpus.unigramEncodeStats(d, "doc_id", "text", trained)
        .orderBy(col("doc_id"))
    },
    // DuckDB replay of [[graft.ops.Corpus.unigramEncodeStats]] on the
    // q376-trained table: the same dp/backtrace COLUMN chains run once
    // per DISTINCT word (ev_N/eu_N CTEs), per-word token count =
    // boundary count − 1 (code-point count for unreachable or
    // longer-than-cap words), then one per-doc roll-up.
    oracle = {
      val maxW = 12
      val dpChain = (1 to maxW).map(p =>
        s",\nev_$p AS (SELECT *, ${unigramDpCol(p)} AS d$p FROM ev_${p - 1})")
        .mkString
      val dpArr = "[" + (("{'s': 1.0, 'nb': CAST(0 AS INT)}" +:
        (1 to maxW).map(p => s"d$p")).mkString(", ")) + "]"
      val btChain = (1 to maxW).map(j =>
        s",\neu_$j AS (SELECT *, CASE WHEN e${j - 1} > 0 THEN " +
          s"-struct_extract(list_extract(dparr, e${j - 1}+1), 'nb') " +
          s"ELSE e${j - 1} END AS e$j FROM eu_${j - 1})").mkString
      val es = (0 to maxW).map(j => s"e$j").mkString(", ")
      s"""WITH $unigramLmCtes,
         |dw AS (SELECT doc_id,
         |    unnest(list_filter(string_split_regex(lower(coalesce(text,'')), '\\s+'),
         |      x -> length(x) >= 1)) AS w
         |  FROM documents),
         |uw AS (SELECT DISTINCT w FROM dw WHERE length(w) <= $maxW),
         |epm AS (SELECT map(list(piece ORDER BY piece), list(c ORDER BY piece)) AS pm,
         |    CAST(SUM(c) AS BIGINT) AS T FROM pieces_2),
         |ev_0 AS (SELECT w, pm, T FROM uw CROSS JOIN epm)$dpChain,
         |eu_0 AS (SELECT w, $dpArr AS dparr,
         |    CAST(length(w) AS INT) AS e0 FROM ev_$maxW)$btChain,
         |wtok AS (SELECT w,
         |    CASE WHEN list_sort(list_distinct([$es]))[1] < 0 THEN CAST(length(w) AS BIGINT)
         |         ELSE CAST(len(list_sort(list_distinct([$es]))) - 1 AS BIGINT) END AS n_tok
         |  FROM eu_$maxW),
         |dwt AS (SELECT doc_id,
         |    CASE WHEN length(dw.w) > $maxW THEN CAST(length(dw.w) AS BIGINT)
         |         ELSE wtok.n_tok END AS n_tok
         |  FROM dw LEFT JOIN wtok USING (w)),
         |agg AS (SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_words,
         |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM dwt GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(agg.n_words, 0) AS n_words,
         |  coalesce(agg.n_tokens, 0) AS n_tokens,
         |  CASE WHEN coalesce(agg.n_words, 0) > 0 THEN
         |    ROUND(CAST(agg.n_tokens AS DOUBLE) / agg.n_words, 6) END AS tokens_per_word
         |FROM documents d LEFT JOIN agg USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    }),

    // incremental IVF: centroids frozen from the even-id half, the odd
    // half APPENDED via the delta path (no rescan of the indexed half);
    // probed at full depth so the result is provably the exact top-k
    // over the union — the same exact-ANN oracle checks the whole
    // build→append→probe lifecycle
    Gate("q379_ann_ivf_append", (s, dir) => {
      val e = emb(s, dir)
      val base = Similarity.ivfBuild(e.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", nCentroids = 8)
      val full = Similarity.ivfAppend(base,
        e.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
      Similarity.ivfTopKWith(full, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", 3, nProbe = 8)
        .orderBy(col("query_id"), col("rank"))
    },
    // build→append→probe at full depth = exact top-k over the union
    oracle = annSqlFor(5, 3)),

    // IVF index health telemetry over an APPENDED index (the q379
    // ingest shape): per-centroid inverted-list sizes + exact
    // cross-multiplied hot verdict — the rebuild-cadence signal. Seed
    // centroids only (kmeansIters=0) so the oracle replays assignment
    // bit-for-bit (ddot/seed norms are fixed-order IEEE on both
    // engines, argmax ties to the smallest cid).
    Gate("q380_ivf_stats", (s, dir) => {
      val e = emb(s, dir)
      val base = Similarity.ivfBuild(e.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", nCentroids = 8, kmeansIters = 0)
      val full = Similarity.ivfAppend(base,
        e.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
      Similarity.ivfStats(full, hotNum = 2, hotDen = 1)
    },
    // full IVF assignment replay: seed centroids are the first 8 even
    // vec_ids; scores are fixed-order ddot / seed-norm (bit-identical
    // IEEE on both engines), argmax ties to the smallest cid; counts
    // and the hot verdict are exact integers
    oracle =
      s"""WITH cents AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1
         |      AS INTEGER) AS cid, embedding AS cv
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |    WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 8)),
         |scored AS (
         |  SELECT e.vec_id, c.cid,
         |    (${ddot("e.embedding", "c.cv")}) /
         |      SQRT(${ddot("c.cv", "c.cv")}) AS s
         |  FROM embeddings e CROSS JOIN cents c),
         |assigned AS (
         |  SELECT vec_id, cid FROM scored
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY s DESC, cid ASC) = 1),
         |sizes AS (SELECT cid, COUNT(1) AS n FROM assigned GROUP BY 1),
         |tot AS (SELECT COUNT(1) AS total FROM embeddings)
         |SELECT CAST(r.range AS INTEGER) AS cid,
         |  CAST(COALESCE(s2.n, 0) AS BIGINT) AS list_size,
         |  (COALESCE(s2.n, 0) * 8 * 1 > t.total * 2) AS hot
         |FROM range(0, 8) r LEFT JOIN sizes s2 ON r.range = s2.cid
         |  CROSS JOIN tot t
         |ORDER BY cid""".stripMargin),

    // retrieval-chain capstone (r13): the r12 serving family CHAINS —
    // stage A: a 12-doc candidate batch (every 3rd a near-dup of corpus
    // doc id+30, the rest alien-token novelties) probes the q198-style
    // frozen band index and near-dups are DROPPED; stage B: survivors
    // map to their embeddings and retrieve top-8 from the IVF index at
    // FULL depth (exact, the q379 posture); stage C: each survivor's
    // hit list is MMR-reranked to 3 diverse results (q370 semantics,
    // driver loop bounded by the FIXED batch size, candidates pinned so
    // the upstream runs once). Column contracts and determinism hold
    // through all three stages — the oracle replays the entire chain.
    Gate("q381_retrieval_chain", (s, dir) => {
      val d = docs(s, dir)
      val e = emb(s, dir)
      val dup = d.filter(col("doc_id") >= 30 && col("doc_id") < 42 &&
          col("doc_id") % 3 === 0)
        .select((col("doc_id") - 30 + 500000L).as("doc_id"),
          concat(col("text"), lit(" probedup")).as("text"))
      val novel = d.filter(col("doc_id") < 12 && col("doc_id") % 3 =!= 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          concat_ws(" ", (0 until 6).map(j =>
            concat(lit(s"qzx${j}w"), col("doc_id").cast("string"))): _*)
            .as("text"))
      val batch = dup.unionByName(novel)
      // r14: no distinct on the flag list — left_anti is duplicate-
      // insensitive, so the exchange bought nothing (guide §2.4)
      val flagged = Dedup.minhashNearDupsAgainst(batch, d, "doc_id",
          "text", bands = 8, rows = 4, shingleK = 3, threshold = 0.2,
          hashedBandKeys = false)
        .select(col("batch_id").as("doc_id"))
      val queries = batch.join(flagged, Seq("doc_id"), "left_anti")
        .select((col("doc_id") - 500000L).as("vec_id"))
        .join(e, Seq("vec_id"))
      val idx = Similarity.ivfBuild(e, "vec_id", "embedding",
        nCentroids = 8)
      // full-depth probe = exact top-8 per surviving query (self hit
      // excluded by ivfTopKWith's query<>neighbor filter). r14: no
      // persist — since the grouped rerank (r13), the candidate table
      // has exactly ONE consumer (mmrSelectGrouped's round-0 wrap), so
      // the cache write/read was pure overhead.
      val cands = Similarity.ivfTopKWith(idx, queries, "vec_id",
          "embedding", k = 8, nProbe = 8)
        .join(e.select(col("vec_id").as("neighbor_id"),
          col("embedding")), Seq("neighbor_id"))
      // r13: all per-query reranks advance in LOCKSTEP — one action
      // per MMR round instead of |queries|·k round trips
      // (value-identical per group; OpsSpec differential-asserts
      // grouped ≡ per-query SpecTwins.mmrSelectRecompute)
      Similarity.mmrSelectGrouped(cands, "query_id", "neighbor_id",
          "embedding", "cosine", k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("relevance"), col("max_sim_prev"), col("mmr"))
        .orderBy(col("query_id"), col("rank"))
    },
    // q381: the whole retrieval chain replayed stage by stage — the q198
    // minhash probe (shingle/signature/band replay) decides the survivor
    // set, survivors brute-force exact top-8 (full-depth IVF ≡ exact),
    // and a per-query 3-round MMR unroll (q370's technique, window-
    // partitioned by query) reranks. One SQL statement, three verified
    // stages.
    oracle = {
      val shc = dshingleHashes
      val shDup = dshingleHashesK("text || ' probedup'", 3)
      val novelExpr = (0 until 6).map(j =>
        s"'qzx${j}w' || CAST(doc_id AS VARCHAR)").mkString(" || ' ' || ")
      val shNovel = dshingleHashesK(s"($novelExpr)", 3)
      val mhCols = Dedup.minhashParams(32).zipWithIndex.map { case ((a, b), i) =>
        s"list_min(list_transform(sh, h -> (h * $a + $b) % ${Dedup.MinhashP})) AS mh_$i"
      }.mkString(",\n  ")
      val bandMatch = (0 until 8).map { bnd =>
        "(" + (bnd * 4 until bnd * 4 + 4)
          .map(i => s"b.mh_$i = c.mh_$i").mkString(" AND ") + ")"
      }.mkString(" OR ")
      def mmrRound(i: Int): String = {
        val prev = s"sel${i - 1}"
        s"""m$i AS (SELECT c.query_id, c.neighbor_id, c.v, c.rel,
           |    MAX(${dcosine("c.v", "s.v")}) AS ms
           |  FROM cands c JOIN $prev s ON c.query_id = s.query_id
           |  WHERE NOT EXISTS (SELECT 1 FROM $prev x
           |    WHERE x.query_id = c.query_id
           |    AND x.neighbor_id = c.neighbor_id)
           |  GROUP BY c.query_id, c.neighbor_id, c.v, c.rel),
           |s$i AS (SELECT query_id, neighbor_id, v, rel, ms,
           |    (7 * rel - 3 * ms) / 10 AS mmr FROM m$i
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
           |    ORDER BY (7 * rel - 3 * ms) / 10 DESC, neighbor_id) = 1),
           |sel$i AS (SELECT * FROM $prev UNION ALL
           |  SELECT query_id, neighbor_id, v FROM s$i)""".stripMargin
      }
      s"""WITH t AS (SELECT doc_id, $shc AS sh FROM documents),
         |bt AS (
         |  SELECT doc_id - 30 + 500000 AS doc_id, $shDup AS sh
         |  FROM documents WHERE doc_id >= 30 AND doc_id < 42
         |    AND doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 500000, $shNovel
         |  FROM documents WHERE doc_id < 12 AND doc_id % 3 <> 0),
         |sigc AS (SELECT doc_id, sh, $mhCols FROM t),
         |sigb AS (SELECT doc_id, sh, $mhCols FROM bt),
         |cand AS (
         |  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
         |    list_distinct(b.sh) AS sa, list_distinct(c.sh) AS sb
         |  FROM sigb b JOIN sigc c ON ($bandMatch)),
         |flagged AS (SELECT DISTINCT batch_id FROM cand
         |  WHERE CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
         |    len(list_distinct(list_concat(sa, sb))) >= 0.2),
         |surv AS (SELECT doc_id - 500000 AS vec_id FROM bt
         |  WHERE doc_id NOT IN (SELECT batch_id FROM flagged)),
         |q AS (SELECT s.vec_id AS query_id, e.embedding AS qv
         |  FROM surv s JOIN embeddings e ON e.vec_id = s.vec_id),
         |scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ${dcosine("q.qv", "c.embedding")} AS cos_raw
         |  FROM q, embeddings c WHERE q.query_id <> c.vec_id),
         |top8 AS (SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS rel
         |  FROM scored
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos_raw DESC, neighbor_id) <= 8),
         |cands AS (SELECT t8.query_id, t8.neighbor_id, t8.rel,
         |    e.embedding AS v
         |  FROM top8 t8 JOIN embeddings e ON e.vec_id = t8.neighbor_id),
         |s1 AS (SELECT query_id, neighbor_id, v, rel,
         |    (7 * rel - 3 * 0) / 10 AS mmr FROM cands
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY (7 * rel - 3 * 0) / 10 DESC, neighbor_id) = 1),
         |sel1 AS (SELECT query_id, neighbor_id, v FROM s1),
         |${mmrRound(2)},
         |${mmrRound(3)}
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
         |  ROUND(rel, 6) AS relevance, ROUND(ms, 6) AS max_sim_prev,
         |  ROUND(mmr, 6) AS mmr
         |FROM (
         |  SELECT query_id, 1 AS rank, neighbor_id, rel,
         |    CAST(NULL AS DOUBLE) AS ms, mmr FROM s1
         |  UNION ALL SELECT query_id, 2, neighbor_id, rel, ms, mmr FROM s2
         |  UNION ALL SELECT query_id, 3, neighbor_id, rel, ms, mmr FROM s3)
         |ORDER BY query_id, rank""".stripMargin
    }),

    // full BPE tokenizer training: 6 merge rounds over the corpus
    // word-frequency table
    // unigram-LM (SentencePiece-style) tokenizer training: substring
    // seed -> 2 EM rounds (per-word Viterbi E-step, count-collapse
    // M-step) -> fixed char-floor + top-k prune; the oracle replays the
    // dp as an unrolled per-position column chain — every probability a
    // single IEEE division, no transcendental logs, so segmentations
    // match bit-for-bit
    // unigram-LM trained with the ACTUAL SentencePiece prune criterion:
    // EM keeps a vocab+2 multi pool, then 2 rounds each drop the piece
    // whose removal least increases total corpus Viterbi loss (whole-
    // bit surrogate — exact integers cross-engine), final recount. The
    // companion of q376's fixed count rule; CorpusSpec holds the
    // fixture where the two rules disagree.
    Gate("q382_unigram_lm_loss_prune", (s, dir) =>
      Corpus.trainUnigramLmLossPrune(docs(s, dir), "text",
        seedSize = 30, vocabSize = 16, emRounds = 2, pruneRounds = 2)
        .orderBy(col("rank")),
    // DuckDB replay of [[graft.ops.Corpus.trainUnigramLmLossPrune]]
    // (q382: seed 30, vocab 16, 2 EM rounds, 2 prune rounds): the q376
    // dp-column machinery re-used three ways — the EM replay (pool =
    // vocab + pruneRounds multis), then per prune round ONE baseline
    // segmentation chain plus ONE words×candidates chain whose rows
    // carry each candidate's pieces∖cand map and shrunken total (the
    // same 12 dp columns score EVERY candidate at once), losses valued
    // in whole bits via `length(bin(x))` (exact integers both engines),
    // argmin pick by (delta asc, cand asc), and a final recount with
    // every survivor floored at 1. Validated against an independent
    // Python reference at sf0.001/0.01 before porting.
    oracle = {
      val maxW = 12; val maxP = 4; val seedK = 30; val vocK = 16
      val em = 2; val pruneR = 2
      val pool = vocK + pruneR
      // dp + backtrace chain from CTE `src` (must expose w, pm, T plus
      // keepCols); ends with `<prefix>_segs (keepCols..., pm, T, segs)`
      def segChain(prefix: String, src: String, keepCols: Seq[String]): String = {
        val dp = (1 to maxW).map { p =>
          val from = if (p == 1) src else s"${prefix}v${p - 1}"
          s",\n${prefix}v$p AS (SELECT *, ${unigramDpCol(p)} AS d$p FROM $from)"
        }.mkString
        val dpArr = "[" + (("{'s': 1.0, 'nb': CAST(0 AS INT)}" +:
          (1 to maxW).map(p => s"d$p")).mkString(", ")) + "]"
        val bt = (1 to maxW).map(j =>
          s",\n${prefix}u$j AS (SELECT *, CASE WHEN e${j - 1} > 0 THEN " +
            s"-struct_extract(list_extract(dparr, e${j - 1}+1), 'nb') " +
            s"ELSE e${j - 1} END AS e$j FROM ${prefix}u${j - 1})").mkString
        val es = (0 to maxW).map(j => s"e$j").mkString(", ")
        val bounds = s"list_sort(list_distinct([$es]))"
        val kc = keepCols.mkString(", ")
        dp +
          s",\n${prefix}u0 AS (SELECT *, $dpArr AS dparr, " +
          s"CAST(length(w) AS INT) AS e0 FROM ${prefix}v$maxW)" + bt +
          s",\n${prefix}_segs AS (SELECT $kc, pm, T, " +
          s"CASE WHEN $bounds[1] < 0 THEN string_split(w, '') " +
          s"ELSE list_transform(range(1, len($bounds)), k -> " +
          s"substr(w, $bounds[k]+1, $bounds[k+1]-$bounds[k])) END AS segs " +
          s"FROM ${prefix}u$maxW)"
      }
      // whole-bit loss of a segmentation: Σ bitlen(T) − bitlen(count|1)
      val loss = "CAST(list_sum(list_transform(segs, s -> " +
        "length(bin(T)) - length(bin(greatest(coalesce(" +
        "CAST(list_extract(map_extract(pm, s), 1) AS BIGINT), 1), 1)))))" +
        " AS BIGINT)"
      val pmOf = "map(list(piece ORDER BY piece), list(c ORDER BY piece))"
      def emRound(r: Int): String = {
        val prev = s"lpp_${r - 1}"
        s"""lpm_$r AS (SELECT $pmOf AS pm, CAST(SUM(c) AS BIGINT) AS T FROM $prev),
           |t${r}_0 AS (SELECT w, wn, pm, T FROM words CROSS JOIN lpm_$r)${segChain(s"t$r", s"t${r}_0", Seq("w", "wn"))},
           |tm_$r AS (SELECT piece, CAST(SUM(wn) AS BIGINT) AS c FROM
           |  (SELECT unnest(segs) AS piece, wn FROM t${r}_segs) GROUP BY 1),
           |lpp_$r AS (
           |  SELECT ch.piece, greatest(coalesce(tm.c, 0), 1) AS c
           |  FROM chars ch LEFT JOIN tm_$r tm USING (piece)
           |  UNION ALL
           |  SELECT piece, c FROM (
           |    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece ASC) AS rk
           |    FROM tm_$r WHERE length(piece) > 1) WHERE rk <= $pool)""".stripMargin
      }
      def pruneRound(r: Int): String = {
        val prev = if (r == 1) s"lpp_$em" else s"ppp_${r - 1}"
        s"""cands_$r AS (SELECT piece AS cand FROM $prev WHERE length(piece) > 1),
           |pmb_$r AS (SELECT $pmOf AS pm, CAST(SUM(c) AS BIGINT) AS T FROM $prev),
           |b${r}_0 AS (SELECT w, wn, pm, T FROM words CROSS JOIN pmb_$r)${segChain(s"b$r", s"b${r}_0", Seq("w", "wn"))},
           |bloss_$r AS (SELECT w, wn, $loss AS loss FROM b${r}_segs),
           |pmx_$r AS (SELECT cand, $pmOf AS pm, CAST(SUM(c) AS BIGINT) AS T
           |  FROM cands_$r JOIN $prev p ON p.piece <> cand GROUP BY cand),
           |x${r}_0 AS (SELECT w0.w, w0.wn, px.cand, px.pm, px.T
           |  FROM words w0 JOIN cands_$r cd ON contains(w0.w, cd.cand)
           |  JOIN pmx_$r px ON px.cand = cd.cand)${segChain(s"x$r", s"x${r}_0", Seq("w", "wn", "cand"))},
           |xloss_$r AS (SELECT w, wn, cand, $loss AS loss FROM x${r}_segs),
           |dsum_$r AS (SELECT x.cand,
           |    CAST(SUM(x.wn * (x.loss - b.loss)) AS BIGINT) AS delta
           |  FROM xloss_$r x JOIN bloss_$r b USING (w) GROUP BY 1),
           |pick_$r AS (SELECT c.cand FROM cands_$r c
           |  LEFT JOIN dsum_$r d USING (cand)
           |  ORDER BY coalesce(d.delta, 0) ASC, c.cand ASC LIMIT 1),
           |ppp_$r AS (SELECT piece, c FROM $prev
           |  WHERE piece NOT IN (SELECT cand FROM pick_$r))""".stripMargin
      }
      s"""WITH w0 AS (
         |  SELECT unnest(string_split_regex(lower(coalesce(text,'')), '\\s+')) AS w
         |  FROM documents),
         |words AS (SELECT w, CAST(COUNT(1) AS BIGINT) AS wn FROM w0
         |  WHERE length(w) BETWEEN 1 AND $maxW GROUP BY 1),
         |subs AS (
         |  SELECT piece, CAST(SUM(wn) AS BIGINT) AS c FROM (
         |    SELECT wn, unnest(flatten(list_transform(range(1, length(w)+1),
         |      i -> list_transform(range(1, least($maxP, length(w)-i+1)+1),
         |        l -> substr(w, CAST(i AS BIGINT), CAST(l AS BIGINT)))))) AS piece
         |    FROM words) GROUP BY 1),
         |chars AS (SELECT piece, c FROM subs WHERE length(piece) = 1),
         |lpp_0 AS (
         |  SELECT piece, c FROM chars
         |  UNION ALL
         |  SELECT piece, c FROM (
         |    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece ASC) AS rk
         |    FROM subs WHERE length(piece) > 1) WHERE rk <= $seedK),
         |${(1 to em).map(emRound).mkString(",\n")},
         |${(1 to pruneR).map(pruneRound).mkString(",\n")},
         |pmf AS (SELECT $pmOf AS pm, CAST(SUM(c) AS BIGINT) AS T FROM ppp_$pruneR),
         |f_0 AS (SELECT w, wn, pm, T FROM words CROSS JOIN pmf)${segChain("f", "f_0", Seq("w", "wn"))},
         |mcf AS (SELECT piece, CAST(SUM(wn) AS BIGINT) AS c FROM
         |  (SELECT unnest(segs) AS piece, wn FROM f_segs) GROUP BY 1),
         |finalp AS (SELECT p.piece, greatest(coalesce(mcf.c, 0), 1) AS c
         |  FROM ppp_$pruneR p LEFT JOIN mcf USING (piece))
         |SELECT CAST(row_number() OVER (ORDER BY c DESC, piece ASC) AS INT) AS rank,
         |  piece, c AS piece_count
         |FROM finalp ORDER BY rank""".stripMargin
    }),

    // UNK-free byte-fallback encode (SentencePiece byte_fallback): docs
    // get injected emoji/CJK/accents the trained table cannot represent;
    // unknown chars cost their UTF-8 byte count (1-4 tokens), known
    // chars in fallback words cost 1, reachable words cost their
    // Viterbi parse — fertility defined over ANY input, plus the
    // n_byte_tokens drift telemetry
    Gate("q383_unigram_byte_fallback", (s, dir) => {
      val d0 = docs(s, dir)
      val trained = Corpus.trainUnigramLm(d0, "text")
        .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
      val d = d0.withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" héllo中")))
        .when(col("doc_id") % 3 === 1,
          concat(col("text"), lit(" data🦜")))
        .otherwise(col("text")))
      Corpus.unigramEncodeStatsByteFallback(d, "doc_id", "text", trained)
        .orderBy(col("doc_id"))
    },
    // DuckDB replay of [[graft.ops.Corpus.unigramEncodeStatsByteFallback]]
    // on the q376-trained table over the q383 injected corpus: the q378
    // encode chains unchanged for reachable words; fallback (unreachable
    // or over-cap) words are valued PER CHAR — 1 token for a table piece,
    // `strlen(char)` (UTF-8 bytes) otherwise — with the byte share
    // surfaced as n_byte_tokens.
    oracle = {
      val maxW = 12
      val dpChain = (1 to maxW).map(p =>
        s",\nev_$p AS (SELECT *, ${unigramDpCol(p)} AS d$p FROM ev_${p - 1})")
        .mkString
      val dpArr = "[" + (("{'s': 1.0, 'nb': CAST(0 AS INT)}" +:
        (1 to maxW).map(p => s"d$p")).mkString(", ")) + "]"
      val btChain = (1 to maxW).map(j =>
        s",\neu_$j AS (SELECT *, CASE WHEN e${j - 1} > 0 THEN " +
          s"-struct_extract(list_extract(dparr, e${j - 1}+1), 'nb') " +
          s"ELSE e${j - 1} END AS e$j FROM eu_${j - 1})").mkString
      val es = (0 to maxW).map(j => s"e$j").mkString(", ")
      def perChar(wexpr: String, bytesOnly: Boolean): String = {
        val known = if (bytesOnly) "0" else "1"
        s"CAST(list_sum(list_transform(string_split($wexpr, ''), ch -> " +
          s"CASE WHEN len(map_extract(pm, ch)) > 0 THEN $known " +
          s"ELSE strlen(ch) END)) AS BIGINT)"
      }
      s"""WITH $unigramLmCtes,
         |d AS (SELECT doc_id, CASE
         |    WHEN doc_id % 3 = 0 THEN text || ' héllo中'
         |    WHEN doc_id % 3 = 1 THEN text || ' data🦜'
         |    ELSE text END AS text FROM documents),
         |dw AS (SELECT doc_id,
         |    unnest(list_filter(string_split_regex(lower(coalesce(text,'')), '\\s+'),
         |      x -> length(x) >= 1)) AS w
         |  FROM d),
         |uw AS (SELECT DISTINCT w FROM dw WHERE length(w) <= $maxW),
         |epm AS (SELECT map(list(piece ORDER BY piece), list(c ORDER BY piece)) AS pm,
         |    CAST(SUM(c) AS BIGINT) AS T FROM pieces_2),
         |ev_0 AS (SELECT w, pm, T FROM uw CROSS JOIN epm)$dpChain,
         |eu_0 AS (SELECT w, pm, $dpArr AS dparr,
         |    CAST(length(w) AS INT) AS e0 FROM ev_$maxW)$btChain,
         |wtok AS (SELECT w,
         |    CASE WHEN list_sort(list_distinct([$es]))[1] < 0
         |         THEN ${perChar("w", bytesOnly = false)}
         |         ELSE CAST(len(list_sort(list_distinct([$es]))) - 1 AS BIGINT) END AS n_tok,
         |    CASE WHEN list_sort(list_distinct([$es]))[1] < 0
         |         THEN ${perChar("w", bytesOnly = true)}
         |         ELSE CAST(0 AS BIGINT) END AS n_byte
         |  FROM eu_$maxW),
         |dwt AS (SELECT doc_id,
         |    CASE WHEN length(dw.w) > $maxW THEN ${perChar("dw.w", bytesOnly = false)}
         |         ELSE wtok.n_tok END AS n_tok,
         |    CASE WHEN length(dw.w) > $maxW THEN ${perChar("dw.w", bytesOnly = true)}
         |         ELSE wtok.n_byte END AS n_byte
         |  FROM dw LEFT JOIN wtok USING (w) CROSS JOIN epm),
         |agg AS (SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_words,
         |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |    CAST(SUM(n_byte) AS BIGINT) AS n_byte_tokens FROM dwt GROUP BY 1)
         |SELECT d2.doc_id,
         |  coalesce(agg.n_words, 0) AS n_words,
         |  coalesce(agg.n_tokens, 0) AS n_tokens,
         |  coalesce(agg.n_byte_tokens, 0) AS n_byte_tokens,
         |  CASE WHEN coalesce(agg.n_words, 0) > 0 THEN
         |    ROUND(CAST(agg.n_tokens AS DOUBLE) / agg.n_words, 6) END AS tokens_per_word
         |FROM documents d2 LEFT JOIN agg USING (doc_id)
         |ORDER BY d2.doc_id""".stripMargin
    }),

    // interpolated Kneser–Ney BIGRAM LM (the actual KenLM/CCNet model
    // class; q180's add-one unigram is its simplification): train on
    // the English docs, score every doc — avg negative log-prob + exact
    // OOV counts under the D=0.75 absolutely-discounted, continuation-
    // smoothed bigram model with a per-document BOS context
    Gate("q384_kn_bigram_lm", (s, dir) => {
      val d = docs(s, dir)
      Corpus.knScore(d, "doc_id", "text",
          d.filter(col("lang") === "en"), "text")
        .orderBy(col("doc_id"))
    },
    // interpolated Kneser–Ney bigram replay: same bigram/context/
    // continuation count tables, same D=0.75 formula with identical
    // association order (ulp drift absorbed by the round-6 export);
    // BOS context = '' (unreachable as a token — empties filtered)
    oracle =
      s"""$knLmCtes
         |SELECT doc_id, n_tokens, n_oov,
         |  ROUND(nll / n_tokens, 6) AS avg_neg_logprob
         |FROM agg ORDER BY doc_id""".stripMargin),

    // cross-corpus maximal contamination spans (the q377 exact-substring
    // machinery pointed at benchmark LEAKAGE): bench = the doc_id%7==0
    // docs with a marker tail appended, corpus = the rest with the SAME
    // tail injected on doc_id%5==0 — so known-extent leaked spans
    // surface beside the natural 4-gram overlaps, and only corpus docs
    // sharing verbatim benchmark text emit rows
    Gate("q385_contamination_spans", (s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 7 === 0)
        .select(concat(coalesce(col("text"), lit("")),
          lit(" zq0 zq1 zq2 zq3 zq4")).as("text"))
      val corpus = d.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(coalesce(col("text"), lit("")),
              lit(" zq0 zq1 zq2 zq3 zq4")))
            .otherwise(coalesce(col("text"), lit(""))).as("text"))
      Dedup.contaminationSpans(corpus, "doc_id", "text",
          bench, "text", minLen = 4)
        .orderBy(col("doc_id"), col("span_start"))
    },
    // cross-corpus span replay: q377's islands machinery with the dup
    // set swapped for the benchmark's distinct 4-gram hash set
    oracle = {
      val l = 4
      val tail = "' zq0 zq1 zq2 zq3 zq4'"
      s"""WITH bsrc AS (SELECT coalesce(text, '') || $tail AS text
         |    FROM documents WHERE doc_id % 7 = 0),
         |bh AS (SELECT DISTINCT unnest(${dshingleHashesK("text", l)}) AS h
         |    FROM bsrc),
         |c AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
         |      THEN coalesce(text, '') || $tail
         |      ELSE coalesce(text, '') END AS text
         |    FROM documents WHERE doc_id % 7 <> 0),
         |t AS (SELECT doc_id, ${dshingleHashesK("text", l)} AS sh FROM c),
         |e0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(sh)),
         |    i -> {'pos': CAST(i-1 AS BIGINT), 'h': sh[i]})) AS u FROM t),
         |e AS (SELECT doc_id, struct_extract(u, 'pos') AS pos,
         |    struct_extract(u, 'h') AS h FROM e0),
         |f AS (SELECT doc_id, pos FROM e SEMI JOIN bh USING (h)),
         |r AS (SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM f)
         |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
         |  CAST(MAX(pos) + ${l - 1} AS BIGINT) AS span_end,
         |  CAST(MAX(pos) - MIN(pos) + $l AS BIGINT) AS span_tokens
         |FROM r GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin
    }),

    // CCNet head/middle/tail: q384's KN scores feed an exact
    // DISTRIBUTED-rank 3-tile split (range-repartition + per-partition
    // row_number + offset prefix sum — no whole-corpus single-task
    // window), then per-bucket membership and score bands
    Gate("q386_perplexity_buckets", (s, dir) => {
      val d = docs(s, dir)
      Corpus.perplexityBuckets(d, "doc_id", "text",
          d.filter(col("lang") === "en"), "text", nBuckets = 3)
        .orderBy(col("bucket"))
    },
    // CCNet bucketing replay: the q384 chain feeds NTILE(3) over the
    // rounded score (doc_id tie-break — total order on both engines);
    // the Spark side's distributed-rank arithmetic is NTILE by
    // definition, so the window form IS the oracle
    oracle =
      s"""$knLmCtes,
         |sel AS (SELECT doc_id, n_tokens,
         |    ROUND(nll / n_tokens, 6) AS score FROM agg),
         |r AS (SELECT n_tokens, score,
         |    NTILE(3) OVER (ORDER BY score, doc_id) AS bucket FROM sel)
         |SELECT CAST(bucket AS INTEGER) AS bucket,
         |  CAST(COUNT(1) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  MIN(score) AS min_score, MAX(score) AS max_score
         |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin),

    // Bradley–Terry leaderboard from pairwise preferences (the
    // arena-style ranking aggregation): consecutive same-user events
    // of different types are matches, the higher-valued event wins
    // (value tie → lexicographically smaller type — deterministic);
    // 8 MM rounds with sum-normalization; output is the strength table
    Gate("q387_bradley_terry", (s, dir) => {
      val ev = events(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val lagged = ev.select(
        col("event_type").as("__t2__"), col("value").as("__v2__"),
        lag(col("event_type"), 1).over(w).as("__t1__"),
        lag(col("value"), 1).over(w).as("__v1__"))
      val m = lagged
        .filter(col("__t1__").isNotNull && col("__t1__") =!= col("__t2__"))
        .select(
          when(col("__v1__") > col("__v2__"), col("__t1__"))
            .when(col("__v2__") > col("__v1__"), col("__t2__"))
            .when(col("__t1__") < col("__t2__"), col("__t1__"))
            .otherwise(col("__t2__")).as("winner"),
          when(col("__v1__") > col("__v2__"), col("__t2__"))
            .when(col("__v2__") > col("__v1__"), col("__t1__"))
            .when(col("__t1__") < col("__t2__"), col("__t2__"))
            .otherwise(col("__t1__")).as("loser"))
      graft.ops.Profiling.bradleyTerry(m, "winner", "loser", rounds = 8)
        .orderBy(col("rank"))
    },
    // Bradley–Terry replay: LAG-derived matches, symmetric pair-count
    // table, then 8 MM rounds unrolled as CTE pairs (den join + win
    // division + sum-normalization); float-sum order differs between
    // engines but the round-6 export absorbs the ulp drift (the
    // sum(ln) posture); rank over the ROUNDED p on both sides
    oracle = {
      val roundCte = (k: Int) =>
        s"""d$k AS MATERIALIZED (SELECT nm.i AS i,
           |    SUM(CAST(nm.n AS DOUBLE) / (pi.p + pj.p)) AS den
           |  FROM nm JOIN r${k - 1} pi ON nm.i = pi.i
           |    JOIN r${k - 1} pj ON nm.j = pj.i GROUP BY 1),
           |u$k AS MATERIALIZED (SELECT wn.i,
           |    CASE WHEN wn.wins = 0 OR d.den IS NULL OR d.den = 0
           |      THEN CAST(0 AS DOUBLE)
           |      ELSE CAST(wn.wins AS DOUBLE) / d.den END AS praw
           |  FROM wn LEFT JOIN d$k d ON wn.i = d.i),
           |s$k AS MATERIALIZED (SELECT SUM(praw) AS s FROM u$k),
           |r$k AS MATERIALIZED (SELECT i, CASE WHEN s.s = 0 THEN praw
           |    ELSE praw / s.s END AS p
           |  FROM u$k, s$k s)""".stripMargin
      s"""WITH l AS (SELECT event_type AS t2, value AS v2,
         |    LAG(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS t1,
         |    LAG(value) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS v1
         |  FROM events),
         |m AS (SELECT
         |    CASE WHEN v1 > v2 THEN t1 WHEN v2 > v1 THEN t2
         |         WHEN t1 < t2 THEN t1 ELSE t2 END AS w,
         |    CASE WHEN v1 > v2 THEN t2 WHEN v2 > v1 THEN t1
         |         WHEN t1 < t2 THEN t2 ELSE t1 END AS lo
         |  FROM l WHERE t1 IS NOT NULL AND t1 <> t2),
         |pc AS MATERIALIZED (SELECT w, lo, CAST(COUNT(1) AS BIGINT) AS n
         |  FROM m GROUP BY 1, 2),
         |it AS (SELECT DISTINCT i FROM
         |  (SELECT w AS i FROM pc UNION SELECT lo AS i FROM pc)),
         |wl AS (SELECT w AS i, SUM(n) AS wins FROM pc GROUP BY 1),
         |ll AS (SELECT lo AS i, SUM(n) AS losses FROM pc GROUP BY 1),
         |wn AS MATERIALIZED (SELECT it.i,
         |    CAST(COALESCE(wl.wins, 0) AS BIGINT) AS wins,
         |    CAST(COALESCE(wl.wins, 0) + COALESCE(ll.losses, 0)
         |      AS BIGINT) AS matches
         |  FROM it LEFT JOIN wl ON it.i = wl.i
         |    LEFT JOIN ll ON it.i = ll.i),
         |nm AS MATERIALIZED (SELECT i, j, CAST(SUM(n) AS BIGINT) AS n FROM (
         |    SELECT w AS i, lo AS j, n FROM pc
         |    UNION ALL SELECT lo AS i, w AS j, n FROM pc) GROUP BY 1, 2),
         |r0 AS MATERIALIZED (SELECT i,
         |    CAST(1 AS DOUBLE) / (SELECT COUNT(1) FROM it) AS p FROM it),
         |${(1 to 8).map(roundCte).mkString(",\n")}
         |SELECT wn.i AS item, wn.wins, wn.matches,
         |  ROUND(r8.p, 6) AS p,
         |  CAST(ROW_NUMBER() OVER (ORDER BY ROUND(r8.p, 6) DESC, wn.i)
         |    AS INTEGER) AS rank
         |FROM wn JOIN r8 ON wn.i = r8.i ORDER BY rank""".stripMargin
    })
  )

  /** Recursive-CTE connected components over the verified minhash pairs —
    * shared by q54 (frontier CC) and q61 (alternating CC): identical
    * cluster contract, so one oracle checks both algorithms. */
  private lazy val ccOracleSql: String =
    s"""WITH RECURSIVE $pairsCcCtes
       |SELECT id AS doc_id, MIN(label) AS cluster
       |FROM cc GROUP BY id ORDER BY doc_id""".stripMargin

  /** Recursive head over the verified minhash pairs: `edges` holds both
    * directions and `cc(id, label)` spreads every label along them, so
    * `MIN(label)` per id is the doc's cluster. Follows `WITH RECURSIVE`. */
  private lazy val pairsCcCtes: String =
    s"""$minhashPairsCtes,
       |edges AS (
       |  SELECT id_a AS s, id_b AS d FROM pairsq
       |  UNION ALL SELECT id_b, id_a FROM pairsq),
       |cc(id, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.s, cc.label FROM edges e JOIN cc ON cc.id = e.d)""".stripMargin

  /** CTE chain shared by q52/q54: 32-perm signatures, 8 bands × 4 rows
    * (band match = 4 equalities), exact shingle-hash-set Jaccard ≥ 0.2;
    * final CTE `pairsq(id_a, id_b, jac)` holds the verified pairs. */
  private lazy val minhashPairsCtes: String = {
    val sh = dshingleHashes
    val mhCols = Dedup.minhashParams(32).zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(sh, h -> (h * $a + $b) % ${Dedup.MinhashP})) AS mh_$i"
    }.mkString(",\n  ")
    val bandMatch = (0 until 8).map { bnd =>
      "(" + (bnd * 4 until bnd * 4 + 4).map(i => s"a.mh_$i = b.mh_$i").mkString(" AND ") + ")"
    }.mkString(" OR ")
    s"""t AS (SELECT doc_id, $sh AS sh FROM documents),
       |sig AS (SELECT doc_id, sh, $mhCols FROM t),
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    list_distinct(a.sh) AS sa, list_distinct(b.sh) AS sb
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandMatch)),
       |j AS (SELECT id_a, id_b,
       |  CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
       |    len(list_distinct(list_concat(sa, sb))) AS jac
       |  FROM cand),
       |pairsq AS (SELECT id_a, id_b, jac FROM j WHERE jac >= 0.2)""".stripMargin
  }
}
