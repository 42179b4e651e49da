package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the per-row text-analysis operators
  * (language ID, stopword hits, repetition stats). The SQL-lambda
  * formulations in [[graft.ops.TextAnalysis]] are the executable spec and
  * stay DuckDB-replayable; these JIT-compiled twins produce IDENTICAL
  * values (cross-validated in OpsSpec and by the differential oracle) at a
  * fraction of the per-row cost — higher-order `filter`/`aggregate`
  * lambdas are interpreted per ELEMENT in Spark, which is the difference
  * between a toy and a 100 TB text-filter pass.
  */
object TextImpls {

  /** Canonical per-language stopword lists (the single definition;
    * [[graft.ops.TextAnalysis.stopwords]] re-exports it). Order matters:
    * argmax ties break by list position.
    *
    * Deliberately TINY (8 words × 5 languages) and PINNED: the q47/q48
    * oracle SQL is generated from these lists, so they are part of the
    * verified contract. Production language-ID swaps in
    * [[fullStopwords]] via [[langIdFull]] — same mechanism (single pass,
    * argmax, codegen), realistic lists. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es", "una"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "est", "que"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不")
  )

  /** Realistic per-language function-word lists (~60 words × 11
    * languages, standard public stopword inventories — the most frequent
    * articles/prepositions/pronouns/conjunctions of each language).
    * Backs [[langIdFull]]; the pinned [[stopwords]] stay the oracle
    * contract. Order matters: argmax ties break by list position, and
    * languages sharing forms (es/pt, de/nl) disambiguate through the
    * words they do NOT share. */
  val fullStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "an", "of", "and", "to", "in", "is", "that",
      "it", "was", "for", "on", "are", "as", "with", "his", "they", "at",
      "be", "this", "have", "from", "or", "had", "by", "not", "but",
      "what", "all", "were", "we", "when", "your", "can", "there", "she",
      "which", "their", "will", "other", "about", "out", "many", "then",
      "them", "these", "so", "some", "her", "would", "him", "into", "has",
      "more", "two", "than", "its", "who", "been"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu",
      "den", "von", "sie", "mit", "dem", "sich", "des", "auf", "für",
      "als", "auch", "es", "an", "werden", "aus", "er", "hat", "dass",
      "war", "eine", "sind", "noch", "wie", "einem", "über", "einen",
      "so", "zum", "haben", "nur", "oder", "aber", "vor", "zur", "bis",
      "mehr", "durch", "man", "sein", "wurde", "sei", "bei", "um", "am",
      "nach", "wenn", "im", "einer", "ihre", "dieser", "wir", "kann"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es", "una", "en",
      "un", "ser", "se", "no", "haber", "por", "con", "su", "para",
      "como", "estar", "tener", "le", "lo", "todo", "pero", "más",
      "hacer", "o", "poder", "decir", "este", "ir", "otro", "ese", "si",
      "me", "ya", "ver", "porque", "dar", "cuando", "él", "muy", "sin",
      "vez", "mucho", "saber", "qué", "sobre", "mi", "alguno", "mismo",
      "yo", "también", "hasta", "año", "dos", "querer", "entre", "así"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "est", "que", "une",
      "en", "du", "dans", "il", "qui", "à", "pas", "pour", "sur", "se",
      "plus", "pouvoir", "par", "je", "avec", "tout", "faire", "son",
      "mettre", "autre", "on", "mais", "nous", "comme", "ou", "si",
      "leur", "y", "dire", "elle", "avant", "deux", "même", "prendre",
      "aussi", "celui", "donner", "bien", "où", "fois", "vous", "encore",
      "nouveau", "aller", "cela", "entre", "premier", "vouloir", "déjà",
      "grand", "ce"),
    "it" -> Seq("il", "di", "che", "e", "la", "per", "un", "in", "una",
      "mi", "sono", "ho", "ma", "lo", "ha", "le", "si", "con", "ti",
      "se", "come", "io", "questo", "qui", "hai", "del", "tu", "della",
      "era", "lei", "al", "mio", "da", "lui", "anche", "tutto", "più",
      "ci", "suo", "mia", "c'è", "noi", "così", "molto", "quando",
      "fatto", "essere", "fare", "dei", "alla", "ora", "dove", "loro",
      "sta", "senza", "questa", "stato", "niente", "quella", "gli"),
    "pt" -> Seq("o", "a", "de", "que", "e", "do", "da", "em", "um",
      "para", "é", "com", "não", "uma", "os", "no", "se", "na", "por",
      "mais", "as", "dos", "como", "mas", "foi", "ao", "ele", "das",
      "tem", "à", "seu", "sua", "ou", "ser", "quando", "muito", "há",
      "nos", "já", "está", "eu", "também", "só", "pelo", "pela", "até",
      "isso", "ela", "entre", "era", "depois", "sem", "mesmo", "aos",
      "ter", "seus", "quem", "nas", "me", "esse"),
    "nl" -> Seq("de", "en", "van", "ik", "te", "dat", "die", "in", "een",
      "hij", "het", "niet", "zijn", "is", "was", "op", "aan", "met",
      "als", "voor", "had", "er", "maar", "om", "hem", "dan", "zou",
      "of", "wat", "mijn", "men", "dit", "zo", "door", "over", "ze",
      "zich", "bij", "ook", "tot", "je", "mij", "uit", "der", "daar",
      "haar", "naar", "heb", "hoe", "heeft", "hebben", "deze", "u",
      "want", "nog", "zal", "me", "zij", "nu", "ge"),
    "sv" -> Seq("och", "det", "att", "i", "en", "jag", "hon", "som",
      "han", "på", "den", "med", "var", "sig", "för", "så", "till",
      "är", "men", "ett", "om", "hade", "de", "av", "icke", "mig", "du",
      "henne", "då", "sin", "nu", "har", "inte", "hans", "honom",
      "skulle", "hennes", "där", "min", "man", "ej", "vid", "kunde",
      "något", "från", "ut", "när", "efter", "upp", "vi", "dem", "vara",
      "vad", "över", "än", "dig", "kan", "sina", "här", "ha"),
    "pl" -> Seq("i", "w", "na", "z", "do", "to", "się", "nie", "że",
      "jest", "po", "jak", "o", "ale", "co", "tak", "za", "od", "przez",
      "być", "przy", "już", "tylko", "lub", "czy", "może", "przed",
      "także", "dla", "go", "tego", "tym", "była", "był", "było", "są",
      "będzie", "ich", "jego", "jej", "który", "która", "które", "mnie",
      "bardzo", "kiedy", "gdzie", "jeszcze", "można", "nawet", "ten",
      "też", "ma", "bez", "pod", "nad", "więc", "aby", "ani", "u"),
    "ru" -> Seq("и", "в", "не", "на", "я", "быть", "он", "с", "что",
      "а", "по", "это", "она", "этот", "к", "но", "они", "мы", "как",
      "из", "у", "который", "то", "за", "свой", "весь", "год", "от",
      "так", "о", "для", "ты", "же", "все", "тот", "мочь", "вы",
      "человек", "такой", "его", "сказать", "только", "или", "ещё",
      "бы", "себя", "один", "если", "дело", "вот", "уже", "время",
      "когда", "да", "нет", "очень", "при", "был", "было", "есть"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不", "这",
      "他", "也", "就", "人", "都", "说", "要", "去", "你", "会", "着",
      "没有", "看", "好", "自己", "她", "们", "到", "那", "与", "以",
      "很", "个", "中", "上", "为", "来", "我们", "对", "能", "而",
      "还", "一个", "把", "被", "让", "给", "但", "从", "想", "做",
      "地", "得", "里", "后", "又", "吗", "吧", "它", "因为", "所以")
  )

  private def toNames(ls: Seq[(String, Seq[String])]): Array[UTF8String] =
    ls.map(l => UTF8String.fromString(l._1)).toArray

  private def toSets(ls: Seq[(String, Seq[String])]): Array[java.util.HashSet[String]] =
    ls.map { case (_, ws) =>
      val s = new java.util.HashSet[String]()
      ws.foreach(s.add)
      s
    }.toArray

  private val langNames: Array[UTF8String] = toNames(stopwords)
  private val wordSets: Array[java.util.HashSet[String]] = toSets(stopwords)
  private val fullLangNames: Array[UTF8String] = toNames(fullStopwords)
  private val fullWordSets: Array[java.util.HashSet[String]] = toSets(fullStopwords)

  private val setsByLang: java.util.HashMap[String, java.util.HashSet[String]] = {
    val m = new java.util.HashMap[String, java.util.HashSet[String]]()
    stopwords.indices.foreach(i => m.put(stopwords(i)._1, wordSets(i)))
    m
  }

  private val und = UTF8String.fromString("und")

  // Java-regex \s (ASCII) — the exact class Spark's split("\\s+") uses;
  // Character.isWhitespace would disagree on NEL/unicode spaces
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Per-token callback over the \s+ tokenization of `s`, skipping the
    * empty tokens a regex split can produce only at position 0 (stopwords
    * are never empty, so skipping them is value-neutral). */
  @inline private def foreachToken(s: String)(f: (String) => Unit): Unit = {
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(s.charAt(i))) i += 1
      if (i > start) f(s.substring(start, i))
    }
  }

  /** Language-ID over the ALREADY-LOWERCASED text: stopword-hit argmax,
    * ties by list order, "und" when zero hits — value-identical to
    * [[graft.ops.TextAnalysis.languageId]]'s lambda formulation (which
    * this caller must feed `lower(text)`, keeping Spark's own lowercasing
    * semantics). */
  private def argmaxLang(lowered: String,
      sets: Array[java.util.HashSet[String]],
      names: Array[UTF8String]): UTF8String = {
    val counts = new Array[Int](sets.length)
    foreachToken(lowered) { t =>
      var l = 0
      while (l < sets.length) {
        if (sets(l).contains(t)) counts(l) += 1
        l += 1
      }
    }
    var best = 0
    var bestIdx = -1
    var l = 0
    while (l < counts.length) {
      if (counts(l) > best) { best = counts(l); bestIdx = l }
      l += 1
    }
    if (bestIdx < 0) und else names(bestIdx)
  }

  def langId(lowered: String): UTF8String =
    argmaxLang(lowered, wordSets, langNames)

  /** Language-ID over [[fullStopwords]] — the production-sized lists;
    * same single-pass argmax mechanism as [[langId]]. */
  def langIdFull(lowered: String): UTF8String =
    argmaxLang(lowered, fullWordSets, fullLangNames)

  /** Stopword hits for one language over SINGLE-SPACE-split tokens of the
    * already-lowercased text — matches `size(filter(split(lowered, " "),
    * isin(words)))` (empty tokens from consecutive spaces are never
    * stopwords, so the manual scan skips them with no value change). */
  def spaceStopwordHits(lowered: String, lang: String): Long = {
    val set = setsByLang.get(lang)
    if (set == null) return 0L
    var hits = 0L
    var i = 0
    val n = lowered.length
    while (i < n) {
      while (i < n && lowered.charAt(i) == ' ') i += 1
      val start = i
      while (i < n && lowered.charAt(i) != ' ') i += 1
      if (i > start && set.contains(lowered.substring(start, i))) hits += 1
    }
    hits
  }

  /** Repetition stats over the RAW text in one pass, as
    * [n_lines, distinct_lines, max_line_len, word_count, max_word_run]:
    * value-identical to the lambda formulation of
    * [[graft.ops.TextAnalysis.repetitionFeatures]] (lines split on \n and
    * kept when they contain a non-space char — Spark `trim` strips 0x20
    * only; the modal-word count equals the longest equal run of the
    * sorted word array). */
  def repetitionStats(raw: String): Array[Long] = {
    var nLines = 0L
    var maxLineLen = 0L
    val seen = new java.util.HashSet[String]()
    var ls = 0
    val n = raw.length
    var i = 0
    while (i <= n) {
      if (i == n || raw.charAt(i) == '\n') {
        val line = raw.substring(ls, i)
        // Spark trim(l) strips ' ' only; keep iff any non-space remains
        var j = 0
        var keep = false
        while (j < line.length && !keep) {
          if (line.charAt(j) != ' ') keep = true
          j += 1
        }
        if (keep) {
          nLines += 1
          seen.add(line)
          if (line.length > maxLineLen) maxLineLen = line.length
        }
        ls = i + 1
      }
      i += 1
    }
    var wc = 0L
    val counts = new java.util.HashMap[String, Int]()
    var maxRun = 0L
    foreachToken(raw) { w =>
      wc += 1
      val c = counts.merge(w, 1, (a, b) => a + b)
      if (c > maxRun) maxRun = c
    }
    Array(nLines, seen.size.toLong, maxLineLen, wc, maxRun)
  }

  /** Distinct word n-grams of `s` in one pass. Tokens are maximal runs
    * of non-SPACE characters (U+0020 ONLY — the
    * [[graft.ops.Dedup.decontaminate]] contract and its DuckDB replay
    * split on the single space character, unlike the \s+ tokenization
    * used by [[foreachToken]]); gram i = tokens i..i+n-1 joined by
    * single spaces; duplicates dropped keeping first-occurrence order —
    * value-identical to the SQL-lambda spec
    * (`SpecTwins.wordNgramsLambda`, OpsSpec). Fewer than n tokens → empty
    * array (never a descending bogus-index sequence). */
  def wordNgrams(s: String, n: Int): GenericArrayData = {
    val len = s.length
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var tok = 0
    var i = 0
    while (i < len) {
      while (i < len && s.charAt(i) == ' ') i += 1
      val st = i
      while (i < len && s.charAt(i) != ' ') i += 1
      if (i > st) {
        if (tok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, tok * 2)
          ends = java.util.Arrays.copyOf(ends, tok * 2)
        }
        starts(tok) = st
        ends(tok) = i
        tok += 1
      }
    }
    if (tok < n) return new GenericArrayData(Array.empty[Any])
    val grams = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder(64)
    var g = 0
    while (g <= tok - n) {
      sb.setLength(0)
      var j = g
      while (j < g + n) {
        if (j > g) sb.append(' ')
        sb.append(s, starts(j), ends(j))
        j += 1
      }
      grams.add(sb.toString)
      g += 1
    }
    val out = new Array[Any](grams.size)
    val it = grams.iterator()
    var k = 0
    while (it.hasNext) {
      out(k) = UTF8String.fromString(it.next())
      k += 1
    }
    new GenericArrayData(out)
  }

  /** All word n-grams for n = 1..maxN as (n, gram) structs in ONE pass,
    * DUPLICATES KEPT — BLEU/chrF clipping needs multiset counts, unlike
    * [[wordNgrams]]' distinct set. Tokenization is the same \s+ class
    * as the regexp-lambda spec in [[graft.ops.TextAnalysis.bleu]]. */
  def taggedWordNgrams(s: String, maxN: Int): GenericArrayData = {
    val len = s.length
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var tok = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val st = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > st) {
        if (tok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, tok * 2)
          ends = java.util.Arrays.copyOf(ends, tok * 2)
        }
        starts(tok) = st
        ends(tok) = i
        tok += 1
      }
    }
    var total = 0
    var n = 1
    while (n <= maxN) { total += math.max(0, tok - n + 1); n += 1 }
    val out = new Array[Any](total)
    val sb = new java.lang.StringBuilder(64)
    var k = 0
    n = 1
    while (n <= maxN) {
      var g = 0
      while (g <= tok - n) {
        sb.setLength(0)
        var j = g
        while (j < g + n) {
          if (j > g) sb.append(' ')
          sb.append(s, starts(j), ends(j))
          j += 1
        }
        out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](n, UTF8String.fromString(sb.toString)))
        k += 1
        g += 1
      }
      n += 1
    }
    new GenericArrayData(out)
  }

  /** All char n-grams for n = 1..maxN over the WHITESPACE-STRIPPED
    * string, code-point windows (matching Spark substr / DuckDB substr
    * semantics on non-BMP text), duplicates kept — the chrF gram pass
    * as one JIT loop instead of O(len·maxN) interpreted substr
    * lambdas. */
  def taggedCharNgrams(s: String, maxN: Int): GenericArrayData = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!isWs(c)) sb.append(c)
      i += 1
    }
    val t = sb.toString
    // code-point boundaries
    val bounds = new Array[Int](t.length + 1)
    var cp = 0
    i = 0
    while (i < t.length) {
      bounds(cp) = i
      i += Character.charCount(t.codePointAt(i))
      cp += 1
    }
    bounds(cp) = t.length
    var total = 0
    var n = 1
    while (n <= maxN) { total += math.max(0, cp - n + 1); n += 1 }
    val out = new Array[Any](total)
    var k = 0
    n = 1
    while (n <= maxN) {
      var g = 0
      while (g <= cp - n) {
        out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](n, UTF8String.fromString(t.substring(bounds(g),
            bounds(g + n)))))
        k += 1
        g += 1
      }
      n += 1
    }
    new GenericArrayData(out)
  }

  /** Per-PAIR clipped n-gram overlap for n = 1..maxN in one pass —
    * the row-local heart of BLEU/chrF: candidate and reference live in
    * the same row, so clipping `Σ_g min(cnt_cand, cnt_ref)` needs no
    * distributed join at all. Returns (n, m, tc, tr) structs: clipped
    * matches, candidate total, reference total. `char` selects char
    * grams over the whitespace-stripped string (code-point windows)
    * vs space-joined word grams. */
  def ngramOverlapStats(cand: String, ref: String, maxN: Int,
      char: Boolean): GenericArrayData = {
    def wordGramsAt(s: String, n: Int): java.util.ArrayList[String] = {
      val toks = new java.util.ArrayList[String]()
      foreachToken(s)(t => toks.add(t))
      val out = new java.util.ArrayList[String](
        math.max(0, toks.size - n + 1))
      val sb = new java.lang.StringBuilder(64)
      var g = 0
      while (g <= toks.size - n) {
        sb.setLength(0)
        var j = g
        while (j < g + n) {
          if (j > g) sb.append(' ')
          sb.append(toks.get(j))
          j += 1
        }
        out.add(sb.toString)
        g += 1
      }
      out
    }
    def charGramsAt(s: String, n: Int): java.util.ArrayList[String] = {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i); if (!isWs(c)) sb.append(c); i += 1
      }
      val t = sb.toString
      val bounds = new Array[Int](t.length + 1)
      var cp = 0
      i = 0
      while (i < t.length) {
        bounds(cp) = i
        i += Character.charCount(t.codePointAt(i))
        cp += 1
      }
      bounds(cp) = t.length
      val out = new java.util.ArrayList[String](math.max(0, cp - n + 1))
      var g = 0
      while (g <= cp - n) {
        out.add(t.substring(bounds(g), bounds(g + n)))
        g += 1
      }
      out
    }
    val out = new Array[Any](maxN)
    var n = 1
    while (n <= maxN) {
      val cg = if (char) charGramsAt(cand, n) else wordGramsAt(cand, n)
      val rg = if (char) charGramsAt(ref, n) else wordGramsAt(ref, n)
      val refCnt = new java.util.HashMap[String, Integer](rg.size * 2)
      var i = 0
      while (i < rg.size) {
        refCnt.merge(rg.get(i), Integer.valueOf(1), (a, b) =>
          Integer.valueOf(a.intValue + b.intValue))
        i += 1
      }
      var m = 0L
      i = 0
      while (i < cg.size) {
        val left = refCnt.get(cg.get(i))
        if (left != null && left.intValue > 0) {
          m += 1
          refCnt.put(cg.get(i), Integer.valueOf(left.intValue - 1))
        }
        i += 1
      }
      out(n - 1) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](n, m, cg.size.toLong, rg.size.toLong))
      n += 1
    }
    new GenericArrayData(out)
  }

  /** Rebuild `s` from the \s+ tokens NOT covered by any flagged
    * k-shingle: flag i covers tokens i..i+k-1 (0-based, the
    * [[graft.functions.HashImpls.shingleHashes]] position space —
    * tokenization is the same `split("\\s+", -1)` INCLUDING boundary
    * empties, so positions align). Survivors join with single spaces
    * (whitespace is normalized — span removal cannot preserve the
    * original separators around excised spans). Fewer flags than
    * shingles (or none) leaves the uncovered tail intact. */
  def removeCoveredTokens(s: String,
      flags: org.apache.spark.sql.catalyst.util.ArrayData,
      k: Int): UTF8String = {
    val toks = s.split("\\s+", -1)
    val nFlags = flags.numElements()
    val sb = new java.lang.StringBuilder(s.length)
    var first = true
    var j = 0
    while (j < toks.length) {
      var i = math.max(0, j - (k - 1))
      val hi = math.min(j, nFlags - 1)
      var covered = false
      while (i <= hi && !covered) {
        if (flags.getBoolean(i)) covered = true
        i += 1
      }
      if (!covered) {
        if (!first) sb.append(' ')
        sb.append(toks(j))
        first = false
      }
      j += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Rebuild `s` from the parts of its LITERAL-`sep` split whose 0-based
    * index appears in the sorted `keep` positions, re-joined with `sep` —
    * a two-pointer merge, O(parts + kept) per document. The split keeps
    * empty parts INCLUDING trailing ones (the `split(col, regex, -1)`
    * convention the keep-positions were numbered against). Positions
    * beyond the last part are ignored; an empty keep list yields "". */
  def keepSplitParts(s: String, sep: String,
      keep: org.apache.spark.sql.catalyst.util.ArrayData): UTF8String = {
    val nKeep = keep.numElements()
    val sl = sep.length
    val sb = new java.lang.StringBuilder(s.length)
    var ki = 0
    var idx = 0
    var start = 0
    var first = true
    var done = false
    while (!done && ki < nKeep) {
      val e = s.indexOf(sep, start)
      val end = if (e < 0) s.length else e
      // keep is sorted ascending and unique (window survivors); skip any
      // stale entries below the cursor defensively
      while (ki < nKeep && keep.getInt(ki) < idx) ki += 1
      if (ki < nKeep && keep.getInt(ki) == idx) {
        if (!first) sb.append(sep)
        sb.append(s, start, end)
        first = false
        ki += 1
      }
      idx += 1
      if (e < 0) done = true else start = e + sl
    }
    UTF8String.fromString(sb.toString)
  }

  /** Unicode canonicalization for dedup keys, one pass: NFKD decompose
    * (folds compatibility variants — full-width forms, ligatures — AND
    * splits off combining marks), drop the marks (café ≡ café ≡ cafe
    * however the bytes arrived), collapse whitespace runs to single
    * spaces, trim, lowercase with Locale.ROOT (no Turkish-I surprise
    * from the JVM default locale). On pure-ASCII input this reduces to
    * lowercase + whitespace-collapse + trim, which is what the DuckDB
    * oracle replays; the unicode cases are spec-asserted. */
  def normalizeText(raw: String): UTF8String = {
    val d = java.text.Normalizer.normalize(raw,
      java.text.Normalizer.Form.NFKD)
    val sb = new java.lang.StringBuilder(d.length)
    var pendingSpace = false
    var i = 0
    while (i < d.length) {
      val c = d.charAt(i)
      val t = Character.getType(c)
      if (t == Character.NON_SPACING_MARK ||
          t == Character.COMBINING_SPACING_MARK ||
          t == Character.ENCLOSING_MARK) {
        // combining mark: drop
      } else if (Character.isWhitespace(c)) {
        pendingSpace = sb.length() > 0
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    UTF8String.fromString(sb.toString.toLowerCase(java.util.Locale.ROOT))
  }

  /** Codepoint-histogram entropy stats in ONE pass:
    * [n_codepoints, n_distinct, entropy_nats]. Entropy is
    * `-Σ p·ln(p)` over the codepoint histogram, folded in ASCENDING
    * CODEPOINT order with each term as `(c/n)·ln(c/n)` in IEEE double —
    * the exact fold the DuckDB oracle replays (single-codepoint strings
    * sort in codepoint order there), so the value is engine-exact
    * before rounding. Empty input → [0, 0, 0]. */
  def charEntropy(raw: String): Array[Double] = {
    val counts = new java.util.TreeMap[Integer, Long]()
    var n = 0L
    var i = 0
    while (i < raw.length) {
      val cp = raw.codePointAt(i)
      counts.merge(cp, 1L, (a, b) => a + b)
      n += 1
      i += Character.charCount(cp)
    }
    var acc = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next().toDouble / n.toDouble
      acc += p * math.log(p)
    }
    Array(n.toDouble, counts.size().toDouble, if (n == 0) 0.0 else -acc)
  }

  /** The Gopher repetition-rule counters in ONE pass:
    * `[n_words,
    *   top2_covered, top3_covered, top4_covered,
    *   dup5_covered, ..., dup10_covered]`.
    * For n ∈ {2,3,4}: word positions covered by the UNION of the
    * occurrences of the single most frequent n-gram (ties to the
    * lexicographically smallest gram — space-joined comparison, the
    * oracle's ORDER BY). For n ∈ {5..10}: positions covered by the
    * union of ALL n-grams occurring at least twice. Fractions are
    * covered/n_words, computed in Column math so the division is one
    * exact IEEE op on both engines. */
  def gopherRepetition(raw: String): Array[Long] = {
    val words = raw.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty)
    val nw = words.length
    val out = new Array[Long](10)
    out(0) = nw
    def gram(j: Int, n: Int): String = {
      val sb = new java.lang.StringBuilder()
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(words(j + k))
        k += 1
      }
      sb.toString
    }
    var slot = 1
    var n = 2
    while (n <= 10) {
      val isTop = n <= 4
      if (nw >= n) {
        val counts = new java.util.HashMap[String, Integer]()
        var j = 0
        while (j + n <= nw) {
          counts.merge(gram(j, n), 1, (a, b) => a + b)
          j += 1
        }
        val covered = new Array[Boolean](nw)
        if (isTop) {
          var best: String = null
          var bestC = 0
          val it = counts.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val c = e.getValue.intValue()
            if (c > bestC || (c == bestC && e.getKey.compareTo(best) < 0)) {
              best = e.getKey; bestC = c
            }
          }
          j = 0
          while (j + n <= nw) {
            if (gram(j, n) == best) {
              var k = 0
              while (k < n) { covered(j + k) = true; k += 1 }
            }
            j += 1
          }
        } else {
          j = 0
          while (j + n <= nw) {
            if (counts.get(gram(j, n)) >= 2) {
              var k = 0
              while (k < n) { covered(j + k) = true; k += 1 }
            }
            j += 1
          }
        }
        var cov = 0L
        var i = 0
        while (i < nw) { if (covered(i)) cov += 1; i += 1 }
        out(slot) = cov
      }
      slot += 1
      n += 1
    }
    out
  }

  /** ONE classic BPE merge scan over a symbol sequence: leftmost
    * non-overlapping occurrences of adjacent (a, b) fuse to `a+b`, the
    * scan continuing AFTER each fused token (so [a,a,a] with (a,a) →
    * [aa, a], and [a]·5 → [aa, aa, a] — the leftmost-first overlap
    * rule every BPE trainer implements). */
  def bpeMergeOnce(syms: org.apache.spark.sql.catalyst.util.ArrayData,
      a: UTF8String, b: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = syms.numElements()
    val out = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      val cur = syms.getUTF8String(i)
      if (i + 1 < n && cur.equals(a) && syms.getUTF8String(i + 1).equals(b)) {
        out.add(UTF8String.concat(a, b))
        i += 2
      } else {
        out.add(cur)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Viterbi segmentation of one word under a unigram LM (the
    * SentencePiece E-step): dp over CODE-POINT positions maximizing the
    * product of piece probabilities `c/total`, each a single IEEE
    * division and the dp transition a single IEEE multiply in a FIXED
    * order — deterministic across engines (the DuckDB oracle replays the
    * same dp column chain). Ties keep the SMALLEST split point i
    * (ascending scan, strict >). A word not coverable by the piece set
    * falls back to its raw code points (the oracle's string_split twin).
    * Reference semantics: `reference/cubes` has no tokenizer — this is
    * the beyond-reference LLM-pipeline surface (Kudo, ACL'18). */
  def unigramViterbi(word: String,
      pieces: java.util.HashMap[String, java.lang.Long], total: Long,
      maxPieceLen: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val cps = word.codePoints.toArray
    val L = cps.length
    val dpS = new Array[Double](L + 1)
    val dpB = new Array[Int](L + 1)
    dpS(0) = 1.0
    var pos = 1
    while (pos <= L) {
      var bs = 0.0
      var bb = -1
      var i = math.max(0, pos - maxPieceLen)
      while (i < pos) {
        val c = pieces.get(new String(cps, i, pos - i))
        if (c != null) {
          val s = dpS(i) * (c.toDouble / total.toDouble)
          if (s > bs) { bs = s; bb = i }
        }
        i += 1
      }
      dpS(pos) = bs
      dpB(pos) = bb
      pos += 1
    }
    val out = new java.util.ArrayList[UTF8String]()
    if (L > 0 && dpB(L) < 0) {
      var k = 0
      while (k < L) {
        out.add(UTF8String.fromString(new String(cps, k, 1))); k += 1
      }
    } else {
      val segs = new java.util.ArrayList[String]()
      var p = L
      while (p > 0) {
        val b = dpB(p); segs.add(new String(cps, b, p - b)); p = b
      }
      var k = segs.size - 1
      while (k >= 0) {
        out.add(UTF8String.fromString(segs.get(k))); k -= 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Integer-exact surrogate Viterbi loss of one word: the piece
    * SEQUENCE is the probability-optimal segmentation ([[unigramViterbi]]'s
    * dp, bit-identical across engines), and the segmentation is VALUED
    * in whole bits — each token costs `bitlen(total) − bitlen(count)`
    * (floor(log₂)+1 via leading-zero count; DuckDB replays it as
    * `length(bin(x))`), a ≤1-bit-per-token approximation of
    * −log₂(count/total). Whole-bit valuation is what makes loss sums
    * across words EXACT INTEGERS — order-independent, engine-identical —
    * where a float log-loss would drift by summation order AND
    * transcendental rounding. Char-fallback (unreachable) words cost
    * per char with absent chars floored at count 1. */
  def unigramILoss(word: String,
      pieces: java.util.HashMap[String, java.lang.Long], total: Long,
      maxPieceLen: Int): Long = {
    val cps = word.codePoints.toArray
    val L = cps.length
    if (L == 0) return 0L
    val dpS = new Array[Double](L + 1)
    val dpB = new Array[Int](L + 1)
    dpS(0) = 1.0
    var pos = 1
    while (pos <= L) {
      var bs = 0.0
      var bb = -1
      var i = math.max(0, pos - maxPieceLen)
      while (i < pos) {
        val c = pieces.get(new String(cps, i, pos - i))
        if (c != null) {
          val s = dpS(i) * (c.toDouble / total.toDouble)
          if (s > bs) { bs = s; bb = i }
        }
        i += 1
      }
      dpS(pos) = bs
      dpB(pos) = bb
      pos += 1
    }
    val blT = 64 - java.lang.Long.numberOfLeadingZeros(total)
    def cost(piece: String): Long = {
      val c = pieces.get(piece)
      val cv = if (c == null) 1L else math.max(c.longValue, 1L)
      blT - (64 - java.lang.Long.numberOfLeadingZeros(cv))
    }
    var loss = 0L
    if (dpB(L) < 0) {
      var k = 0
      while (k < L) { loss += cost(new String(cps, k, 1)); k += 1 }
    } else {
      var p = L
      while (p > 0) {
        val b = dpB(p); loss += cost(new String(cps, b, p - b)); p = b
      }
    }
    loss
  }

  /** Per-word loss deltas for EVERY prune candidate in ONE pass — the
    * SentencePiece prune criterion's distributed inner loop: slot i is
    * `ILoss(w | pieces∖candᵢ) − ILoss(w | pieces)` ([[unigramILoss]])
    * when the word contains candᵢ, else 0 (a word not containing the
    * piece segments identically with or without it, so its delta is
    * exactly zero — the contains prefilter is lossless). The base loss
    * is computed lazily once per word that matches any candidate. */
  def unigramLossDeltas(word: String,
      base: java.util.HashMap[String, java.lang.Long], total: Long,
      cands: Array[String],
      candTables: Array[java.util.HashMap[String, java.lang.Long]],
      candTotals: Array[Long], maxPieceLen: Int): Array[Long] = {
    val out = new Array[Long](cands.length)
    var baseLoss = java.lang.Long.MIN_VALUE
    var i = 0
    while (i < cands.length) {
      if (word.contains(cands(i))) {
        if (baseLoss == java.lang.Long.MIN_VALUE)
          baseLoss = unigramILoss(word, base, total, maxPieceLen)
        out(i) = unigramILoss(word, candTables(i), candTotals(i),
          maxPieceLen) - baseLoss
      }
      i += 1
    }
    out
  }

  /** Unigram-LM-encode every \s+-word of `text` with a TRAINED piece
    * table ([[unigramViterbi]] per word) and return [n_words, n_tokens]
    * in one JIT pass — the fertility readout under the q376 tokenizer.
    * Words longer than `maxWordLen` code points fall back to their
    * code-point count (they were outside the training cap, so the
    * piece table carries no evidence for them — the documented char
    * fallback the DuckDB oracle replays). */
  /** Lowercase EXACTLY as Spark's `lower()` does (UTF8String.toLowerCase
    * — ASCII fast path, String.toLowerCase beyond): the trainers
    * lowercase with `lower(col)`, so the encode side must take the
    * identical form of every word or train≡encode breaks on non-ASCII
    * text (Locale.ROOT and UTF8String disagree under some JVM
    * locales). */
  private def sparkLower(text: String): String =
    UTF8String.fromString(text).toLowerCase.toString

  def unigramEncodeStats(text: String,
      pieces: java.util.HashMap[String, java.lang.Long], total: Long,
      maxPieceLen: Int, maxWordLen: Int): Array[Long] = {
    var nWords = 0L
    var nTokens = 0L
    val it = sparkLower(text)
      .split("\\s+").iterator.filter(_.nonEmpty)
    while (it.hasNext) {
      val w = it.next()
      nWords += 1
      val cps = w.codePointCount(0, w.length)
      if (cps > maxWordLen) nTokens += cps
      else nTokens +=
        unigramViterbi(w, pieces, total, maxPieceLen).numElements()
    }
    Array(nWords, nTokens)
  }

  /** UNK-free unigram encode with BYTE FALLBACK (the SentencePiece
    * `byte_fallback` contract): known text costs exactly what
    * [[unigramEncodeStats]] charges, but any char the piece table
    * cannot represent decomposes into its UTF-8 BYTES, one token each
    * (1–4 by code point) — so fertility is defined over ANY input, no
    * UNK. Per word: within the training cap and dp-reachable → Viterbi
    * token count (all pieces known, zero byte tokens); unreachable or
    * over-cap → per char: 1 token if the char is a table piece, else
    * its UTF-8 byte count (those are the byte tokens). Returns
    * [n_words, n_tokens, n_byte_tokens] — the third the "how much of
    * this batch fell to bytes" ingest-drift telemetry. */
  def unigramEncodeStatsBf(text: String,
      pieces: java.util.HashMap[String, java.lang.Long], total: Long,
      maxPieceLen: Int, maxWordLen: Int): Array[Long] = {
    var nWords = 0L
    var nTokens = 0L
    var nByte = 0L
    def utf8Len(cp: Int): Long =
      if (cp < 0x80) 1L else if (cp < 0x800) 2L
      else if (cp < 0x10000) 3L else 4L
    def perChar(cps: Array[Int]): Unit = {
      var k = 0
      while (k < cps.length) {
        if (pieces.containsKey(new String(cps, k, 1))) nTokens += 1L
        else { val b = utf8Len(cps(k)); nTokens += b; nByte += b }
        k += 1
      }
    }
    val it = sparkLower(text).split("\\s+").iterator.filter(_.nonEmpty)
    while (it.hasNext) {
      val w = it.next()
      nWords += 1
      val cps = w.codePoints.toArray
      if (cps.length > maxWordLen) perChar(cps)
      else {
        // inline dp (unigramViterbi's) so reachability is observable —
        // the array fallback is indistinguishable from a legit char parse
        val L = cps.length
        val dpS = new Array[Double](L + 1)
        val dpB = new Array[Int](L + 1)
        dpS(0) = 1.0
        var pos = 1
        while (pos <= L) {
          var bs = 0.0
          var bb = -1
          var i = math.max(0, pos - maxPieceLen)
          while (i < pos) {
            val c = pieces.get(new String(cps, i, pos - i))
            if (c != null) {
              val s = dpS(i) * (c.toDouble / total.toDouble)
              if (s > bs) { bs = s; bb = i }
            }
            i += 1
          }
          dpS(pos) = bs
          dpB(pos) = bb
          pos += 1
        }
        if (dpB(L) < 0) perChar(cps)
        else {
          var p = L
          while (p > 0) { nTokens += 1L; p = dpB(p) }
        }
      }
    }
    Array(nWords, nTokens, nByte)
  }

  /** BPE-encode every \s+-word of `text` with the trained merge list
    * and return [n_words, n_tokens] in one JIT pass. Encoding applies
    * merges IN RANK ORDER, one [[bpeMergeOnce]]-style scan each — for
    * BPE merges one scan per rank is exhaustive (a fused symbol is
    * strictly longer than either side, so a scan can't create new
    * occurrences of its own pair), and rank-order application equals
    * the classic lowest-rank-first encode loop. */
  def bpeEncodeStats(text: String,
      merges: Array[Array[String]]): Array[Long] = {
    var nWords = 0L
    var nTokens = 0L
    val it = sparkLower(text)
      .split("\\s+").iterator.filter(_.nonEmpty)
    while (it.hasNext) {
      val w = it.next()
      nWords += 1
      var syms = {
        val b = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < w.length) {
          val cp = w.codePointAt(i)
          val n = Character.charCount(cp)
          b += w.substring(i, i + n)
          i += n
        }
        b
      }
      var m = 0
      while (m < merges.length && syms.length >= 2) {
        val a = merges(m)(0)
        val bb = merges(m)(1)
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == bb) {
            out += (a + bb); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out
        m += 1
      }
      nTokens += syms.length
    }
    Array(nWords, nTokens)
  }

  /** Byte length of the raw-DEFLATE stream of `bytes` at the pinned
    * `level` (nowrap — no zlib header/trailer, so the count is pure
    * entropy coding). One Deflater per call: the object is scoped to the
    * row because Deflater is stateful and codegen'd rows interleave
    * across operators; allocation cost is dwarfed by the deflate pass
    * itself. */
  def deflateSize(bytes: Array[Byte], level: Int): Long = {
    val d = new java.util.zip.Deflater(level, true)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }
}

/** lang_id(lowered): stopword-argmax language ID in one call. `full`
  * selects the production-sized [[TextImpls.fullStopwords]] lists; false =
  * the pinned oracle lists. */
case class LangIdExpr(child: Expression, full: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    if (full) TextImpls.langIdFull(s) else TextImpls.langId(s)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (full) "langIdFull" else "langId"
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextImpls.$fn($c.toString())")
  }
  override protected def withNewChildInternal(c: Expression): LangIdExpr =
    copy(child = c)
}

/** stopword_hits(lowered): one language's hit count over space-split
  * tokens. */
case class StopwordHitsExpr(child: Expression, lang: String)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TextImpls.spaceStopwordHits(v.asInstanceOf[UTF8String].toString, lang)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"""graft.functions.TextImpls.spaceStopwordHits($c.toString(), "$lang")""")
  override protected def withNewChildInternal(c: Expression): StopwordHitsExpr =
    copy(child = c)
}

/** repetition_stats(text): [n_lines, distinct_lines, max_line_len,
  * word_count, max_word_run] in one pass. */
case class RepetitionStatsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(
      TextImpls.repetitionStats(v.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextImpls.repetitionStats($c.toString()))")
  override protected def withNewChildInternal(c: Expression): RepetitionStatsExpr =
    copy(child = c)
}

/** word_ngrams(text, n): distinct space-joined word n-grams in one pass
  * (first-occurrence order). The hot path of the decontamination join's
  * gram construction; the interpreted lambda spec costs O(n) interpreter
  * dispatches per GRAM. */
case class WordNGramsExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n-gram size must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextImpls.wordNgrams(v.asInstanceOf[UTF8String].toString, n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextImpls.wordNgrams($c.toString(), $n)")
  override protected def withNewChildInternal(c: Expression): WordNGramsExpr =
    copy(child = c)
}

/** remove_covered_tokens(text, flags, k): rebuild text from the tokens
  * not covered by any flagged k-shingle — the span-excision pass of
  * exact-substring dedup, one JIT loop per doc. */
case class RemoveCoveredTokensExpr(left: Expression, right: Expression,
    k: Int) extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(k >= 1, s"shingle size must be >= 1, got $k")
  override def dataType: DataType = StringType
  override protected def nullSafeEval(t: Any, f: Any): Any =
    TextImpls.removeCoveredTokens(t.asInstanceOf[UTF8String].toString,
      f.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, f) =>
      s"graft.functions.TextImpls.removeCoveredTokens($t.toString(), $f, $k)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): RemoveCoveredTokensExpr =
    copy(left = l, right = r)
}

/** keep_split_parts(text, positions, sep): rebuild text from the
  * literal-`sep` split parts at the sorted kept positions — the
  * paragraph-dedup rebuild as one O(parts + kept) JIT loop per doc (an
  * `array_contains` filter lambda is O(parts × kept): a 10k-paragraph
  * concatenated web document would pay 10⁸ interpreted comparisons). */
case class KeepSplitPartsExpr(left: Expression, right: Expression,
    sep: String) extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(sep.nonEmpty, "separator must be non-empty")
  override def dataType: DataType = StringType
  override protected def nullSafeEval(t: Any, p: Any): Any =
    TextImpls.keepSplitParts(t.asInstanceOf[UTF8String].toString, sep,
      p.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("sep", sep, "java.lang.String")
    defineCodeGen(ctx, ev, (t, p) =>
      s"graft.functions.TextImpls.keepSplitParts($t.toString(), $sepRef, $p)")
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): KeepSplitPartsExpr =
    copy(left = l, right = r)
}

/** normalize_text(raw): NFKD + mark-strip + whitespace-collapse + trim +
  * ROOT-locale lowercase — the unicode-safe dedup key. */
case class NormalizeTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    TextImpls.normalizeText(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextImpls.normalizeText($c.toString())")
  override protected def withNewChildInternal(c: Expression): NormalizeTextExpr =
    copy(child = c)
}

/** deflate_size(text, level): DEFLATE-compressed byte count of the
  * UTF-8 text — the Gopher/RefinedWeb-style repetitiveness signal
  * (compressed/raw ratio near 0 = templated or repeated text; ≈1 =
  * high-entropy). JIT-compiled per-row codec work, the same posture as
  * the multimodal decoders: no SQL oracle can replay zlib, so the
  * contract is the spec's direct cross-validation plus pinned level. */
case class DeflateSizeExpr(child: Expression, level: Int)
    extends UnaryExpression {
  require(level >= 0 && level <= 9, s"deflate level must be 0..9, got $level")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TextImpls.deflateSize(v.asInstanceOf[UTF8String].getBytes, level)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextImpls.deflateSize($c.getBytes(), $level)")
  override protected def withNewChildInternal(c: Expression): DeflateSizeExpr =
    copy(child = c)
}

/** char_entropy(text): [n_codepoints, n_distinct, entropy_nats] of the
  * codepoint histogram in one JIT pass — the gibberish/binary-junk
  * quality signal (natural language sits ~3–4.5 nats; near-zero =
  * repeated filler, near-ln(n) = random bytes). */
case class CharEntropyExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(
      TextImpls.charEntropy(v.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextImpls.charEntropy($c.toString()))")
  override protected def withNewChildInternal(c: Expression): CharEntropyExpr =
    copy(child = c)
}

/** bpe_merge_once(syms, a, b): one classic BPE merge scan (leftmost
  * non-overlapping, continue after the fused token) as a JIT call —
  * the per-round inner loop of tokenizer training, run over the
  * vocabulary table, never the corpus. */
case class BpeMergeOnceExpr(child: Expression, a: String, b: String)
    extends UnaryExpression {
  require(a.nonEmpty && b.nonEmpty, "merge symbols must be non-empty")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextImpls.bpeMergeOnce(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      UTF8String.fromString(a), UTF8String.fromString(b))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("a", UTF8String.fromString(a),
      "org.apache.spark.unsafe.types.UTF8String")
    val bRef = ctx.addReferenceObj("b", UTF8String.fromString(b),
      "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextImpls.bpeMergeOnce($c, $aRef, $bRef)")
  }
  override protected def withNewChildInternal(c: Expression): BpeMergeOnceExpr =
    copy(child = c)
}

/** gopher_repetition(text): the 10 Gopher repetition counters in one
  * JIT pass (word count + top-2/3/4-gram and dup-5..10-gram coverage). */
case class GopherRepetitionExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(
      TextImpls.gopherRepetition(v.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextImpls.gopherRepetition($c.toString()))")
  override protected def withNewChildInternal(c: Expression): GopherRepetitionExpr =
    copy(child = c)
}

/** bpe_encode_stats(text): [n_words, n_tokens] after encoding every
  * word with the trained merge list (rank-ordered scans, one JIT pass
  * per document — the tokenizer-application side of [[BpeMergeOnceExpr]]'s
  * training loop). */
case class BpeEncodeStatsExpr(child: Expression,
    merges: Seq[(String, String)]) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private lazy val mergeArr: Array[Array[String]] =
    merges.map(p => Array(p._1, p._2)).toArray
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(
      TextImpls.bpeEncodeStats(v.asInstanceOf[UTF8String].toString, mergeArr))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("merges",
      merges.map(p => Array(p._1, p._2)).toArray, "java.lang.String[][]")
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextImpls.bpeEncodeStats($c.toString(), $mRef))")
  }
  override protected def withNewChildInternal(c: Expression): BpeEncodeStatsExpr =
    copy(child = c)
}

/** unigram_viterbi(word): Viterbi-best segmentation of one word under
  * the CURRENT unigram piece table (baked in as a literal — tokenizer
  * vocabularies are driver-scale, the kmeans-centroid posture). One JIT
  * dp per word over the VOCABULARY table, never the corpus. */
case class UnigramViterbiExpr(child: Expression,
    pieces: Seq[(String, Long)], total: Long, maxPieceLen: Int)
    extends UnaryExpression {
  require(total > 0, s"total must be > 0, got $total")
  require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  private lazy val table: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.size * 2)
    pieces.foreach { case (p, c) => m.put(p, java.lang.Long.valueOf(c)) }
    m
  }
  override def nullSafeEval(v: Any): Any =
    TextImpls.unigramViterbi(v.asInstanceOf[UTF8String].toString, table,
      total, maxPieceLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tRef = ctx.addReferenceObj("pieces", table, "java.util.HashMap")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextImpls.unigramViterbi($c.toString(), $tRef, " +
        s"${total}L, $maxPieceLen)")
  }
  override protected def withNewChildInternal(c: Expression): UnigramViterbiExpr =
    copy(child = c)
}

/** unigram_encode_stats(text): [n_words, n_tokens] after segmenting
  * every word with the trained unigram piece table (one JIT Viterbi per
  * word) — the application side of [[UnigramViterbiExpr]]'s training
  * loop, [[BpeEncodeStatsExpr]]'s sibling. */
case class UnigramEncodeStatsExpr(child: Expression,
    pieces: Seq[(String, Long)], total: Long, maxPieceLen: Int,
    maxWordLen: Int) extends UnaryExpression {
  require(total > 0, s"total must be > 0, got $total")
  require(maxPieceLen >= 1 && maxWordLen >= maxPieceLen,
    "need maxWordLen >= maxPieceLen >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private lazy val table: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.size * 2)
    pieces.foreach { case (p, c) => m.put(p, java.lang.Long.valueOf(c)) }
    m
  }
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(TextImpls.unigramEncodeStats(
      v.asInstanceOf[UTF8String].toString, table, total, maxPieceLen,
      maxWordLen))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tRef = ctx.addReferenceObj("pieces", table, "java.util.HashMap")
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextImpls.unigramEncodeStats($c.toString(), " +
        s"$tRef, ${total}L, $maxPieceLen, $maxWordLen))")
  }
  override protected def withNewChildInternal(c: Expression): UnigramEncodeStatsExpr =
    copy(child = c)
}

/** unigram_encode_stats_bf(text): [n_words, n_tokens, n_byte_tokens]
  * under the byte-fallback encode ([[TextImpls.unigramEncodeStatsBf]])
  * — [[UnigramEncodeStatsExpr]]'s UNK-free sibling. */
case class UnigramEncodeStatsBfExpr(child: Expression,
    pieces: Seq[(String, Long)], total: Long, maxPieceLen: Int,
    maxWordLen: Int) extends UnaryExpression {
  require(total > 0, s"total must be > 0, got $total")
  require(maxPieceLen >= 1 && maxWordLen >= maxPieceLen,
    "need maxWordLen >= maxPieceLen >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private lazy val table: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.size * 2)
    pieces.foreach { case (p, c) => m.put(p, java.lang.Long.valueOf(c)) }
    m
  }
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(TextImpls.unigramEncodeStatsBf(
      v.asInstanceOf[UTF8String].toString, table, total, maxPieceLen,
      maxWordLen))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tRef = ctx.addReferenceObj("pieces", table, "java.util.HashMap")
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextImpls.unigramEncodeStatsBf($c.toString(), " +
        s"$tRef, ${total}L, $maxPieceLen, $maxWordLen))")
  }
  override protected def withNewChildInternal(c: Expression): UnigramEncodeStatsBfExpr =
    copy(child = c)
}

/** unigram_loss_deltas(word): per-candidate integer loss deltas for the
  * SentencePiece-style prune ([[graft.ops.Corpus.trainUnigramLmLossPrune]]'s
  * inner loop) — one JIT pass per word scores ALL candidates
  * ([[TextImpls.unigramLossDeltas]]); the base table, the per-candidate
  * tables∖candᵢ and their totals are all built ONCE at plan
  * construction (vocabularies are driver-scale) and ride as literals. */
case class UnigramLossDeltasExpr(child: Expression,
    pieces: Seq[(String, Long)], cands: Seq[String], maxPieceLen: Int)
    extends UnaryExpression {
  require(cands.nonEmpty, "unigram_loss_deltas needs >= 1 candidate")
  require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
  private val total: Long = pieces.map(_._2).sum
  require(total > 0, s"total piece count must be > 0, got $total")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private def tableOf(ps: Seq[(String, Long)]) = {
    val m = new java.util.HashMap[String, java.lang.Long](ps.size * 2)
    ps.foreach { case (p, c) => m.put(p, java.lang.Long.valueOf(c)) }
    m
  }
  private lazy val table = tableOf(pieces)
  private lazy val candArr: Array[String] = cands.toArray
  private lazy val candTables
      : Array[java.util.HashMap[String, java.lang.Long]] =
    cands.map(c => tableOf(pieces.filterNot(_._1 == c))).toArray
  private lazy val candTotals: Array[Long] = {
    val cm = pieces.toMap
    cands.map(c => total - cm(c)).toArray
  }
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(TextImpls.unigramLossDeltas(
      v.asInstanceOf[UTF8String].toString, table, total, candArr,
      candTables, candTotals, maxPieceLen))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tRef = ctx.addReferenceObj("pieces", table, "java.util.HashMap")
    val cRef = ctx.addReferenceObj("cands", candArr, "java.lang.String[]")
    val ctRef = ctx.addReferenceObj("candTables", candTables,
      "java.util.HashMap[]")
    val ttRef = ctx.addReferenceObj("candTotals", candTotals, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextImpls.unigramLossDeltas($c.toString(), " +
        s"$tRef, ${total}L, $cRef, $ctRef, $ttRef, $maxPieceLen))")
  }
  override protected def withNewChildInternal(c: Expression): UnigramLossDeltasExpr =
    copy(child = c)
}

/** tagged_word_ngrams(text, maxN): every word n-gram for n = 1..maxN as
  * (n, gram) structs, duplicates kept — the BLEU gram pass in one JIT
  * loop (the transform/sequence/slice lambda formulation is interpreted
  * per GRAM and measured 10×+ slower at corpus scale). */
case class TaggedWordNGramsExpr(child: Expression, maxN: Int)
    extends UnaryExpression {
  require(maxN >= 1 && maxN <= 8, s"maxN must be in [1,8], got $maxN")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("g", StringType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextImpls.taggedWordNgrams(v.asInstanceOf[UTF8String].toString, maxN)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextImpls.taggedWordNgrams($c.toString(), $maxN)")
  override protected def withNewChildInternal(c: Expression): TaggedWordNGramsExpr =
    copy(child = c)
}

/** tagged_char_ngrams(text, maxN): every char n-gram over the
  * whitespace-stripped text for n = 1..maxN as (n, gram) structs —
  * the chrF gram pass, one JIT loop per row. */
case class TaggedCharNGramsExpr(child: Expression, maxN: Int)
    extends UnaryExpression {
  require(maxN >= 1 && maxN <= 8, s"maxN must be in [1,8], got $maxN")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("g", StringType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextImpls.taggedCharNgrams(v.asInstanceOf[UTF8String].toString, maxN)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextImpls.taggedCharNgrams($c.toString(), $maxN)")
  override protected def withNewChildInternal(c: Expression): TaggedCharNGramsExpr =
    copy(child = c)
}

/** ngram_overlap_stats(cand, ref, maxN, char): per-pair clipped n-gram
  * overlap (n, m, tc, tr) for n = 1..maxN — the BLEU/chrF inner loop as
  * ONE row-local JIT pass: the explode+full-outer-join lambda
  * formulation shuffles every gram of the corpus to clip counts that
  * never leave the row. */
case class NgramOverlapStatsExpr(left: Expression, right: Expression,
    maxN: Int, char: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(maxN >= 1 && maxN <= 8, s"maxN must be in [1,8], got $maxN")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("m", LongType, nullable = false),
    StructField("tc", LongType, nullable = false),
    StructField("tr", LongType, nullable = false))),
    containsNull = false)
  override protected def nullSafeEval(c: Any, r: Any): Any =
    TextImpls.ngramOverlapStats(c.asInstanceOf[UTF8String].toString,
      r.asInstanceOf[UTF8String].toString, maxN, char)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, r) =>
      s"graft.functions.TextImpls.ngramOverlapStats($c.toString(), " +
        s"$r.toString(), $maxN, $char)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): NgramOverlapStatsExpr =
    copy(left = l, right = r)
}

object NativeText {
  import org.apache.spark.sql.GraftSqlBridge.{column => toCol, expression => toExpr}
  def lang_id(lowered: Column): Column = toCol(LangIdExpr(toExpr(lowered)))
  def normalize_text(raw: Column): Column =
    toCol(NormalizeTextExpr(toExpr(raw)))
  /** Production language-ID: ~60 words × 11 languages. */
  def lang_id_full(lowered: Column): Column =
    toCol(LangIdExpr(toExpr(lowered), full = true))
  def stopword_hits(lowered: Column, lang: String): Column =
    toCol(StopwordHitsExpr(toExpr(lowered), lang))
  def repetition_stats(text: Column): Column =
    toCol(RepetitionStatsExpr(toExpr(text)))
  def word_ngrams(text: Column, n: Int): Column =
    toCol(WordNGramsExpr(toExpr(text), n))
  def remove_covered_tokens(text: Column, flags: Column, k: Int): Column =
    toCol(RemoveCoveredTokensExpr(toExpr(text), toExpr(flags), k))
  def keep_split_parts(text: Column, positions: Column, sep: String): Column =
    toCol(KeepSplitPartsExpr(toExpr(text), toExpr(positions), sep))
  def deflate_size(text: Column, level: Int = 6): Column =
    toCol(DeflateSizeExpr(toExpr(text), level))
  def char_entropy(text: Column): Column =
    toCol(CharEntropyExpr(toExpr(text)))
  def bpe_merge_once(syms: Column, a: String, b: String): Column =
    toCol(BpeMergeOnceExpr(toExpr(syms), a, b))
  def bpe_encode_stats(text: Column, merges: Seq[(String, String)]): Column =
    toCol(BpeEncodeStatsExpr(toExpr(text), merges))
  def unigram_viterbi(word: Column, pieces: Seq[(String, Long)],
      total: Long, maxPieceLen: Int): Column =
    toCol(UnigramViterbiExpr(toExpr(word), pieces, total, maxPieceLen))
  def unigram_loss_deltas(word: Column, pieces: Seq[(String, Long)],
      cands: Seq[String], maxPieceLen: Int): Column =
    toCol(UnigramLossDeltasExpr(toExpr(word), pieces, cands, maxPieceLen))
  def unigram_encode_stats_bf(text: Column, pieces: Seq[(String, Long)],
      total: Long, maxPieceLen: Int, maxWordLen: Int): Column =
    toCol(UnigramEncodeStatsBfExpr(toExpr(text), pieces, total,
      maxPieceLen, maxWordLen))
  def unigram_encode_stats(text: Column, pieces: Seq[(String, Long)],
      total: Long, maxPieceLen: Int, maxWordLen: Int): Column =
    toCol(UnigramEncodeStatsExpr(toExpr(text), pieces, total,
      maxPieceLen, maxWordLen))
  def gopher_repetition(text: Column): Column =
    toCol(GopherRepetitionExpr(toExpr(text)))
  def tagged_word_ngrams(text: Column, maxN: Int): Column =
    toCol(TaggedWordNGramsExpr(toExpr(text), maxN))
  def tagged_char_ngrams(text: Column, maxN: Int): Column =
    toCol(TaggedCharNGramsExpr(toExpr(text), maxN))
  def ngram_overlap_stats(cand: Column, ref: Column, maxN: Int,
      char: Boolean): Column =
    toCol(NgramOverlapStatsExpr(toExpr(cand), toExpr(ref), maxN, char))
}
