package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language ID, quality scoring, fingerprinting.
  *
  * Everything here is pure `org.apache.spark.sql.functions` / higher-order
  * functions — no UDFs, so the whole pipeline stays inside whole-stage
  * codegen and scales linearly with no shuffle (all ops are per-row until
  * an aggregation is requested).
  */
object TextAnalysis {

  /** Token count on raw whitespace split. */
  def tokenCount(text: Column): Column = size(split(text, "\\s+"))

  /** BPE-ish regex token count: words / numbers / single punctuation, the
    * usual pre-tokenizer shape. */
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Character n-grams (default 3) of the text; text shorter than `n`
    * has NO n-grams. (An unguarded `sequence(1, 0)` is DESCENDING in
    * Spark — [1, 0] — which minted spurious grams for short texts and
    * scored two empty documents as Jaccard 1.0.) */
  def charNgrams(text: Column, n: Int = 3): Column =
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))

  /** Document fingerprint: poly-hash of the whitespace-normalized,
    * lowercased text (codegen'd). */
  def fingerprint(text: Column): Column =
    graft.functions.NativeHashes.poly_hash(
      regexp_replace(lower(text), "\\s+", " "))

  /** Unicode canonicalization for dedup keys (codegen'd
    * [[graft.functions.NormalizeTextExpr]]): NFKD fold of compatibility
    * variants (full-width forms, ligatures), combining-mark strip
    * (café ≡ café ≡ cafe regardless of byte encoding), whitespace-run
    * collapse, trim, ROOT-locale lowercase. Dedup on `normalizeText`
    * catches the case/spacing/encoding near-copies exact dedup misses
    * while staying a pure per-row map — no shuffle, no model. On ASCII
    * input it equals `lower` + whitespace collapse + trim, which is the
    * DuckDB-replayable subset; unicode behavior is spec-asserted. */
  def normalizeText(text: Column): Column =
    graft.functions.NativeText.normalize_text(text)

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic (canonical definition lives next to the native expressions
    * in [[graft.functions.TextImpls.stopwords]]). Real deployments swap in
    * bigger lists; the mechanism (score per language in one pass, argmax)
    * is the point. */
  val stopwords: Seq[(String, Seq[String])] =
    graft.functions.TextImpls.stopwords

  /** Language-ID: argmax of stopword hits, ties broken by list order,
    * "und" (undetermined) when no stopword hits at all. Codegen'd
    * ([[graft.functions.LangIdExpr]]); `SpecTwins.languageIdLambda`
    * (OpsSpec) is the value-identical SQL-lambda spec the oracle mirrors. */
  def languageId(text: Column): Column =
    graft.functions.NativeText.lang_id(lower(text))

  /** Language-ID with a CONFIDENCE margin — [[languageId]] returns only
    * the argmax, but a pipeline routing documents to per-language
    * cleaning stages needs to know when the call was a coin flip:
    * per doc, the best and runner-up stopword-hit counts, their margin,
    * the predicted language (same tie rules as [[languageId]]), and an
    * `ambiguous` flag (no hits at all, or margin ≤ 1 — one word away
    * from flipping). Per-row codegen'd [[graft.functions.StopwordHitsExpr]]
    * passes, no shuffle; the q263 oracle replays every count. */
  def langIdMargin(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val lowered = lower(col(textCol))
    val scored = stopwords.map { case (lang, _) =>
      lang -> graft.functions.NativeText.stopword_hits(lowered, lang)
    }
    val arr = array_sort(array(scored.map(_._2): _*))
    val best = element_at(arr, -1)
    val second = element_at(arr, -2)
    val pred = scored.foldRight(lit("und")) { case ((lang, sc), acc) =>
      when(sc === best && best > 0, lit(lang)).otherwise(acc)
    }
    df.select(col(idCol), pred.as("lang_pred"),
      best.cast("long").as("best_hits"),
      second.cast("long").as("second_hits"),
      (best - second).cast("long").as("margin"),
      (best === 0 || best - second <= 1).as("ambiguous"))
  }

  /** Production language-ID: same single-pass argmax, but over the
    * realistic [[graft.functions.TextImpls.fullStopwords]] lists (~60
    * words × 11 languages). [[languageId]] keeps the pinned 8-word lists
    * because the q47 oracle SQL is generated from them. */
  def languageIdFull(text: Column): Column =
    graft.functions.NativeText.lang_id_full(lower(text))

  /** Quality-scoring feature columns (ratios as exact integer divisions —
    * deterministic across engines). Token arithmetic is pure built-ins:
    * over a single-space split, token COUNT is `#spaces + 1` and summed
    * token LENGTH is `#non-space chars` — no per-element lambdas; the
    * stopword count is the codegen'd [[graft.functions.StopwordHitsExpr]]. */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val nChars = length(text)
    val nonSpace = length(regexp_replace(text, " ", ""))
    val nToks = (nChars - nonSpace + 1).cast("int")
    val nDigits = length(regexp_replace(text, "[^0-9]", ""))
    val nPunct = length(regexp_replace(text, "[^.,;:!?]", ""))
    val nStop = graft.functions.NativeText.stopword_hits(lower(text), "en")
    val meanTokLen = nonSpace.cast("double") / nToks
    Seq(
      "n_chars" -> nChars.cast("long"),
      "n_tokens" -> nToks.cast("long"),
      "digit_ratio" -> (nDigits.cast("double") / nChars),
      "punct_ratio" -> (nPunct.cast("double") / nChars),
      "stopword_ratio" -> (nStop.cast("double") / nToks),
      "mean_token_len" -> meanTokLen
    )
  }

  /** Repetition features, the Gopher-rules shape (duplicate-line fraction,
    * longest line, most-frequent-word share): the standard signals for
    * dropping boilerplate/templated documents from a training corpus.
    * Per-row array expressions — no shuffle; the most-frequent-word count
    * is a fold over the SORTED word array (longest equal run), so no
    * per-row group-by is needed. Integer-ratio divisions are IEEE-exact,
    * hence engine-reproducible. */
  def repetitionFeatures(text: Column): Seq[(String, Column)] = {
    // one codegen'd pass computes the five counts; ratios stay Column math
    val st = graft.functions.NativeText.repetition_stats(text)
    val nLines = st.getItem(0)
    val nDistinct = st.getItem(1)
    val wc = st.getItem(3)
    val maxRun = st.getItem(4)
    val dupFrac = when(nLines > 0,
      round(lit(1.0) - nDistinct.cast("double") / nLines.cast("double"), 6))
      .otherwise(0.0)
    val topFrac = when(wc > 0,
      round(maxRun.cast("double") / wc.cast("double"), 6)).otherwise(0.0)
    Seq(
      "n_lines" -> nLines,
      "distinct_lines" -> nDistinct,
      "dup_line_frac" -> dupFrac,
      "max_line_len" -> st.getItem(2),
      "word_count" -> wc,
      "top_word_frac" -> topFrac
    )
  }

  /** The tokenizer control sequences a pretraining corpus must never
    * contain verbatim — scraped model outputs, leaked chat transcripts
    * and template bugs inject them, and one literal `<|endoftext|>` in
    * a document truncates or derails everything trained after it. */
  val DefaultSpecialTokens: Seq[String] = Seq(
    "<|endoftext|>", "<|im_start|>", "<|im_end|>", "<s>", "</s>",
    "[INST]", "[/INST]", "<|assistant|>", "<|user|>", "<|system|>",
    "<pad>", "<unk>", "<mask>")

  /** Special-token leak detection — counts LITERAL occurrences of the
    * tokenizer control strings in text. Counting is pure string
    * arithmetic (`(len(t) − len(replace(t, tok, ''))) div len(tok)`
    * summed over the token list), NOT regex — `<|endoftext|>` is full
    * of regex metacharacters, and the replace form is verbatim-identical
    * in the DuckDB oracle, with no dialect-escaping seam to get wrong.
    * Per-row, codegen'd, no shuffle ([[contentFlags]]' contract).
    * Returns ("n_special_tokens", count) and ("has_special_tokens",
    * flag). */
  def specialTokenLeaks(text: Column,
      tokens: Seq[String] = DefaultSpecialTokens): Seq[(String, Column)] = {
    require(tokens.nonEmpty && tokens.forall(_.nonEmpty),
      "token list must be non-empty strings")
    val n = tokens.map { tok =>
      // `/` is double division in both engines; counts are exact in a
      // double far beyond any document length, and the cast pins BIGINT
      ((length(text) - length(replace(text, lit(tok), lit("")))) /
        lit(tok.length)).cast("long")
    }.reduce(_ + _)
    Seq("n_special_tokens" -> n, "has_special_tokens" -> (n > 0))
  }

  /** Content-flag features: URL/email density and symbol-to-word ratio —
    * the remaining Gopher-style boilerplate/spam signals. Patterns are
    * kept to the regex subset Java and RE2 dialects share, so the DuckDB
    * oracle replays them verbatim. Per-row, codegen'd, no shuffle. */
  def contentFlags(text: Column): Seq[(String, Column)] = {
    // regexp_count, not size(regexp_extract_all): same value without
    // materializing an array of match strings per row
    def count(pattern: String): Column =
      regexp_count(text, lit(pattern)).cast("long")
    // nonempty \s+ tokens == non-overlapping \S+ matches: counts them in
    // codegen'd regexp_count instead of an interpreted filter lambda
    val words = regexp_count(text, lit("[^\\s]+"))
    val symbols = count("[#@&%$~^*+=<>{}\\[\\]|\\\\]")
    Seq(
      "n_urls" -> count("https?://[^\\s]+"),
      "n_emails" -> count("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
      "n_symbols" -> symbols,
      "symbol_word_ratio" -> when(words > 0,
        round(symbols.cast("double") / words.cast("double"), 6)).otherwise(0.0)
    )
  }

  /** All http(s) URLs in the text, in order — the crawl-pipeline
    * extraction step feeding per-host statistics and URL-level dedup.
    * Shared Java/RE2 regex subset, so the DuckDB oracle replays it. */
  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit("https?://[^\\s]+"), lit(0))

  /** Lower-cased registrable host of a URL, `www.` prefix dropped — the
    * per-domain aggregation key (domain quotas, host quality priors,
    * per-site caps all group on this). Empty string for non-URLs. */
  def urlHost(url: Column): Column =
    lower(regexp_extract(url, "^https?://(?:www\\.)?([^/?#]+)", 1))

  /** Canonical URL for dedup: lower-cased host (scheme and `www.`
    * dropped — http/https/www variants of one page collapse) + the path
    * with query string, fragment, and trailing slashes stripped (the
    * tracking-parameter noise that makes byte-level URL dedup miss).
    * Path CASE is preserved (paths are case-sensitive, hosts are not).
    * Pure per-row regex chain — no shuffle, streams unchanged. */
  def canonicalizeUrl(url: Column): Column = {
    val host = urlHost(url)
    val path = regexp_extract(url, "^https?://[^/?#]+([^?#]*)", 1)
    concat(host, rtrim(path, "/"))
  }

  /** Markup-density features — the "is this page still HTML" cleaning
    * signal for crawled corpora: counts of tags, entity escapes, and
    * URL-ish tokens, plus a `markup_heavy` flag when tag characters
    * exceed `pctNum/pctDen` of all characters (integer
    * cross-multiplication — tag-char count scales with `n_chars`, so
    * the ratio test needs no division). An extraction pipeline that
    * missed a page leaves exactly these artifacts; quality scoring
    * alone ranks such a page as "long and punctuated", i.e. fine.
    * Pure per-row codegen'd regex (shared Java/RE2 subset), streams
    * unchanged. Returns (name -> column) pairs. */
  def markupFeatures(text: Column, pctNum: Int = 5,
      pctDen: Int = 100): Seq[(String, Column)] = {
    def cnt(p: String): Column = regexp_count(text, lit(p)).cast("long")
    val tags = cnt("</?[A-Za-z][A-Za-z0-9]*[^<>]*>")
    val entities = cnt("&[A-Za-z]+;|&#[0-9]+;")
    val tagChars = length(text) -
      length(regexp_replace(text, "</?[A-Za-z][A-Za-z0-9]*[^<>]*>", ""))
    Seq(
      "n_tags" -> tags,
      "n_entities" -> entities,
      "n_tag_chars" -> tagChars.cast("long"),
      "markup_heavy" ->
        (tagChars.cast("long") * pctDen >
          length(text).cast("long") * pctNum))
  }

  /** Unicode-script profile — the multilingual corpus-filtering signal
    * language-ID cannot give (it answers "which language", this answers
    * "which WRITING SYSTEMS, and how mixed"): per-script character
    * counts over the four highest-volume script blocks + a dominant
    * label and a mixed-script flag. Script mixing at high rates is a
    * spam/SEO/encoding-corruption marker, and per-script counts route
    * docs to script-specific tokenizers. All counts are codegen'd
    * per-row `regexp_count` over explicit code-point ranges (the shared
    * Java/RE2 subset — both engines count identically); the dominant
    * label is a FIXED strict-> CASE chain (latin ≻ cjk ≻ cyrillic ≻
    * arabic on ties) and the mixed flag is the integer test
    * `(letters − dominant) · 5 >= letters` (≥20% of script letters
    * outside the dominant script). No shuffle; streams unchanged.
    * Returns (name -> column) pairs to splat into a select. */
  def scriptProfile(text: Column): Seq[(String, Column)] = {
    def cnt(pattern: String): Column =
      regexp_count(text, lit(pattern)).cast("long")
    val latin = cnt("[A-Za-z\\x{00C0}-\\x{024F}]")
    val cjk = cnt("[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}]")
    val cyr = cnt("[\\x{0400}-\\x{04FF}]")
    val ar = cnt("[\\x{0600}-\\x{06FF}]")
    val letters = latin + cjk + cyr + ar
    val dom = when(letters === 0, "none")
      .when(latin >= cjk && latin >= cyr && latin >= ar, "latin")
      .when(cjk >= cyr && cjk >= ar, "cjk")
      .when(cyr >= ar, "cyrillic")
      .otherwise("arabic")
    val domCnt = greatest(latin, cjk, cyr, ar)
    Seq(
      "n_latin" -> latin, "n_cjk" -> cjk, "n_cyrillic" -> cyr,
      "n_arabic" -> ar,
      "script" -> dom,
      "mixed_script" ->
        (letters > 0 && (letters - domCnt) * 5 >= letters))
  }

  /** Token-level homoglyph detection — [[scriptProfile]] sees a document
    * that is 98% Latin and calls it clean; this catches the single
    * `pаypal` token whose `а` is CYRILLIC (U+0430) — the classic
    * phishing/SEO-spoof/adversarial-poisoning signal, and in a training
    * corpus a tokenizer-splitting artifact that quietly degrades the
    * vocabulary. Counts whitespace-delimited tokens mixing Latin with
    * Cyrillic and with Greek (the two confusable-rich scripts); flag =
    * any such token. Pure per-row `regexp_count`, no shuffle, streams
    * unchanged; the q264 oracle replays the same RE2-compatible
    * patterns. */
  def homoglyphSignals(text: Column): Seq[(String, Column)] = {
    def mixedTok(range: String): Column = regexp_count(text, lit(
      "[^\\s]*(?:[A-Za-z][^\\s]*[" + range + "]|[" + range +
        "][^\\s]*[A-Za-z])[^\\s]*")).cast("long")
    val cyr = mixedTok("\\x{0400}-\\x{04FF}")
    val grk = mixedTok("\\x{0370}-\\x{03FF}")
    Seq(
      "n_latin_cyrillic_tokens" -> cyr,
      "n_latin_greek_tokens" -> grk,
      "has_homoglyph" -> (cyr + grk > 0))
  }

  /** Source-code detection signals — the pretraining ROUTER (code wants
    * different cleaning than prose: no lowercase-normalize, no stopword
    * quality rules, different dedup granularity; misrouting either way
    * poisons both pipelines): per-row integer counts of brace/bracket
    * density, semicolon line-ends, camelCase identifiers, and hits on a
    * pinned keyword list, plus a cross-multiplied composite verdict
    * (≥ 2 braces AND ≥ 1 keyword per 100 chars would misfire on math
    * text — the verdict requires two independent signal families).
    * Pure per-row regexp + token scans, DuckDB-replayable. */
  val codeKeywords: Seq[String] = Seq("def", "return", "import", "class",
    "void", "const", "function", "var", "if", "else", "for", "while")

  def codeSignals(text: Column): Seq[(String, Column)] = {
    val braces = regexp_count(text, lit("[{}\\[\\]()]")).cast("long")
    val semis = regexp_count(text, lit(";")).cast("long")
    val camel = regexp_count(text,
      lit("\\b[a-z]+[A-Z][A-Za-z]*\\b")).cast("long")
    val kw = size(filter(split(lower(text), "\\s+"),
      t => t.isin(codeKeywords: _*))).cast("long")
    val chars = length(text).cast("long")
    Seq(
      "n_braces" -> braces,
      "n_semicolons" -> semis,
      "n_camel" -> camel,
      "n_keywords" -> kw,
      "n_chars" -> chars,
      // ≥ 2 brace-family chars per 100 chars AND ≥ 1 keyword per 50
      // words-ish (cross-multiplied; two independent families)
      "looks_like_code" ->
        (braces * 100 >= chars * 2 && kw > 0 && semis + camel > 0))
  }

  /** OCR/PDF hyphenation repair — scanned and PDF-extracted corpora are
    * full of `exam- ple` line-break artifacts (the hyphen + whitespace
    * splitting one word), which poison tokenization (two junk subwords
    * per break), n-gram dedup, and every word-count-based quality rule
    * upstream of them. Rejoins lowercase-letter − hyphen − whitespace −
    * lowercase-letter sequences; deliberately narrow so real compounds
    * (`well- known` is repaired, `twenty-one` untouched, `end- The` kept
    * split: a capital after the break usually IS a sentence boundary
    * artifact worth keeping visible). Returns (repaired, n_breaks).
    * Pure per-row regexp, DuckDB-replayable, streams unchanged. */
  def repairHyphenation(text: Column): Seq[(String, Column)] = {
    val pat = "([a-z])-\\s+([a-z])"
    Seq(
      "repaired" -> regexp_replace(text, pat, "$1$2"),
      "n_breaks" -> regexp_count(text, lit(pat)).cast("long"))
  }

  /** Encoding-anomaly features — the mojibake detector ([[scriptProfile]]
    * answers "which writing systems"; this answers "did an encoding step
    * already destroy them"): counts of U+FFFD replacement characters
    * (a decoder already gave up), stray C0/C1 control characters
    * (tab/newline/CR excluded — real text has those), and the classic
    * UTF-8-read-as-Latin-1 double-encoding digraphs (`Ã`/`Â` followed by
    * a Latin-1 continuation byte, and the `â€`-family punctuation
    * wrecks). Corrupted docs poison tokenizers and dedup alike — the
    * shingle of a mojibake'd page no longer matches its clean twin, so
    * encoding damage silently defeats [[graft.ops.Dedup]]; filter first.
    * The verdict flag uses integer cross-multiplication only: any
    * double-encoding/replacement hit, or controls ≥ 2% of characters.
    * Pure per-row codegen'd `regexp_count` over the shared Java/RE2
    * subset; no shuffle, streams unchanged. Returns (name -> column)
    * pairs to splat into a select. */
  def encodingAnomalies(text: Column): Seq[(String, Column)] = {
    def cnt(pattern: String): Column =
      regexp_count(text, lit(pattern)).cast("long")
    val repl = cnt("\\x{FFFD}")
    val ctrl = cnt("[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}" +
      "\\x{000E}-\\x{001F}\\x{007F}-\\x{009F}]")
    val dbl = cnt("[\\x{00C2}\\x{00C3}][\\x{0080}-\\x{00BF}" +
      "\\x{00C0}-\\x{00FF}]|\\x{00E2}\\x{20AC}")
    Seq(
      "n_replacement" -> repl,
      "n_control" -> ctrl,
      "n_double_encoded" -> dbl,
      "encoding_suspect" ->
        (repl + dbl > 0 || ctrl * 50 >= length(text).cast("long")))
  }

  /** Readability features — Flesch reading ease and Flesch-Kincaid
    * grade from three exact integer counts (words = non-space runs,
    * sentences = `[.!?]+` runs floored at 1, syllables = vowel-group
    * runs, the standard syllable proxy). Training mixes tune on these
    * (children's corpora vs. legal text behave differently at every
    * scale), and the two scores are the accepted shorthand; the
    * integer counts ride along so any other formula can be re-derived
    * without another scan. Scores are fixed-order float expressions of
    * the three integers, rounded 6dp — engine-exact. Empty/whitespace
    * text yields null scores, zero counts. Pure per-row codegen'd
    * `regexp_count`; no shuffle, streams unchanged. Returns
    * (name -> column) pairs to splat into a select. */
  def readability(text: Column): Seq[(String, Column)] = {
    val words = regexp_count(text, lit("[^\\s]+")).cast("long")
    val sentences = greatest(regexp_count(text, lit("[.!?]+")), lit(1))
      .cast("long")
    val syllables = regexp_count(lower(text), lit("[aeiouy]+"))
      .cast("long")
    val (w, s, y) = (words.cast("double"), sentences.cast("double"),
      syllables.cast("double"))
    Seq(
      "n_words" -> words,
      "n_sentences" -> sentences,
      "n_syllables" -> syllables,
      "flesch" -> when(words > 0, round(
        lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (y / w), 6)),
      "fk_grade" -> when(words > 0, round(
        lit(0.39) * (w / s) + lit(11.8) * (y / w) - lit(15.59), 6)))
  }

  /** ROUGE-N overlap between candidate and reference texts — the
    * n-gram-recall evaluation for generated summaries/answers against
    * gold references (the LLM-eval companion to
    * [[graft.ops.Profiling.ndcg]]'s retrieval grading). Per id: clipped
    * n-gram matches `Σ_g min(count_cand(g), count_ref(g))` — the
    * official ROUGE clipping, so repeating a reference gram ten times
    * scores once per reference occurrence — with
    * `precision = matched/total_cand`, `recall = matched/total_ref`,
    * and their harmonic F1, every one a fixed-order float of exact
    * integers (6dp). Ids present on only one side report zero totals
    * on the other and null ratios there (0/0 is undefined, not 0).
    *
    * Shape: side-tagged union of the two explodes, ONE partial-aggregable
    * collapse to (id, gram) rows carrying both sides' counts (the clipped
    * min is per-row from there), one per-id partial-aggregable collapse —
    * r13: this replaced two per-side aggregations + a full-outer
    * sort-merge join on (id, gram) (one exchange and two sorts fewer,
    * byte-identical scores). A hot id costs its own gram count; AQE
    * splits it. With
    * `hashed = false` (default) grams are the literal n-gram STRINGS —
    * official ROUGE, DuckDB-replayable, but the shuffle carries ~2× the
    * text (measured 80 s at the 10× stress corpus). `hashed = true` is
    * the corpus-scale path: grams live in the stack's poly-hash shingle
    * domain ([[graft.functions.NativeHashes.shingle_hashes]] — 8-byte
    * keys on the wire, the same deliberate hash domain as MinHash;
    * a 2⁻⁶¹-ish collision can merge two grams, and sub-n-word docs
    * contribute one partial shingle instead of none). Scores between
    * the two paths differ only on those documented edges.
    * Returns `(id, n_cand, n_ref, n_match, precision, recall, f1)`. */
  def rougeN(cand: DataFrame, ref: DataFrame, idCol: String,
      textCol: String, n: Int, hashed: Boolean = false): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val grams: Column =
      if (hashed)
        graft.functions.NativeHashes.shingle_hashes(col(textCol), n)
      else {
        val ws = regexp_extract_all(lower(col(textCol)),
          lit("[^\\s]+"), lit(0))
        if (n == 1) ws
        else when(size(ws) >= n,
          transform(sequence(lit(1), size(ws) - (n - 1)),
            i => concat_ws(" ", slice(ws, i, lit(n)))))
          .otherwise(array().cast("array<string>"))
      }
    // side-TAGGED union instead of two per-side aggregations + a
    // full-outer join on (id, gram): one exchange on (id, gram) carries
    // both sides' partial counts (map-side combine still collapses hot
    // grams), the clipped min is computed on the merged row, and the
    // sort-merge join (2 sorts + 1 extra exchange) disappears — same
    // exact integer counts, guide §2.4 "remove shuffles outright"
    val tagged = cand
      .select(col(idCol).as("__id__"), explode(grams).as("__g__"),
        lit(1L).as("__tc__"), lit(0L).as("__tr__"))
      .unionAll(ref.select(col(idCol).as("__id__"),
        explode(grams).as("__g__"),
        lit(0L).as("__tc__"), lit(1L).as("__tr__")))
    val joined = tagged.groupBy(col("__id__"), col("__g__"))
      .agg(sum(col("__tc__")).as("__c__"), sum(col("__tr__")).as("__r__"))
    val per = joined.groupBy(col("__id__"))
      .agg(sum(col("__c__")).as("n_cand"),
        sum(col("__r__")).as("n_ref"),
        sum(least(col("__c__"), col("__r__"))).as("n_match"))
    val p = col("n_match").cast("double") / col("n_cand").cast("double")
    val r = col("n_match").cast("double") / col("n_ref").cast("double")
    per.select(col("__id__").as(idCol), col("n_cand"), col("n_ref"),
      col("n_match"),
      when(col("n_cand") > 0, round(p, 6)).as("precision"),
      when(col("n_ref") > 0, round(r, 6)).as("recall"),
      when(col("n_cand") > 0 && col("n_ref") > 0 && col("n_match") > 0,
        round(lit(2.0) * p * r / (p + r), 6))
        .when(col("n_cand") > 0 && col("n_ref") > 0, lit(0.0))
        .as("f1"))
  }

  /** Corpus BLEU (Papineni et al., ACL'02) per group — the n-gram
    * precision evaluation for generation against references, the
    * precision-side twin of [[rougeN]]'s recall. Per (group):
    * clipped n-gram matches and candidate totals for n = 1..`maxN`
    * (clipping is per PAIR: a candidate gram scores at most its count
    * in that pair's reference), candidate/reference word lengths, the
    * brevity penalty `BP = min(1, e^(1−r/c))`, and
    * `BLEU = BP·exp(Σₙ ln(matchₙ/totalₙ)/maxN)` — corpus-level, so
    * one good pair lifts a group that another zeroes. Unsmoothed by
    * the book: any n with zero corpus matches ⇒ BLEU = 0.0 (reported,
    * not null); null only when some n has zero TOTAL (every candidate
    * shorter than maxN words — nothing to score).
    *
    * Exactness: every count is an exact integer; ln/exp assemble in a
    * fixed left-folded expression tree over those integers on both
    * engines (the [[graft.ops.Corpus.logOddsWords]] float posture).
    *
    * Shape: per-side explode to (group, pair, n, gram) partial counts,
    * one full-outer equi-join, two partial-aggregable collapses —
    * the [[rougeN]] plan with an n dimension riding along. Returns
    * `(group, n_pairs, cand_len, ref_len, match_1..N, total_1..N,
    * bp, bleu)`. */
  def bleu(df: DataFrame, groupCol: String, idCol: String,
      candCol: String, refCol: String, maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN must be in [1,8]; got $maxN")
    bleuTail(df, groupCol, maxN,
      perNStats(df, groupCol, candCol, refCol, maxN, char = false))
  }

  /** Per-(group, n) clipped overlap moments via the row-local native
    * expression — clipping never leaves the row, so only |groups|·maxN
    * moment rows ever shuffle (the explode+full-outer-join lambda
    * formulation — `SpecTwins.bleuViaGramJoin`, OpsSpec's spec — shuffles
    * every gram of the corpus). */
  private def perNStats(df: DataFrame, groupCol: String, candCol: String,
      refCol: String, maxN: Int, char: Boolean): DataFrame =
    df.select(col(groupCol).as("__grp__"),
        explode(graft.functions.NativeText.ngram_overlap_stats(
          lower(col(candCol)), lower(col(refCol)), maxN, char))
          .as("__s__"))
      .groupBy(col("__grp__"), col("__s__.n").as("__n__"))
      .agg(sum(col("__s__.m")).as("__m__"),
        sum(col("__s__.tc")).as("__tc__"),
        sum(col("__s__.tr")).as("__tr__"))

  private[graft] def bleuTail(df: DataFrame, groupCol: String, maxN: Int,
      perN: DataFrame): DataFrame = {
    val wideCols: Seq[Column] =
      Seq(sum(when(col("__n__") === 1, col("__tr__"))).as("ref_len")) ++
        (1 to maxN).flatMap(n => Seq(
          sum(when(col("__n__") === n, col("__m__")))
            .as(s"match_$n"),
          sum(when(col("__n__") === n, col("__tc__")))
            .as(s"total_$n")))
    val wide = perN.groupBy(col("__grp__")).agg(
      sum(when(col("__n__") === 1, col("__tc__"))).as("cand_len"),
      wideCols: _*)
    val pairs = df.groupBy(col(groupCol).as("__grp__"))
      .agg(count(lit(1)).as("n_pairs"))
    val allPos = (1 to maxN).map(i =>
      coalesce(col(s"total_$i"), lit(0L)) > 0).reduce(_ && _)
    val anyZero = (1 to maxN).map(i =>
      coalesce(col(s"match_$i"), lit(0L)) === 0).reduce(_ || _)
    val logSum = (1 to maxN).map(i =>
      log(col(s"match_$i").cast("double") /
        col(s"total_$i").cast("double"))).reduce(_ + _) /
      lit(maxN.toDouble)
    val bp = when(col("cand_len") >= col("ref_len"), lit(1.0))
      .otherwise(exp(lit(1.0) - col("ref_len").cast("double") /
        col("cand_len").cast("double")))
    pairs.join(wide, Seq("__grp__"), "left")
      .select(Seq(col("__grp__").as(groupCol), col("n_pairs"),
        coalesce(col("cand_len"), lit(0L)).as("cand_len"),
        coalesce(col("ref_len"), lit(0L)).as("ref_len")) ++
        (1 to maxN).flatMap(n => Seq(
          coalesce(col(s"match_$n"), lit(0L)).as(s"match_$n"),
          coalesce(col(s"total_$n"), lit(0L)).as(s"total_$n"))) ++ Seq(
        when(col("cand_len") > 0, round(bp, 6)).as("bp"),
        when(allPos && !anyZero, round(bp * exp(logSum), 6))
          .when(allPos, lit(0.0)).as("bleu")): _*)
  }

  /** chrF (Popović, WMT'15) per group — character n-gram F-β, the
    * tokenization-free evaluation that survives morphology-rich
    * languages and tokenizer drift where word-level [[bleu]]/[[rougeN]]
    * fragment. Whitespace is stripped (the standard), then for
    * n = 1..`maxN` the per-pair clipped char-n-gram counts pool to
    * corpus level; `chrF = avg_n Fβ(P_n, R_n)` with β = `beta`
    * (default 2 — recall-weighted, the published setting), orders with
    * an empty candidate AND reference side are skipped, zero-match
    * orders contribute F = 0. All counts exact integers; the F fold
    * runs in n-order on both engines.
    *
    * Shape: the [[bleu]] plan on char grams. Returns
    * `(group, n_pairs, match_n/totc_n/totr_n for each n, chrf)`. */
  def chrF(df: DataFrame, groupCol: String, idCol: String,
      candCol: String, refCol: String, maxN: Int = 6,
      beta: Double = 2.0): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN must be in [1,8]; got $maxN")
    chrfTail(df, groupCol, maxN, beta,
      perNStats(df, groupCol, candCol, refCol, maxN, char = true))
  }

  private[graft] def chrfTail(df: DataFrame, groupCol: String, maxN: Int,
      beta: Double, perN: DataFrame): DataFrame = {
    val wideCols: Seq[Column] = (1 to maxN).flatMap(n => Seq(
      sum(when(col("__n__") === n, col("__m__"))).as(s"match_$n"),
      sum(when(col("__n__") === n, col("__tc__"))).as(s"totc_$n"),
      sum(when(col("__n__") === n, col("__tr__"))).as(s"totr_$n")))
    val wide = perN.groupBy(col("__grp__"))
      .agg(wideCols.head, wideCols.tail: _*)
    val pairs = df.groupBy(col(groupCol).as("__grp__"))
      .agg(count(lit(1)).as("n_pairs"))
    val b2 = beta * beta
    // n-ordered fold: Σ F_n over usable orders / their count
    val fTerms = (1 to maxN).map { n =>
      val m = coalesce(col(s"match_$n"), lit(0L)).cast("double")
      val tc = coalesce(col(s"totc_$n"), lit(0L))
      val tr = coalesce(col(s"totr_$n"), lit(0L))
      val p = m / tc.cast("double")
      val r = m / tr.cast("double")
      val usable = tc > 0 && tr > 0
      val f = when(m > 0,
        lit(1.0 + b2) * p * r / (lit(b2) * p + r)).otherwise(lit(0.0))
      (usable, f)
    }
    val nUsable = fTerms.map { case (u, _) =>
      when(u, lit(1.0)).otherwise(lit(0.0)) }.reduce(_ + _)
    val fSum = fTerms.map { case (u, f) =>
      when(u, f).otherwise(lit(0.0)) }.reduce(_ + _)
    pairs.join(wide, Seq("__grp__"), "left")
      .select(Seq(col("__grp__").as(groupCol), col("n_pairs")) ++
        (1 to maxN).flatMap(n => Seq(
          coalesce(col(s"match_$n"), lit(0L)).as(s"match_$n"),
          coalesce(col(s"totc_$n"), lit(0L)).as(s"totc_$n"),
          coalesce(col(s"totr_$n"), lit(0L)).as(s"totr_$n"))) ++ Seq(
        when(nUsable > 0, round(fSum / nUsable, 6)).as("chrf")): _*)
  }

  /** Deflate compression-ratio quality signal — the classic
    * repetitiveness filter (Gopher/RefinedWeb prune documents whose
    * compressed size is a small fraction of the raw size: mostly
    * templated/repeated bytes; near-random text sits close to — or,
    * deflate block overhead included, slightly above — 1.0). Per doc:
    * raw UTF-8 byte count, DEFLATE byte count at the pinned `level`
    * (raw stream, no zlib framing), and their rounded ratio.
    *
    * Scale shape: one JIT-compiled codec pass per row
    * ([[graft.functions.NativeText.deflate_size]]), no shuffle, streams
    * unchanged — the q47/q68 per-row posture. No SQL oracle can replay
    * zlib, so the contract is spec-level (direct java.util.zip
    * cross-validation + invariants), the multimodal-decoder posture. */
  def compressionSignals(df: DataFrame, idCol: String, textCol: String,
      level: Int = 6): DataFrame = {
    val raw = octet_length(col(textCol)).cast("long")
    val comp = graft.functions.NativeText.deflate_size(col(textCol), level)
    df.select(col(idCol), raw.as("n_bytes"), comp.as("deflate_bytes"),
      when(raw > 0,
        round(comp.cast("double") / raw.cast("double"), 6))
        .otherwise(lit(null).cast("double")).as("compression_ratio"))
  }

  /** Segment-level language mixture per document — the mixed-language
    * detector (a doc whose paragraphs disagree on language defeats
    * doc-level language ID and usually signals scraped boilerplate,
    * bilingual templates, or concatenation bugs; pipelines route such
    * docs to segment-level processing instead of trusting one label).
    * Splits on the literal `sep`, drops blank segments, language-IDs
    * each segment with the codegen'd [[languageId]] argmax, and reports
    * per doc: n_segments, n_langs, majority_lang (most segments, ties
    * to the lexicographically first), mixed = more than one language.
    *
    * Scale shape: one per-row split + explode (fan-out = segments per
    * doc), one partial-aggregable (doc, lang) count, a per-doc window
    * over ≤ |languages| rows, one final per-doc aggregate — all on one
    * doc-keyed partitioning; text leaves the plan at the langid. */
  def langMixture(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val segs = df.select(col(idCol),
        explode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as("__seg__"))
      .filter(length(trim(col("__seg__"))) > 0)
      .select(col(idCol), languageId(col("__seg__")).as("seg_lang"))
    val counts = segs.groupBy(col(idCol), col("seg_lang"))
      .agg(count(lit(1)).as("__c__"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("__c__").desc, col("seg_lang").asc)
    counts.withColumn("__rn__", row_number().over(w))
      .groupBy(col(idCol))
      .agg(sum(col("__c__")).as("n_segments"),
        count(lit(1)).as("n_langs"),
        max(when(col("__rn__") === 1, col("seg_lang")))
          .as("majority_lang"))
      .withColumn("mixed", col("n_langs") > 1)
  }

  /** The Gopher repetition rules (Rae et al. 2021, table A1) — the
    * exact signals that paper prunes on and that [[repetitionFeatures]]
    * does not cover: fraction of word positions covered by the most
    * frequent 2/3/4-gram, and by the union of all duplicated
    * 5..10-grams. One JIT pass per document
    * ([[graft.functions.NativeText.gopher_repetition]]); each fraction
    * is one exact IEEE division of the pass's integer counters, so the
    * oracle replays it bit-for-bit. Coverage is the UNION of covering
    * occurrences (overlaps not double-counted), ties on the top gram to
    * the lexicographically smallest. */
  def gopherRepetitionFeatures(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val g = graft.functions.NativeText.gopher_repetition(
      coalesce(col(textCol), lit("")))
    val nw = col("__g__").getItem(0)
    val fracs = (2 to 10).zipWithIndex.map { case (n, i) =>
      val name = if (n <= 4) s"top_${n}gram_frac" else s"dup_${n}gram_frac"
      when(nw > 0, round(col("__g__").getItem(i + 1).cast("double") /
        nw.cast("double"), 6)).as(name)
    }
    df.select(col(idCol), g.as("__g__"))
      .select(col(idCol) +: nw.as("n_words") +: fracs: _*)
  }

  /** The Gopher QUALITY rules (Rae et al. 2021, table A1) as one
    * per-row pass — the named filter set pipelines cite by name, here
    * with every threshold decided by exact integer cross-multiplication
    * (`10·symbols ≤ words` instead of `symbols/words ≤ 0.1`), so no
    * float ratio can diverge between engines. Rules (with this repo's
    * pinned 8-word English stopword list standing in for Gopher's):
    * word count in [minWords, maxWords]; mean word length in [3, 10];
    * symbol-to-word ratio (# or ellipsis) ≤ 1/10; bullet-point lines
    * ≤ 9/10 of lines; ellipsis-ending lines ≤ 3/10; ≥ 4/5 of words
    * contain a letter; ≥ 2 stopword hits. Returns the counters, one
    * boolean per rule, and the conjunction `gopher_pass`. */
  def gopherQualityFlags(df: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50, maxWords: Long = 100000): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val w = regexp_count(t, lit("[^\\s]+")).cast("long")
    val wordChars = length(regexp_replace(t, "\\s", "")).cast("long")
    val symbols = (regexp_count(t, lit("#")) +
      regexp_count(t, lit("\\.\\.\\.|…"))).cast("long")
    val lines = regexp_count(t, lit("[^\\n]+")).cast("long")
    val bullets = regexp_count(t, lit("(?m)^[ \\t]*[-•*]")).cast("long")
    val ellLines = regexp_count(t, lit("(?m)(\\.\\.\\.|…)[ \\t]*$"))
      .cast("long")
    val alphaWords = regexp_count(t, lit("[^\\s]*[A-Za-z][^\\s]*"))
      .cast("long")
    val stops = graft.functions.NativeText.stopword_hits(lower(t), "en")
      .cast("long")
    df.select(col(idCol), w.as("n_words"), wordChars.as("n_word_chars"),
        symbols.as("n_symbols"), lines.as("n_lines"),
        bullets.as("n_bullet_lines"), ellLines.as("n_ellipsis_lines"),
        alphaWords.as("n_alpha_words"), stops.as("n_stopword_hits"))
      .withColumn("r_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_mean_word_len", col("n_words") > 0 &&
        col("n_word_chars") >= col("n_words") * 3 &&
        col("n_word_chars") <= col("n_words") * 10)
      .withColumn("r_symbol_ratio",
        col("n_words") > 0 && col("n_symbols") * 10 <= col("n_words"))
      .withColumn("r_bullet_lines", col("n_lines") > 0 &&
        col("n_bullet_lines") * 10 <= col("n_lines") * 9)
      .withColumn("r_ellipsis_lines", col("n_lines") > 0 &&
        col("n_ellipsis_lines") * 10 <= col("n_lines") * 3)
      .withColumn("r_alpha_words", col("n_words") > 0 &&
        col("n_alpha_words") * 5 >= col("n_words") * 4)
      .withColumn("r_stopwords", col("n_stopword_hits") >= 2)
      .withColumn("gopher_pass",
        col("r_word_count") && col("r_mean_word_len") &&
        col("r_symbol_ratio") && col("r_bullet_lines") &&
        col("r_ellipsis_lines") && col("r_alpha_words") &&
        col("r_stopwords"))
  }

  /** Chat/SFT dialogue-structure stats — the validation pass instruction
    * -tuning pipelines run before training on conversation data: a
    * transcript whose turns don't alternate (or that opens with the
    * assistant) is usually a scraping or templating bug and poisons the
    * loss mask. Turns are lines matching `role: text` with role in
    * {system, user, assistant}; per doc: turn counts by role,
    * non-turn line count, whether the first non-system turn is the
    * user's, strict user/assistant alternation (system lines excluded
    * from the alternation check), and mean turn length in characters
    * (exact integer ratio). All per-row array/lambda math over the
    * line split — no shuffle, streams unchanged. */
  def dialogueStats(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val lines = filter(split(coalesce(col(textCol), lit("")), "\n"),
      l => length(trim(l)) > 0)
    val roleOf = (l: Column) =>
      regexp_extract(l, "^(system|user|assistant): ", 1)
    val turns = filter(lines, l => roleOf(l) =!= "")
    val roles = transform(turns, l => roleOf(l))
    val ua = filter(roles, r => r =!= "system")
    val nTurns = size(turns).cast("long")
    val cnt = (role: String) =>
      size(filter(roles, r => r === role)).cast("long")
    val turnChars = aggregate(turns, lit(0L),
      (acc, l) => acc + length(l) - length(roleOf(l)) - 2)
    val alternating = size(ua) <= 1 ||
      size(filter(transform(sequence(lit(1), size(ua) - 1),
        i => element_at(ua, i) === element_at(ua, i + 1)),
        x => x)) === 0
    df.select(col(idCol),
      nTurns.as("n_turns"),
      cnt("system").as("n_system"),
      cnt("user").as("n_user"),
      cnt("assistant").as("n_assistant"),
      (size(lines).cast("long") - nTurns).as("n_untagged_lines"),
      (size(ua) > 0 && element_at(ua, 1) === "user").as("starts_with_user"),
      (size(ua) > 0 && alternating).as("alternating"),
      when(nTurns > 0, round(turnChars.cast("double") /
        nTurns.cast("double"), 6)).as("mean_turn_chars"))
  }

  /** Per-document codepoint-entropy stats — the gibberish/binary-junk
    * detector (natural language sits ~3–4.5 nats of character entropy;
    * near 0 = repeated filler, near ln(n_distinct) everywhere = random
    * noise — both ends get pruned by quality filters). One JIT pass per
    * row ([[graft.functions.NativeText.char_entropy]]), no shuffle; the
    * entropy fold runs in ascending-codepoint order so the DuckDB
    * oracle replays it bit-for-bit before the 6dp rounding. */
  def charEntropyStats(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val e = graft.functions.NativeText.char_entropy(col(textCol))
    df.select(col(idCol), e.as("__e__"))
      .select(col(idCol),
        col("__e__").getItem(0).cast("long").as("n_codepoints"),
        col("__e__").getItem(1).cast("long").as("distinct_codepoints"),
        round(col("__e__").getItem(2), 6).as("char_entropy"))
  }

  /** Per-SOURCE quality scorecard — the vendor/feed dashboard a corpus
    * owner reviews before renewing an ingest contract: for every source,
    * document count, mean length, exact-duplicate rate, Gopher-rule pass
    * rate, and mean codepoint entropy. Composes [[gopherQualityFlags]],
    * [[charEntropyStats]], and sha-keyed exact-dup detection into one
    * |sources|-row result. Determinism: per-doc entropy (engine-exact,
    * 6dp) is scaled to integer MICRO-nats before the per-source sum —
    * integer sums are order-free, so no float accumulation ever crosses
    * an aggregation; every exported mean/rate is one exact-ratio
    * division.
    *
    * Scale shape: two per-row passes + ONE text-hash groupBy for the dup
    * flag (8-byte keys) + ONE per-source partial aggregate. */
  def sourceScorecard(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, minWords: Long = 10): DataFrame = {
    val flags = gopherQualityFlags(df, idCol, textCol, minWords = minWords)
      .select(col(idCol), col("gopher_pass"))
    val ent = charEntropyStats(df, idCol, textCol)
      .select(col(idCol),
        round(col("char_entropy") * 1e6).cast("long").as("__emic__"))
    val dupCounts = df.groupBy(sha2(coalesce(col(textCol), lit("")), 256)
        .as("__h__"))
      .agg(count(lit(1)).as("__copies__"))
    val perDoc = df.select(col(idCol), col(sourceCol),
        length(coalesce(col(textCol), lit(""))).cast("long").as("__len__"),
        sha2(coalesce(col(textCol), lit("")), 256).as("__h__"))
      .join(dupCounts, "__h__")
      .join(flags, Seq(idCol)).join(ent, Seq(idCol))
    perDoc.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__len__")).as("__chars__"),
        sum(when(col("__copies__") > 1, 1L).otherwise(0L)).as("__dups__"),
        sum(when(col("gopher_pass"), 1L).otherwise(0L)).as("__pass__"),
        sum(col("__emic__")).as("__esum__"))
      .select(col(sourceCol), col("n_docs"),
        round(col("__chars__").cast("double") /
          col("n_docs").cast("double"), 6).as("mean_chars"),
        round(col("__dups__").cast("double") /
          col("n_docs").cast("double"), 6).as("dup_rate"),
        round(col("__pass__").cast("double") /
          col("n_docs").cast("double"), 6).as("gopher_pass_rate"),
        round(col("__esum__").cast("double") / 1e6 /
          col("n_docs").cast("double"), 6).as("mean_entropy"))
  }

  /** One composite [0,1] quality score: weighted mix of the features, the
    * shape of a fasttext/heuristic doc-quality filter. Deterministic. */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text).toMap
    val lengthOk = when(f("n_chars") >= 100 && f("n_chars") <= 20000, 1.0).otherwise(0.0)
    val stopOk = when(f("stopword_ratio") >= 0.01, 1.0).otherwise(0.0)
    val digitOk = when(f("digit_ratio") <= 0.3, 1.0).otherwise(0.0)
    round((lengthOk + stopOk + digitOk) / 3.0, 4)
  }
}
