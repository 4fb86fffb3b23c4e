package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization/counting, quality scoring, n-gram language ID, and document
  * fingerprinting. Everything here is a pure Column expression — codegen'd,
  * no UDFs — so it runs inside WholeStageCodegen and scales linearly with
  * the scan (the only cost at 100 TB is the read itself).
  *
  * Determinism: all outputs are integers or single-rounding doubles so they
  * hash-match an independent DuckDB implementation of the same formulas.
  */
object Text {

  /** Normalize: lowercase, collapse whitespace, trim. Native expression
    * (plans.NormalizeWs): one byte-level pass instead of a per-row Java
    * regex machine — bit-identical to
    * `trim(regexp_replace(lower(text), "\\s+", " "))` (spec-asserted),
    * which remains the DuckDB-oracle formulation. */
  def normalize(text: Column): Column =
    graft.plans.HashExpressions.normalizeWs(text)

  /** Unicode accent folding (NFD → strip `\p{M}` marks → NFC): 'café' →
    * 'cafe', 'ñ' → 'n'. Native expression (plans.FoldAccents) with an
    * allocation-free ASCII fast path; chars with no canonical
    * decomposition (ø, đ) pass through — the same contract as DuckDB's
    * `strip_accents`, which is the oracle formulation. */
  def foldAccents(text: Column): Column =
    graft.plans.HashExpressions.foldAccents(text)

  /** Canonical dedup key: accent-fold, then lowercase + collapse
    * whitespace + trim. The standard key under cross-encoding exact
    * dedup — two scans of the same page that differ only in diacritic
    * encoding or spacing collapse to one key. Pure per-row expression:
    * rides the scan, no exchange. */
  def canonicalKey(text: Column): Column = normalize(foldAccents(text))

  /** Whitespace tokens of the normalized text. Empty/whitespace-only text
    * yields an empty array (Spark's split of "" returns [""], which would
    * count as one token). */
  def tokens(text: Column): Column =
    filter(split(normalize(text), " "), t => length(t) > 0)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** URL canonicalization — the key normalization under web-corpus URL
    * dedup (one page, many crawl spellings): lowercase scheme + host,
    * strip default ports (http:80 / https:443), drop the fragment, drop
    * tracking params (utm_*, fbclid, gclid), SORT the surviving query
    * params, normalize the empty path to "/" and strip one trailing
    * slash elsewhere. Pure Column expressions (regexp + array ops) —
    * rides the scan; the oracle replays every step with the same
    * regexes. Non-URL strings yield "://…" garbage rather than nulls —
    * filter upstream (the scheme regex is exposed for that). */
  val urlSchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"

  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, urlSchemeRe, 1))
    val authority = lower(regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val path = regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    // query: the first '?' BEFORE any '#' — anchoring through [^#]*?
    // keeps a fragment-only '?' (http://x/p#s?a=1) from leaking a bogus
    // query past the fragment drop
    val query = regexp_extract(url, "^[^#]*?\\?([^#]*)", 1)
    val hostC = when(scheme === "http" && authority.endsWith(":80"),
        authority.substr(lit(1), length(authority) - 3))
      .when(scheme === "https" && authority.endsWith(":443"),
        authority.substr(lit(1), length(authority) - 4))
      .otherwise(authority)
    val cpath = when(path === "", lit("/"))
      .when(path =!= "/" && path.endsWith("/"),
        path.substr(lit(1), length(path) - 1))
      .otherwise(path)
    val kept = array_sort(filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid)=")))
    val cquery = array_join(kept, "&")
    concat(scheme, lit("://"), hostC, cpath,
      when(cquery === "", lit("")).otherwise(concat(lit("?"), cquery)))
  }

  /** Unicode-script ranges for [[scriptProfile]] — BMP block ranges, so
    * counts are identical under UTF-16 (Java regex) and codepoint (RE2)
    * engines. Exposed so callers and the oracle share one table. */
  val scriptRanges: Seq[(String, String, String)] = Seq(
    // (name, java-regex class, RE2/duckdb-regex class)
    ("latin", "[A-Za-z]", "[A-Za-z]"),
    ("cyrillic", "[\\u0400-\\u04FF]", "[\\x{0400}-\\x{04FF}]"),
    ("greek", "[\\u0370-\\u03FF]", "[\\x{0370}-\\x{03FF}]"),
    ("cjk", "[\\u4E00-\\u9FFF]", "[\\x{4E00}-\\x{9FFF}]"),
    ("arabic", "[\\u0600-\\u06FF]", "[\\x{0600}-\\x{06FF}]"),
    ("digit", "[0-9]", "[0-9]"))

  /** Per-document script profile — the multilingual curation signal next
    * to [[langId]] (which only separates European stopword sets): counts
    * of codepoints per major Unicode script block plus the dominant
    * script's fraction of all counted script chars. Pure per-row
    * regexp_count expressions — rides the scan, no exchange; fractions
    * are single pinned divisions. Returns struct(n_latin, n_cyrillic,
    * n_greek, n_cjk, n_arabic, n_digit, n_script, main_frac) where
    * n_script excludes digits and main_frac is NULL for script-less
    * text. */
  def scriptProfile(text: Column): Column = {
    val counts = scriptRanges.map { case (n, jre, _) =>
      n -> regexp_count(text, lit(jre)).cast("long")
    }
    val scriptOnly = counts.filter(_._1 != "digit").map(_._2)
    val total = scriptOnly.reduce(_ + _)
    val maxC = scriptOnly.reduce((a, b) => greatest(a, b))
    struct(
      counts.map { case (n, c) => c.as(s"n_$n") } ++ Seq(
        total.as("n_script"),
        when(total > 0, maxC.cast("double") / total.cast("double"))
          .as("main_frac")): _*)
  }

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * other non-space chars — a cheap stand-in for a real tokenizer's
    * piece count. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long")

  /** Mean token length (chars per token), as an exact ratio of longs.
    * Token-less text yields 0.0 (not NaN/null) so degenerate docs stay
    * comparable across engines. */
  def meanTokenLen(text: Column): Column = {
    val t = tokens(text)
    when(size(t) > 0,
      aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / size(t))
      .otherwise(lit(0.0))
  }

  /** Punctuation ratio: punct chars / total chars of the normalized text.
    * Empty text yields 0.0 (a 0/0 would be NaN, and NaN comparison
    * semantics differ across engines — DuckDB orders NaN above all). */
  def punctRatio(text: Column): Column = {
    val n = normalize(text)
    when(length(n) > 0,
      size(regexp_extract_all(n, lit("[.,;:!?'\"()-]"), lit(0))).cast("double") /
        length(n).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Stopword ratio against a tiny English stopword list; 0.0 when there
    * are no tokens. The list's single source of truth is
    * plans.HashOps.Stopwords (shared with the fused native gate). */
  val stopwords: Seq[String] = graft.plans.HashOps.Stopwords
  def stopwordRatio(text: Column): Column = {
    val t = tokens(text)
    when(size(t) > 0,
      size(filter(t, x => x.isin(stopwords.map(_.asInstanceOf[Any]): _*))).cast("double") /
        size(t).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Composite quality score in [0,1]: penalizes very short docs, extreme
    * punctuation, and stopword-free (unnatural) text. Single formula, two
    * divisions + one rounding — deterministic across engines. */
  /** Code-point Shannon entropy (bits) — the compression-proxy quality
    * signal (low ⇒ boilerplate/repetition, very high ⇒ noise); a native
    * codegen'd expression, engine-replayable to the hash via scale-12
    * decimal term rounding (q259). */
  def charEntropy(text: Column): Column =
    graft.plans.HashExpressions.charEntropy(text)

  def qualityScore(text: Column): Column = {
    val lenScore = least(length(normalize(text)).cast("double") / 200.0, lit(1.0))
    val punct = punctRatio(text)
    val stop = stopwordRatio(text)
    lenScore * (lit(1.0) - punct) * least(stop * 5.0, lit(1.0))
  }

  /** N-gram/stopword language ID over {en, de, fr, es, zh}.
    * CJK characters dominate (zh); otherwise argmax of per-language marker
    * token hits with a fixed preference order on ties. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"))
  def markerWords: Seq[(String, Seq[String])] = markers

  def langId(text: Column): Column = {
    val t = tokens(text)
    def hits(ws: Seq[String]): Column =
      size(filter(t, x => x.isin(ws.map(_.asInstanceOf[Any]): _*)))
    val cjk = size(regexp_extract_all(text, lit("[\\x{4e00}-\\x{9fff}]"), lit(0)))
    val scored = markers.map { case (lang, ws) => lang -> hits(ws) }
    // fixed-order argmax: strictly-greater beats earlier languages
    val best = scored.tail.foldLeft((lit(markers.head._1), scored.head._2)) {
      case ((bl, bs), (lang, s)) => (when(s > bs, lit(lang)).otherwise(bl), greatest(s, bs))
    }
    when(cjk > 0, lit("zh")).otherwise(best._1)
  }

  /** Positional fingerprint: sum_i i * codepoint(char_i) mod 1e9+7 over the
    * normalized text — order-sensitive, pure integer math, identical in any
    * engine with 64-bit arithmetic. Native expression
    * (plans.Fingerprint64): one O(chars) pass — the Column formulation
    * (transform ∘ sequence ∘ substr) re-seeks the string per character,
    * O(n²) per document (spec asserts bit-identity). */
  val FpMod = 1000000007L
  def fingerprint(text: Column): Column =
    graft.plans.HashExpressions.fingerprint64(normalize(text))

  /** Per-document word n-gram repetition statistics — the Gopher-style
    * repetition signals (Rae et al. 2021 §A1.1 use duplicate-line/-ngram
    * fractions as quality gates; the reference's quality filters are the
    * same shape): struct(total, distinct, top) where `total` = n-gram
    * occurrences, `distinct` = distinct n-grams, `top` = the max count of
    * any one n-gram. Native expression, one tokenizer pass per row, no
    * shuffle — at 100 TB this rides the scan like the other Text signals. */
  def repetitionStats(text: Column, n: Int): Column = {
    val a = graft.plans.HashExpressions.repStats(text, n)
    struct(element_at(a, 1).as("total"), element_at(a, 2).as("distinct"),
      element_at(a, 3).as("top"))
  }

  /** Duplicate n-gram fraction: 1 − distinct/total (0.0 for docs with no
    * n-grams). A doc whose every n-gram is unique scores 0; pure repetition
    * approaches 1. */
  def dupNgramFrac(text: Column, n: Int): Column = {
    val st = repetitionStats(text, n)
    when(st("total") > 0,
      (st("total") - st("distinct")).cast("double") / st("total").cast("double"))
      .otherwise(lit(0.0))
  }

  /** Top n-gram fraction: occurrences of the single most frequent n-gram
    * over all n-gram occurrences (0.0 for docs with no n-grams). */
  def topNgramFrac(text: Column, n: Int): Column = {
    val st = repetitionStats(text, n)
    when(st("total") > 0, st("top").cast("double") / st("total").cast("double"))
      .otherwise(lit(0.0))
  }

  /** The Column-HOF reference formulation of [[repetitionStats]] — what the
    * spec asserts the native expression against. Sorts the non-distinct
    * gram array and folds a (prev, run, best) state to find the max run —
    * O(shingles × tokens) interpreted evals per doc, test-only. */
  private[graft] def repetitionStatsHof(text: Column, n: Int): Column = {
    val t = tokens(text)
    val grams0 = transform(sequence(lit(1), size(t) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(t, i + k)): _*))
    val grams = when(size(t) >= n, grams0).otherwise(array().cast("array<string>"))
    val sorted = sort_array(grams)
    val folded = aggregate(sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (st, x) => {
        val run = when(x === st("prev"), st("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"), greatest(st("best"), run).as("best"))
      })
    struct(size(grams).cast("long").as("total"),
      size(array_distinct(grams)).cast("long").as("distinct"),
      folded("best").as("top"))
  }

  // --- PII detection/redaction -------------------------------------------
  // Patterns are restricted to syntax with identical semantics in Java
  // regex (Spark) and RE2 (DuckDB): char classes, bounded repetition,
  // non-capturing groups, \b word boundaries. No lookarounds (RE2 has
  // none), no backreferences.
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\+\\d{1,2}-\\d{3}-\\d{4}"
  val ipPattern = "\\b\\d{1,3}(?:\\.\\d{1,3}){3}\\b"

  /** Count of PII matches of one pattern. */
  private def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")
  def emailCount(text: Column): Column = piiCount(text, emailPattern)
  def phoneCount(text: Column): Column = piiCount(text, phonePattern)
  def ipCount(text: Column): Column = piiCount(text, ipPattern)

  /** Redact PII in a fixed order (emails, then phones, then IPs — the order
    * is part of the contract since an earlier replacement can destroy a
    * later pattern's match). Pure codegen'd regexp_replace chain: rides the
    * scan, no shuffle, safe to run over 100 TB of raw text. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>"),
      ipPattern, "<IP>")

  /** Gopher-style composite quality gate: token count window, mean-token-
    * length window, minimum stopword ratio, maximum duplicate-2-gram
    * fraction. Returns a BOOLEAN keep column; thresholds are parameters
    * because every corpus tunes them. ONE fused native expression
    * (plans.GopherKeep): a single tokenizer pass + one gram map per row,
    * inside WholeStageCodegen — the HOF-based conjunction (kept below as
    * [[gopherKeepHof]], the spec's bit-equality reference) is
    * CodegenFallback through ArrayFilter/ArrayAggregate, which ejects the
    * projection from codegen AND re-evaluates the tokens subtree per
    * signal (fresh lambda ExprIds defeat subexpression elimination — the
    * round-6 audit counted ~10 tokenizer evals per row). The gate still
    * adds zero shuffles to a curation pipeline. */
  def gopherKeep(text: Column,
                 minTokens: Long = 50, maxTokens: Long = 100000,
                 minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                 minStopRatio: Double = 0.0, maxDupFrac: Double = 0.2): Column =
    graft.plans.HashExpressions.gopherKeep(text, 2, minTokens, maxTokens,
      minMeanLen, maxMeanLen, minStopRatio, maxDupFrac)

  /** The Column-HOF reference formulation of [[gopherKeep]] — what the
    * spec asserts the fused native expression against, signal by signal. */
  private[graft] def gopherKeepHof(text: Column,
                 minTokens: Long = 50, maxTokens: Long = 100000,
                 minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                 minStopRatio: Double = 0.0, maxDupFrac: Double = 0.2): Column = {
    val nt = tokenCount(text)
    nt >= minTokens && nt <= maxTokens &&
      meanTokenLen(text) >= minMeanLen && meanTokenLen(text) <= maxMeanLen &&
      stopwordRatio(text) >= minStopRatio && dupNgramFrac(text, 2) <= maxDupFrac
  }

  /** Corpus n-gram DOCUMENT frequency — the vocab/stopword-analysis pass:
    * for each distinct word n-gram (per-doc distinct, so a gram counts once
    * per doc), the number of documents containing it. One narrow
    * native-shingle pass + one map-side-combined aggregate keyed on the
    * gram — the same shape (and the same skew profile) as a word-count. */
  def ngramDocFreq(df: org.apache.spark.sql.DataFrame, textCol: String,
                   n: Int): org.apache.spark.sql.DataFrame =
    df.select(explode(graft.plans.HashExpressions.shingleStrings(col(textCol), n)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("doc_freq"))

  /** Cross-corpus N-GRAM COVERAGE — decontamination's benign twin and
    * the curation question DSIR/mixing answer indirectly: "does the
    * candidate training corpus actually COVER the target domain's
    * vocabulary?" For every distinct n-gram of the TARGET corpus
    * (per-doc-deduped, the [[ngramDocFreq]] tokenization), check
    * membership in the candidate corpus's distinct n-grams:
    * `coverage` = the share of distinct target grams present, and
    * `mass_coverage` = the doc-frequency-weighted share (a missing
    * gram that appears in half the target docs hurts more than a
    * hapax). Read them together: high coverage + low mass_coverage
    * means the candidate misses the target's COMMON phrasing. Plan:
    * two tokenize-explode scans to distinct-gram tables (candidate
    * deduped map-side), one gram-keyed join, one fold — everything
    * bounded by distinct-gram counts, text never shuffles past the
    * explode. Output: one row — (n_target_grams, n_covered, coverage,
    * df_total, df_covered, mass_coverage). */
  def ngramCoverage(target: org.apache.spark.sql.DataFrame,
                    candidate: org.apache.spark.sql.DataFrame,
                    textCol: String, n: Int)
      : org.apache.spark.sql.DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val tg = target.select(explode(graft.plans.HashExpressions
        .shingleStrings(col(textCol), n)).as("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    val cg = candidate.select(explode(graft.plans.HashExpressions
        .shingleStrings(col(textCol), n)).as("__cg")).distinct()
    tg.join(cg, col("__g") === col("__cg"), "left")
      .agg(count(lit(1)).as("n_target_grams"),
        sum(when(col("__cg").isNotNull, 1L).otherwise(0L))
          .as("n_covered"),
        sum(col("__df")).as("df_total"),
        sum(when(col("__cg").isNotNull, col("__df")).otherwise(0L))
          .as("df_covered"))
      .select(col("n_target_grams"), col("n_covered"),
        when(col("n_target_grams") > 0,
          d(col("n_covered")) / d(col("n_target_grams"))).as("coverage"),
        coalesce(col("df_total"), lit(0L)).as("df_total"),
        coalesce(col("df_covered"), lit(0L)).as("df_covered"),
        when(col("df_total") > 0,
          d(col("df_covered")) / d(col("df_total"))).as("mass_coverage"))
  }

  /** Top-k n-grams by document frequency (ties broken by gram text, so the
    * result is deterministic). The global limit after the aggregate lowers
    * to TakeOrderedAndProject — partial top-k per partition, only k rows
    * reach the driver-side merge, never a full sort. */
  def topNgrams(df: org.apache.spark.sql.DataFrame, textCol: String,
                n: Int, k: Int): org.apache.spark.sql.DataFrame =
    ngramDocFreq(df, textCol, n)
      .orderBy(col("doc_freq").desc, col("gram").asc).limit(k)

  /** Token-window chunking: split each document into `chunkSize`-token
    * chunks overlapping by `overlap` tokens (stride = chunkSize − overlap) —
    * the standard context-window preparation for embedding / training
    * pipelines. The last chunk may be short (it covers the tail); documents
    * with zero tokens emit no chunks (same contract as shingles). Output:
    * (id, chunk_id, n_tokens, chunk_text), chunk_text = the chunk's tokens
    * re-joined with single spaces (normalized text).
    *
    * Narrow: tokenize + per-row explode of ⌈(n−overlap)/stride⌉ chunk ids —
    * no shuffle; at 100 TB this is a flatMap riding the scan, and output
    * volume is input × (1 + overlap/stride). Chunk-count arithmetic is
    * integer `div` (a double division would round differently across
    * engines when cast back). */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, chunkSize: Int, overlap: Int = 0): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    require(overlap >= 0 && overlap < chunkSize,
      s"overlap must be in [0, chunkSize), got $overlap")
    val stride = chunkSize - overlap
    val withT = df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol), col("__t"), size(col("__t")).cast("long").as("__n"))
      .filter(col("__n") > 0)
    val nChunks = greatest(
      expr(s"(__n - $overlap + ${stride - 1}) div $stride"), lit(1L))
    val start = (col("chunk_id") * stride).cast("int")
    withT
      .select(col(idCol), col("__t"), col("__n"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        (least(col("chunk_id") * stride + chunkSize, col("__n")) -
          col("chunk_id") * stride).as("n_tokens"),
        concat_ws(" ", slice(col("__t"), start + 1, lit(chunkSize))).as("chunk_text"))
  }

  /** Corpus-wide skip-gram co-occurrence counts — the word2vec /
    * GloVe training-pair preparation: for every token position i, every
    * position j with 0 < |i−j| ≤ `window` in the same document yields a
    * (center, context) pair; pairs aggregate to (center, context, n)
    * over the whole corpus. Pair generation is a pure Column expression
    * riding the scan (positions × offsets via element_at — O(1) array
    * access, no self-join, no positional shuffle); the only exchange is
    * the map-side-combined count keyed on the pair, the word-count skew
    * profile (hot function words absorbed by the partials). */
  def skipgramPairs(df: org.apache.spark.sql.DataFrame, textCol: String,
                    window: Int): org.apache.spark.sql.DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val t = tokens(col(textCol))
    val pairs = flatten(transform(sequence(lit(1), size(t)), i =>
      filter(
        transform(sequence(greatest(i - window, lit(1)),
            least(i + window, size(t))),
          j => when(j =!= i,
            struct(element_at(t, i).as("center"), element_at(t, j).as("context")))),
        p => p.isNotNull)))
    df.select(explode(when(size(t) > 0, pairs)
        .otherwise(array().cast("array<struct<center:string,context:string>>"))).as("p"))
      .select(col("p.center").as("center"), col("p.context").as("context"))
      .groupBy("center", "context").agg(count(lit(1)).as("n"))
  }

  /** Adjacent-bigram collocation scores — the PMI-family association
    * measure in its libm-free form: `lift = (n_ab · N) / (n_a · n_b)`
    * (= exp(PMI) under the N-token normalization; per-pair MONOTONE in
    * PMI, so ranking and thresholding are unchanged — the q98/q151
    * log-free discipline: two exact-integer casts, one multiply each
    * side, one division, engine-identical doubles). `n_ab` counts the
    * adjacent pair, `n_a`/`n_b` the unigrams, `N` total tokens.
    *
    * Shuffle shape at 100 TB: bigram generation is a narrow expression
    * on the scan (element_at pairs — no positional self-join; that
    * formulation exists only as the oracle); one map-side-combined
    * count per table (bigrams, unigrams — both word-count skew
    * profiles, hot function words absorbed by partials), two joins of
    * the bigram table against the unigram counts keyed on a word (AQE
    * broadcasts the vocab when it fits), and N as a single-row
    * broadcast. `minCount` prunes the long bigram tail BEFORE the
    * joins — at web scale most bigrams are hapax junk and the filter
    * rides the first aggregate. */
  def collocations(df: org.apache.spark.sql.DataFrame, textCol: String,
                   minCount: Long = 2L): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val t = tokens(col(textCol))
    // size(t) >= 2 guard is load-bearing: sequence(1, 0) would DESCEND
    val bi = transform(sequence(lit(1), size(t) - 1), i =>
      struct(element_at(t, i).as("a"), element_at(t, i + 1).as("b")))
    val pairs = df.select(explode(when(size(t) >= 2, bi)
        .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val bc = pairs.groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val uni = df.select(explode(t).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val total = uni.agg(sum(col("n_w")).as("n_total")) // one row — scale-safe
    bc.join(uni.select(col("w").as("a"), col("n_w").as("n_a")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("n_w").as("n_b")), Seq("b"))
      .crossJoin(broadcast(total))
      .withColumn("lift",
        (col("n_ab").cast("double") * col("n_total").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        col("lift"))
  }

  /** Per-document top-k terms by tf·idf, with idf = N/df (the inverse
    * document frequency WITHOUT the log: per-document ranking is invariant
    * under the monotone log, and tf·N/df is two exact IEEE double ops —
    * deterministic across engines, where log's last-ulp rounding is
    * libm-dependent and would make the hash gate flaky).
    *
    * Shuffle shape at 100 TB: (1) tf — one map-side-combined aggregate
    * keyed on (doc, term); (2) df — an aggregate of the tf set keyed on
    * term (distinct doc-term rows, so counting rows counts docs); (3) the
    * tf⋈df join keyed on term, AQE picks broadcast when the vocab is small
    * enough; (4) per-doc top-k via rank window → WindowGroupLimit pushes
    * partial per-partition limits, so the final exchange carries ≤ k rows
    * per doc, not the full doc×term matrix. N (corpus size) joins in as a
    * broadcast 1-row aggregate — the operator stays fully lazy. */
  def tfidfTopK(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("__n"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * col("__n") / col("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"))
  }

  /** PII patterns for [[redactPii]] — (name, regex, replacement), in
    * REDACTION ORDER (emails first: an email contains dots that the IP
    * pattern could otherwise nibble). The regex subset is chosen to mean
    * the same thing under Java regex (Spark) and RE2 (DuckDB — the
    * oracle replays redaction verbatim): character classes, bounded
    * counts, and \b only. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\b555-[0-9]{4}\\b", "<PHONE>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"))

  /** Redact PII spans (emails, phone numbers, IPv4 addresses) — the
    * scrubbing pass every training-data pipeline runs before release:
    * each pattern is replaced by its tag, in [[piiPatterns]] order. Pure
    * chained regexp_replace — rides the scan, no exchange; pair with
    * [[piiCounts]] for the audit trail. The pattern list is a
    * starting-set, not a compliance claim: extend piiPatterns for a
    * deployment's jurisdiction (the mechanism, order semantics, and
    * engine-portable regex subset are the contract here). */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (_, re, tag)) =>
      regexp_replace(c, re, tag)
    }

  /** Per-pattern PII match counts (columns `n_<name>`), for redaction
    * audits and corpus-level PII prevalence stats. Counted on the GIVEN
    * text — call on the original, not the redacted output. */
  def piiCounts(text: Column): Seq[Column] =
    piiPatterns.map { case (name, re, _) =>
      size(regexp_extract_all(text, lit(re), lit(0))).cast("long")
        .as(s"n_$name")
    }

  /** Two-level public suffixes [[registrableDomain]] recognizes — a
    * deliberately SMALL shared list (the mechanism under test is the
    * label arithmetic; a deployment swaps in the full Public Suffix
    * List, same code path). Shared with the SQL oracle. */
  val twoLevelSuffixes: Seq[String] = Seq(
    "co.uk", "com.au", "co.jp", "org.uk", "ac.uk", "gov.uk", "com.br")

  /** Registrable domain of a hostname — THE grouping key of web-corpus
    * curation (domain quotas, per-site caps, blocklists): subdomains
    * collapse (`a.b.site.co.uk` → `site.co.uk`) by taking the last two
    * labels, or three when the last two are a recognized two-level
    * public suffix. Pure per-row array arithmetic — rides the scan.
    * Hostnames with fewer than two labels pass through unchanged. */
  def registrableDomain(host: Column): Column = {
    val parts = split(host, "\\.")
    val last2 = concat_ws(".", element_at(parts, -2), element_at(parts, -1))
    val last3 = concat_ws(".", element_at(parts, -3),
      element_at(parts, -2), element_at(parts, -1))
    when(size(parts) >= 3 && last2.isin(twoLevelSuffixes: _*), last3)
      .when(size(parts) >= 2, last2)
      .otherwise(host)
  }

  /** KL divergence between two slices' unigram LMs,
    * KL(P_a ‖ P_b) = Σ_vocab p·ln(p/q) with Laplace smoothing over the
    * UNION vocabulary (q defined everywhere P is) — the text-domain
    * drift detector ([[graft.operators.Analytics.psi]]'s cousin for
    * token distributions; asymmetric by design: "how surprised is a
    * B-trained model reading A"). Exact: one token-count aggregate
    * keyed by token with both groups as conditional sums
    * (vocabulary-bounded), a broadcast 1-row totals frame, pinned
    * per-token terms, decimal(28,12) accumulation. Output: one row
    * (n_a, n_b, vocab, kl). */
  def unigramKl(df: org.apache.spark.sql.DataFrame, textCol: String,
                groupCol: String, groupA: String, groupB: String)
      : org.apache.spark.sql.DataFrame = {
    val toks = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).as("__g"),
        explode(tokens(col(textCol))).as("__tok"))
    val c = toks.groupBy(col("__tok"))
      .agg(sum(when(col("__g") === groupA, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__g") === groupB, 1L).otherwise(0L)).as("__cb"))
    val tot = c.agg(sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb"),
      count(lit(1)).as("__v"))
    val p = (col("__ca") + 1).cast("double") /
      (col("__na") + col("__v")).cast("double")
    val q = (col("__cb") + 1).cast("double") /
      (col("__nb") + col("__v")).cast("double")
    c.crossJoin(broadcast(tot))
      .select(col("__na"), col("__nb"), col("__v"),
        (p * log(p / q)).cast("decimal(28,12)").as("__term"))
      .groupBy(col("__na").as("n_a"), col("__nb").as("n_b"),
        col("__v").as("vocab"))
      .agg(sum(col("__term")).cast("double").as("kl"))
  }

  /** Per-document unigram LM negative log-likelihood — the CCNet-style
    * quality signal "how surprising is this doc under the corpus's own
    * token distribution" (high avg-NLL → rare-token noise; low → boilerplate):
    * the LM is the corpus token frequency table p(t) = c_t/N, each
    * token's −ln p is a pinned double, and per-doc accumulation goes
    * through decimal(28,12) (order-independent — the chiSquareDrift
    * discipline), with ONE final division by the token count. Plan: one
    * tokenize pass, a (token) count aggregate (vocabulary-bounded), a
    * token-keyed join back (AQE broadcasts small vocabularies), the
    * 1-row N as a broadcast cross join, one (doc) aggregate. Output:
    * (id, n_tok, avg_nll); empty docs are absent (no tokens to score). */
  /** Add-k-smoothed BIGRAM LM cross-entropy per document — the
    * quality-outlier scorer one order above [[unigramNll]] (bigram
    * surprisal catches scrambled/boilerplate text whose unigram profile
    * looks normal): train on the corpus itself, score each document by
    * avg −ln P(w_t | w_{t−1}) with
    * P = (c(w₁,w₂) + k) / (c(w₁·) + k·V), c(w₁·) the bigram-context
    * count and V the distinct unigram vocabulary. Plan: one tokenize
    * pass (posexplode), a PER-DOC lag window (doc-length-bounded, the
    * sessionization contract), bigram/context count aggregates
    * (map-side combined, vocabulary-bounded), a broadcast V scalar, and
    * decimal(28,12) surprisal accumulation (the q234 contract — exact
    * sum, order-free). Documents with fewer than 2 tokens emit no row
    * (no bigram events). Output: (id, n_bigram, avg_nll).
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def bigramNll(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, k: Double = 1.0)
      : org.apache.spark.sql.DataFrame = {
    require(k > 0, s"smoothing k must be > 0, got $k")
    val toks = df.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("__pos", "__tok")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos").asc)
    val bg = toks.withColumn("__w1", lag(col("__tok"), 1).over(w))
      .filter(col("__w1").isNotNull)
      .select(col(idCol), col("__w1"), col("__tok").as("__w2"))
    val c12 = bg.groupBy("__w1", "__w2").agg(count(lit(1)).as("__c"))
    val c1 = c12.groupBy("__w1").agg(sum(col("__c")).as("__cc"))
    val v = toks.agg(countDistinct(col("__tok")).as("__v"))
    bg.join(c12, Seq("__w1", "__w2")).join(c1, Seq("__w1"))
      .crossJoin(broadcast(v))
      .select(col(idCol),
        (-log((col("__c").cast("double") + lit(k)) /
          (col("__cc").cast("double") + lit(k) * col("__v").cast("double"))))
          .cast("decimal(28,12)").as("__nll"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigram"), sum(col("__nll")).as("__s"))
      .select(col(idCol), col("n_bigram"),
        (col("__s").cast("double") / col("n_bigram").cast("double"))
          .as("avg_nll"))
  }

  /** Zipf-fit diagnostic — the corpus-shape number reviewers ask for
    * ("is this a natural-language corpus or template spam": natural
    * text fits log f ≈ intercept − s·log r with s ≈ 1; boilerplate
    * corpora run much steeper, uniform noise much flatter). The fit is
    * a weighted least squares over FREQUENCY CLASSES — for each
    * distinct frequency f with m types, the class sits at rank
    * midpoint R_before + (m+1)/2 with weight m (exact and
    * scale-bounded: the class table is ≤ O(√N_tokens) rows, vs a
    * per-type rank needing a row_number over millions of hapaxes —
    * the giant tie class makes per-type windows the wrong plan). x =
    * ln(midrank), y = ln f; slope/intercept from the weighted normal
    * equations, the cross-class sums folded in f order
    * (engine-replayable). The midpoint-of-tie-range convention is the
    * documented estimator — exact per-type ranks change nothing when
    * classes are singletons and average to the same x inside a tie
    * class up to log curvature. One distinct-frequency prefix
    * ([[graft.operators.Analytics.prefixBefore]] on −f) supplies
    * R_before distributed. Output: one row (n_tokens, n_types,
    * n_classes, slope, intercept); fewer than 2 classes → NULL fit.
    * EAGER: builds on the pinned-execution bridge, so Spark jobs
    * launch AT CALL time and the input is snapshotted then
    * ([[org.apache.spark.sql.graftbridge.RddShareBridge]]). */
  def zipfSlope(df: DataFrame, textCol: String): DataFrame = {
    def d(c: Column) = c.cast("double")
    val tf = df.select(explode(tokens(col(textCol))).as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__f"))
    val classes = tf.groupBy(col("__f")).agg(count(lit(1)).as("__m"))
      .withColumn("__nf", -col("__f"))
    val ranked = graft.operators.Analytics
      .prefixBefore(classes, Nil, "__nf", Seq("w" -> col("__m")))._2
      .withColumn("__x", log(d(col("__cum_w")) + (d(col("__m")) + 1.0) / 2.0))
      .withColumn("__y", log(d(col("__f"))))
    ranked
      .select(col("__f"), col("__m"),
        struct(col("__f").as("f"),
          (d(col("__m")) * col("__x")).as("wx"),
          (d(col("__m")) * col("__y")).as("wy"),
          (d(col("__m")) * col("__x") * col("__x")).as("wxx"),
          (d(col("__m")) * col("__x") * col("__y")).as("wxy")).as("__t"))
      .agg(sum(col("__f").cast("decimal(38,0)") * col("__m"))
          .as("__ntok"),
        sum(col("__m")).as("n_types"),
        count(lit(1)).as("n_classes"),
        sort_array(collect_list(col("__t"))).as("__gs"))
      .withColumn("__w", col("n_types").cast("double"))
      .withColumn("__sx", aggregate(col("__gs"), lit(0.0),
        (acc, x) => acc + x.getField("wx")))
      .withColumn("__sy", aggregate(col("__gs"), lit(0.0),
        (acc, x) => acc + x.getField("wy")))
      .withColumn("__sxx", aggregate(col("__gs"), lit(0.0),
        (acc, x) => acc + x.getField("wxx")))
      .withColumn("__sxy", aggregate(col("__gs"), lit(0.0),
        (acc, x) => acc + x.getField("wxy")))
      .withColumn("__den",
        col("__sxx") - col("__sx") * col("__sx") / col("__w"))
      .withColumn("slope",
        when(col("n_classes") > 1 && col("__den") > 0,
          (col("__sxy") - col("__sx") * col("__sy") / col("__w")) /
            col("__den")))
      .select(col("__ntok").cast("long").as("n_tokens"), col("n_types"),
        col("n_classes"), col("slope"),
        when(col("slope").isNotNull,
          (col("__sy") - col("slope") * col("__sx")) / col("__w"))
          .as("intercept"))
  }

  def unigramNll(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
    val lm = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
    val n = lm.agg(sum(col("__c")).as("__n"))
    toks.join(lm, "__tok")
      .crossJoin(broadcast(n))
      .select(col(idCol),
        (-log(col("__c").cast("double") / col("__n").cast("double")))
          .cast("decimal(28,12)").as("__nll"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"), sum(col("__nll")).as("__s"))
      .select(col(idCol), col("n_tok"),
        (col("__s").cast("double") / col("n_tok").cast("double"))
          .as("avg_nll"))
  }

  /** Per-document lexical diversity — type-token ratio + hapax share,
    * the vocabulary-richness quality signals (LOW ttr ⇒ repetitive /
    * boilerplate text; HIGH hapax share on a long doc ⇒ noise /
    * codes / OCR junk — the two ends [[repetitionStats]]'s n-gram
    * ratios bracket at the sequence level, here at the bag level):
    * one tokenize pass, per-(doc, type) counts (map-side combined),
    * per-doc aggregates, pinned ratio divisions. Token-less docs
    * SURVIVE with zero counts and NULL ratios (a spine join on the id
    * — silently dropping empties would skew any downstream filter
    * threshold). Output: one row per doc —
    * (idCol, n_tokens, n_types, n_hapax, ttr, hapax_share). */
  def lexicalDiversity(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    def d(c: Column) = c.cast("double")
    val perType = df
      .select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__c"))
    val perDoc = perType.groupBy(col(idCol)).agg(
      sum(col("__c")).as("n_tokens"),
      count(lit(1)).as("n_types"),
      sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n_hapax"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"))
      .withColumn("ttr", when(col("n_tokens") > 0,
        d(col("n_types")) / d(col("n_tokens"))))
      .withColumn("hapax_share", when(col("n_types") > 0,
        d(col("n_hapax")) / d(col("n_types"))))
  }

  /** Lexicon term tagging — per-document occurrence counts of every
    * term in a curated lexicon (blocklist / safety / topic keyword
    * tagging, the list-driven sibling of the regex-driven
    * [[redactPii]]): both sides ride [[normalize]] (lowercase +
    * whitespace collapse), so multi-word terms match across the same
    * spacing the tokenizer sees, and occurrences are counted
    * NON-OVERLAPPING LEFTMOST via the length-delta identity
    * (len(text) − len(replace(text, term, ""))) / len(term) — replace
    * semantics, the contract a self-overlapping term like "aa" gets.
    *
    * Plan: the lexicon (bounded by curation — hundreds to low
    * thousands) is broadcast; the contains-join is a broadcast
    * nested-loop whose per-row cost is k codegen'd substring scans —
    * the standard small-dim × big-fact shape, no shuffle of the corpus
    * ever. Per-term counts emit ONLY on hit (a zero row per (doc,
    * term) pair would be |docs|·k output); left-join a doc spine
    * downstream if absence matters. Output: one row per (doc, matched
    * term) — (idCol, term, n_occurrences ≥ 1). Duplicate/empty/NULL
    * lexicon terms are deduped/dropped. */
  def lexiconHits(df: DataFrame, idCol: String, textCol: String,
                  lexicon: DataFrame, termCol: String = "term")
      : DataFrame = {
    val docs = df.select(col(idCol), normalize(col(textCol)).as("__txt"))
      .filter(col("__txt").isNotNull)
    val terms = lexicon
      .select(normalize(col(termCol)).as("term"))
      .filter(col("term").isNotNull && length(col("term")) > 0)
      .distinct()
    docs.join(broadcast(terms), col("__txt").contains(col("term")))
      .select(col(idCol), col("term"),
        ((length(col("__txt")) -
          length(call_function("replace", col("__txt"), col("term")))) /
          length(col("term"))).cast("long").as("n_occurrences"))
  }

  /** Good–Turing unseen-mass estimate — HOW MUCH vocabulary is the
    * corpus still missing (the coverage question behind "is this crawl
    * slice worth ingesting": a high unseen-mass estimate says the next
    * batch of text will still be full of new types; near zero says the
    * source is mined out). From the token frequency spectrum
    * (count-of-counts N_r, the q231 reduction):
    *   p_unseen = N₁/N        (Good's estimate of total unseen mass)
    *   coverage = 1 − N₁/N    (Good's sample-coverage estimate)
    *   r₁* = 2·N₂/N₁          (GT-smoothed count for once-seen types)
    * ONE tokenize pass → per-type counts → three conditional sums, all
    * map-side combined — the spectrum never materializes beyond the
    * per-type count table and nothing shuffles past it but one row.
    * `n` > 1 counts word n-gram OCCURRENCES as the types (the spectrum
    * a small-vocabulary corpus needs for a non-degenerate estimate —
    * and the LM-facing form: unseen-trigram mass is exactly what a
    * smoothing scheme allocates); the token array materializes once
    * per row and grams index into it, so gram construction is O(tokens)
    * array work in the scan, not a per-gram re-tokenize. r₁* NULL when
    * N₁ = 0 (saturated corpus — nothing seen once). `chao1` is the
    * Chao (1984) lower-bound richness estimate V + N₁²/(2N₂) — the
    * "how big is the full vocabulary" companion to the mass estimate
    * (NULL when N₂ = 0, where the bias-corrected form is undefined
    * without a smoothing choice). Output: one row (n_tokens, vocab,
    * n1, n2, p_unseen, coverage, r1_star, chao1); an empty corpus
    * yields zero counts and NULL ratios. */
  def goodTuringMass(df: DataFrame, textCol: String, n: Int = 1)
      : DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    def d(c: Column) = c.cast("double")
    val toks = df.select(tokens(col(textCol)).as("__tk"))
    val gram =
      if (n == 1) explode(col("__tk"))
      else explode(when(size(col("__tk")) >= n,
        transform(sequence(lit(1), size(col("__tk")) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k =>
            element_at(col("__tk"), i + k)): _*)))
        .otherwise(array().cast("array<string>")))
    val tf = toks.select(gram.as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
    tf.agg(
        coalesce(sum(col("__c")), lit(0L)).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("__c") === 2, 1L).otherwise(0L)).as("n2"))
      .select(col("n_tokens"), col("vocab"),
        coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"))
      .withColumn("p_unseen", when(col("n_tokens") > 0,
        d(col("n1")) / d(col("n_tokens"))))
      .withColumn("coverage", when(col("n_tokens") > 0,
        lit(1.0) - d(col("n1")) / d(col("n_tokens"))))
      .withColumn("r1_star", when(col("n1") > 0,
        lit(2.0) * d(col("n2")) / d(col("n1"))))
      .withColumn("chao1", when(col("n2") > 0,
        d(col("vocab")) + d(col("n1")) * d(col("n1")) /
          (lit(2.0) * d(col("n2")))))
  }
}
