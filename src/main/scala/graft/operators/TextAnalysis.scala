package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Barrier, Fence}

/** Text-analysis operators for a training-data pipeline, over a
  * `documents(doc_id, text, …)` table. All are pure column expressions
  * (whole-stage-codegen-friendly where Spark codegens them, JVM higher-order
  * functions elsewhere) — no UDFs, no driver-side loops; each scales as a
  * map-only stage. A kernel column that a caller filters on
  * ([[gopherSignals]]' `passes_gopher`) is computed below a
  * [[graft.Fence]] (THE GATE RULE in its doc).
  */
object TextAnalysis {

  /** Engine-wide tokenizer whitespace: the explicit `[ \t\n\f\r]` —
    * exactly RE2's (and so DuckDB's) `\s` — NOT Java's `\s`, which
    * additionally matches U+000B. Every tokenizer in the engine (column
    * expressions, native kernels, the BPE Java splits) and every DuckDB
    * oracle that writes `\s` then agree by construction, independent of
    * fixture content. Cross-engine regex rule, SURVEY conventions.
    */
  val WhitespaceClass: String = "[ \\t\\n\\f\\r]"

  /** One-or-more of [[WhitespaceClass]] — the split pattern. */
  val WhitespaceSplit: String = WhitespaceClass + "+"

  /** Complement character-class body: inserted into negated classes like
    * `[^A-Za-z0-9 \t\n\f\r]` so they too track the engine rule.
    */
  val WhitespaceChars: String = " \\t\\n\\f\\r"

  /** Whitespace tokenization; empty string → empty array (split would give
    * one empty token). The separator class is the explicit
    * `[ \t\n\f\r]` — exactly RE2's `\s` — rather than Java's `\s`
    * (which additionally matches U+000B): every DuckDB oracle that
    * tokenizes with `\s+` then agrees with this tokenizer by
    * construction, independent of fixture content (cross-engine regex
    * rule, SURVEY conventions).
    */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), WhitespaceSplit))

  /** Token count (whitespace tokenizer). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: counts word-piece-like units — runs of letters,
    * runs of digits, or single punctuation marks — the usual pre-tokenizer
    * regex shape. An approximation of BPE token counts without a vocab.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(
      text, lit(s"[A-Za-z]+|[0-9]+|[^A-Za-z0-9$WhitespaceChars]"), lit(0)))

  /** Characters of punctuation. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:'\"()\\[\\]{}-]", ""))

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Fraction of tokens that are stopwords; 0 for empty docs. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val toks = tokens(text)
    val sw = array(stopwords.map(lit).toIndexedSeq: _*)
    val nTok = size(toks)
    when(nTok === 0, lit(0.0))
      .otherwise(size(filter(toks, t => array_contains(sw, lower(t)))).cast("double") / nTok)
  }

  /** Heuristic quality score in [0,1]: rewards moderate length, low
    * punctuation density, presence (but not excess) of stopwords, and a
    * sane mean token length. Deterministic, explainable, cheap.
    *
    *   score = 0.25·lenScore + 0.25·punctScore + 0.25·stopScore + 0.25·wordScore
    */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("double")
    val nToks = tokenCount(text).cast("double")
    // length: full credit 100..10000 chars, linear ramp below, clamp above
    val lenScore = least(nChars / 100.0, lit(1.0))
    val punctRatio = when(nChars === 0, 0.0).otherwise(punctCount(text).cast("double") / nChars)
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio * 5.0)
    val sr = stopwordRatio(text)
    // stopwords: ideal band ~[0.1, 0.6]
    val stopScore = when(sr.between(0.1, 0.6), 1.0)
      .otherwise(greatest(lit(0.0), lit(1.0) - abs(sr - 0.35) * 2.0))
    val meanTokLen = when(nToks === 0, 0.0).otherwise(nChars / nToks)
    val wordScore = when(meanTokLen.between(3.0, 10.0), 1.0)
      .otherwise(greatest(lit(0.0), lit(1.0) - abs(meanTokLen - 6.0) / 10.0))
    round((lenScore + punctScore + stopScore + wordScore) / 4.0, 4)
  }

  /** Tiny built-in stopword profiles for the n-gram/stopword language-ID
    * heuristic. Public-knowledge word lists, a handful per language.
    */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "you", "with"),
    "es" -> Seq("el", "la", "de", "que", "los", "una", "por", "con"),
    "fr" -> Seq("le", "les", "des", "est", "dans", "une", "pour", "que"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "他", "这"))

  /** Heuristic language ID: score each language by stopword hits (plus a
    * CJK-character signal for zh), take the argmax; "und" when nothing
    * matches. Pure expressions → map-only, no shuffle.
    */
  def langId(text: Column, profiles: Map[String, Seq[String]] = langProfiles): Column = {
    val toks = transform(tokens(text), lower _)
    val cjk = size(regexp_extract_all(text, lit("[\\u4e00-\\u9fff]"), lit(0)))
    val scored: Seq[(String, Column)] = profiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val prof = array(words.map(lit).toIndexedSeq: _*)
      val base = size(filter(toks, t => array_contains(prof, t)))
      val score = if (lang == "zh") base + cjk else base
      lang -> score
    }
    // argmax with deterministic tie-break on language code order
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldLeft(lit("und")) { case (acc, (lang, score)) =>
      when(score > 0 && score === best && acc === "und", lit(lang)).otherwise(acc)
    }
  }

  /** Language-ID CONFUSION audit: [[langId]]'s predictions
    * cross-tabulated against a labeled language column — the
    * classifier-health report a routing pipeline runs before trusting
    * the cheap heuristic at 100 TB ("where does the router send German
    * docs it mislabels?"). One row per observed (label, pred) cell
    * with the exact count, the share of the label's row mass
    * (6dp-rounded — the row-normalized confusion matrix), and the
    * diagonal flag.
    *
    * Scale: langId is map-only expressions; the ONE data shuffle is
    * the (label, pred) cell aggregate (map-side partials, state
    * bounded by |labels|·|languages+1|); the label margins derive from
    * the CHECKPOINTED cell frame (the q259 idiom — no second corpus
    * scan).
    */
  def langIdConfusion(
      df: DataFrame,
      labelCol: String,
      textCol: String): DataFrame = {
    val cells = Barrier(df
      .select(col(labelCol).cast("string").as("label"),
        langId(col(textCol)).as("pred"))
      .groupBy("label", "pred").agg(count(lit(1)).as("n")), "TextAnalysis.langIdConfusion")
    val margins = cells.groupBy("label").agg(sum(col("n")).as("__lt"))
    cells.join(margins, "label")
      .select(col("label"), col("pred"), col("n"),
        round(col("n").cast("double") / col("__lt").cast("double"), 6)
          .as("share_of_label"),
        (col("label") === col("pred")).as("is_correct"))
  }

  /** 64-bit document fingerprint: polynomial rolling hash over the
    * normalized (lowercased, whitespace-collapsed) text, built from
    * per-token xxhash64 values combined order-sensitively:
    *
    *   fp = Σ over positions p:  xxhash64(token_p) · 31^p   (mod 2⁶⁴)
    *
    * Order-sensitive (unlike a bag-of-words hash) yet incremental —
    * expressible entirely with built-ins.
    */
  def fingerprint(text: Column): Column = {
    val toks = tokens(lower(text))
    aggregate(
      toks,
      struct(lit(0L).as("acc"), lit(1L).as("pow")),
      (st, t) =>
        struct(
          (st.getField("acc") + xxhash64(t) * st.getField("pow")).as("acc"),
          (st.getField("pow") * 31L).as("pow")),
      st => st.getField("acc"))
  }

  /** Cross-engine twin of [[fingerprint]]: the SAME positional
    * polynomial combine (fp = Σ h(token_p)·31^p mod 2⁶⁴) with the
    * per-token hash drawn from md5's first 64 bits (assembled from two
    * 32-bit `conv(substring(md5(tok),…),16,10)` halves, the q148
    * convention) instead of Spark-internal xxhash64. Every step is
    * 64-bit wraparound arithmetic, so any engine with exact integer
    * semantics can replay it — the DuckDB oracle does the modular
    * multiply in 32-bit limbs over HUGEINT and lands on identical
    * signed-64 bit patterns. Prefer [[fingerprint]] when only Spark
    * needs to agree with itself (one internal hash per token instead of
    * an md5 plus two hex-decodes); prefer this when the fingerprint is
    * persisted for other systems to verify.
    */
  def fingerprintMd5Poly(text: Column): Column = {
    val toks = tokens(lower(text))
    aggregate(
      toks,
      struct(lit(0L).as("acc"), lit(1L).as("pow")),
      (st, t) => {
        val hex = md5(t)
        val hv = conv(substring(hex, 1, 8), 16, 10).cast("long") * lit(4294967296L) +
          conv(substring(hex, 9, 8), 16, 10).cast("long")
        struct(
          (st.getField("acc") + hv * st.getField("pow")).as("acc"),
          (st.getField("pow") * 31L).as("pow"))
      },
      st => st.getField("acc"))
  }

  /** Encoding-noise (mojibake) signal — the ftfy-class cleanup gate: a
    * UTF-8 byte sequence decoded as Latin-1/cp1252 leaves fingerprint
    * pairs ("Ã©" for é, "â€™" for ', "â€"" for —, a stray "Â" before
    * punctuation/space). Counts those artifact sequences and the
    * U+FFFD replacement char, normalized per 1000 characters (rounded
    * 4dp so the ratio is engine-exact). A corpus gate drops or
    * re-decodes docs above a small threshold; clean text scores 0.
    * Pure regexp_count-style column arithmetic, Java∩RE2 subset.
    */
  def encodingNoiseScore(text: Column): Column = {
    // one alternative per double-decode artifact class, written with
    // \\x{...} escapes -- the hex syntax Java regex and RE2 share:
    //  - U+00C3 followed by a char in U+0080..U+00BF: a 2-byte UTF-8
    //    sequence read back as Latin-1 (the "A-tilde + copyright"
    //    ghost where an accented letter belonged)
    //  - U+00E2 U+20AC: the cp1252 ghost of the U+2018..U+2026 smart
    //    punctuation block
    //  - U+00C2 before space/NBSP: the stray byte NBSP decodings leave
    //  - U+FFFD: the replacement char a strict decoder already emitted
    val artifact = "(\\x{00C3}[\\x{0080}-\\x{00BF}])|(\\x{00E2}\\x{20AC})|" +
      "(\\x{00C2}[\\x{0020}\\x{00A0}])|(\\x{FFFD})"
    val hits = size(split(text, artifact, -1)) - 1
    when(text.isNull || length(text) === 0, 0.0)
      .otherwise(round(hits.cast("double") * 1000.0 / length(text), 4))
  }

  /** Luhn checksum validity of a candidate card number (separators
    * allowed; 13–19 digits after stripping them — the issued-length
    * band). Pure column arithmetic: per-digit doubling from the RIGHT
    * with 9-wrap, one aggregate fold — no UDF, and the same loop
    * replays in DuckDB as a list comprehension, which is what lets the
    * q190 oracle validate REAL checksum semantics instead of a regex
    * shape. The checksum is what separates a card number from any other
    * 16-digit run (order ids, tracking numbers): a digit-run regex
    * alone would redact those too.
    */
  def luhnValid(candidate: Column): Column = {
    val d = regexp_replace(candidate, "[^0-9]", "")
    val n = length(d)
    val total = aggregate(
      transform(sequence(lit(1), n), i => {
        val dig = ascii(d.substr(i, lit(1))) - 48
        val dbl = dig * 2
        when(((n - i) % 2) === 1, when(dbl > 9, dbl - 9).otherwise(dbl))
          .otherwise(dig)
      }),
      lit(0), (acc, x) => acc + x)
    n >= 13 && n <= 19 && total % 10 === 0
  }

  /** Candidate card numbers in a text: digit runs of 13–19 (optionally
    * ' '/'-' separated) bounded by non-digits. Java∩RE2 subset (no
    * lookaround), so extraction replays cross-engine.
    */
  def cardCandidates(text: Column): Column =
    regexp_extract_all(text,
      lit("(^|[^0-9])((?:[0-9][ -]?){12,18}[0-9])([^0-9]|$)"), lit(2))

  /** Redact every Luhn-VALID card number (literal replace per validated
    * candidate, folded over the text); invalid candidates — order ids,
    * tracking numbers — are left alone. Complements [[redactPii]]'s
    * shape-only patterns with a checksum-verified one.
    */
  def redactCards(text: Column, placeholder: String = "<CARD>"): Column =
    aggregate(
      filter(cardCandidates(text), luhnValid(_)),
      text,
      (acc, c) => org.apache.spark.sql.functions.replace(acc, c, lit(placeholder)))

  /** PII redaction — the scrub pass every training-data pipeline runs
    * before text leaves the lake. Four conservative patterns (emails,
    * SSN-shaped ids, US-style phone numbers, IPv4 addresses) replaced
    * with typed placeholders. Deliberately restricted to the regex
    * subset Java regex and RE2 agree on (no lookaround, no backrefs) so
    * the operator is DuckDB-oracle-checkable (q102) and portable to
    * RE2-based engines. Map-only; regexp_replace is codegen'd.
    *
    * Order matters: SSN before phone (a 3-2-4 digit group must become
    * <SSN>, not half a phone), email before IPv4 (domains with numeric
    * labels stay inside <EMAIL>).
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(
      text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ssn = regexp_replace(email, "\\d{3}-\\d{2}-\\d{4}", "<SSN>")
    val phone = regexp_replace(ssn, "\\(?\\d{3}\\)?[-. ]\\d{3}[-. ]\\d{4}", "<PHONE>")
    regexp_replace(phone, "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}", "<IP>")
  }

  /** Per-document PII COUNTS by class — the measurement twin of
    * [[redactPii]] (a governance dashboard needs "how much PII per
    * source", not just scrubbed text). Counting uses the SAME
    * sequential staging as the redaction — each class counts on the
    * text with the previous classes already redacted — so overlapping
    * classes never double-count (an email's digits can't also count as
    * a phone) and count(class) == number of `<CLASS>` tokens redaction
    * would emit. Map-only: four regex passes per row, no shuffle; the
    * regex subset is deliberately Java/RE2-portable (q102 precedent),
    * so counts replay exactly in DuckDB.
    */
  def piiProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ssnRe = "\\d{3}-\\d{2}-\\d{4}"
    val phoneRe = "\\(?\\d{3}\\)?[-. ]\\d{3}[-. ]\\d{4}"
    val ipRe = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, emailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, ssnRe, "<SSN>")
    val t3 = regexp_replace(t2, phoneRe, "<PHONE>")
    df.select(col(idCol),
      regexp_count(t0, lit(emailRe)).cast("long").as("n_email"),
      regexp_count(t1, lit(ssnRe)).cast("long").as("n_ssn"),
      regexp_count(t2, lit(phoneRe)).cast("long").as("n_phone"),
      regexp_count(t3, lit(ipRe)).cast("long").as("n_ip"))
  }

  /** Overlapping token-window chunking — long documents cut into
    * training-sized pieces. One chunk starts every `size - overlap`
    * tokens; a chunk's window is `size` tokens (the final chunk may be
    * shorter); starts past `n - overlap` are suppressed (they would be
    * wholly contained in the previous chunk), except start 1 so every
    * non-empty doc yields ≥ 1 chunk. Pure expressions: sequence +
    * explode + slice — the explode is the only row amplification and it
    * is exactly the output size; no shuffle.
    *
    * Output: (idCol, chunk_idx, chunk_tokens, chunk [, carry…]) rows —
    * `carry` columns replicate onto every chunk of their document
    * (quality/language gates ride along to downstream mixing), keeping
    * the operator a single stateless projection + explode: streaming-
    * safe with no join and no state store.
    */
  def chunk(
      df: DataFrame,
      idCol: String,
      textCol: String,
      size: Int = 512,
      overlap: Int = 64,
      carry: Seq[String] = Nil): DataFrame = {
    require(size > overlap && overlap >= 0, s"need size > overlap >= 0, got $size/$overlap")
    val step = size - overlap
    val toks = tokens(col(textCol))
    val n = org.apache.spark.sql.functions.size(toks)
    df.withColumn("__toks", toks)
      .withColumn("__n", n)
      .filter(col("__n") > 0)
      .withColumn("__start",
        explode(sequence(lit(1), greatest(col("__n") - overlap, lit(1)), lit(step))))
      .select((Seq(
        col(idCol),
        ((col("__start") - 1) / step).cast("bigint").as("chunk_idx"),
        least(lit(size), col("__n") - col("__start") + 1).cast("int").as("chunk_tokens"),
        array_join(slice(col("__toks"), col("__start"), lit(size)), " ").as("chunk")) ++
        carry.map(col)).toIndexedSeq: _*)
  }

  /** Repetition ratio — the C4/Gopher-style boilerplate signal: the
    * fraction of word n-grams that are repeats of an earlier n-gram
    * (1 − distinct/total). 0 for docs shorter than n tokens. Unlike
    * [[graft.operators.Dedup.shingleHashes]] this keeps duplicates — the
    * whole point is counting them. Native single-pass kernel
    * (RepetitionRatioExpr); value-identical to [[repetitionRatioHof]],
    * which the spec pins.
    */
  def repetitionRatio(text: Column, n: Int = 3): Column =
    graft.functions.RepetitionRatioExpr(text, n)

  /** Reference formulation of [[repetitionRatio]] with built-in
    * higher-order functions only — kept as the semantic spec for the
    * native kernel.
    */
  def repetitionRatioHof(text: Column, n: Int = 3): Column = {
    val toks = tokens(lower(text))
    val total = org.apache.spark.sql.functions.size(toks) - (n - 1)
    val grams = transform(
      sequence(lit(1), greatest(total, lit(0))),
      i => array_join(slice(toks, i, lit(n)), " "))
    when(total <= 0, lit(0.0))
      .otherwise(round(
        lit(1.0) - org.apache.spark.sql.functions.size(array_distinct(grams)).cast("double")
          / total.cast("double"), 6))
  }

  /** Cross-engine content fingerprint: md5 of the normalized
    * (lowercased, trimmed) text. Complements the engine-internal rolling
    * [[fingerprint]]: md5 is standard, so exact-dup grouping on it is
    * DuckDB-oracle-checkable end to end (q105) and stable across
    * engines, languages, and Spark versions — the right key for a
    * persisted cross-system dedup ledger.
    */
  def md5Fingerprint(text: Column): Column = md5(lower(trim(text)).cast("binary"))

  /** Corpus-wide line-level dedup (the CCNet pass): split each document
    * on `sep`, keep only the FIRST occurrence of every distinct
    * non-blank line across the whole corpus (first = smallest
    * (`idCol`, position)), and reassemble each document from its
    * surviving lines in original order. Documents whose every line was
    * already seen disappear from the output. Blank/whitespace-only lines
    * are dropped up front (standard normalization).
    *
    * Output: (idCol, clean_text, kept_lines).
    *
    * Scale: two shuffles — one keyed by the line text (the keep-first
    * window; Spark hash-partitions the string key, so identical lines
    * co-locate and each partition holds line-count/shuffle-partitions
    * lines), one by `idCol` (reassembly agg, map-side partial). Line
    * text crosses the wire once per stage — same order as the input
    * itself, no amplification. At 100 TB key the window by
    * `xxhash64(line)` instead to shuffle 8-byte keys (collision risk
    * ~n²/2⁶⁴ falsely-dropped lines); the exact-string key here keeps the
    * operator engine-reproducible (DuckDB oracle q110).
    */
  def dedupLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol),
        java.util.regex.Pattern.quote(sep))).as(Seq("pos", "line")))
      .filter(length(trim(col("line"))) > 0)
    val keepFirst = Window.partitionBy("line").orderBy(col(idCol), col("pos"))
    lines
      .withColumn("__rn", row_number().over(keepFirst))
      .filter(col("__rn") === 1)
      .groupBy(idCol)
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")),
          sep).as("clean_text"),
        count(lit(1)).cast("long").as("kept_lines"))
  }

  /** C4-style line-level cleaning (Raffel et al. 2020, "Exploring the
    * Limits of Transfer Learning…", §2.2 — the published heuristics
    * behind the C4 corpus), the per-LINE quality pass that sits between
    * document-level gates (Gopher, q183) and line dedup (q110):
    *
    *  - keep a line only if its trimmed form ends in a terminal mark —
    *    `.` `!` `?` (optionally followed by a closing quote) or an end
    *    quotation mark itself, the paper's four terminals — AND has at
    *    least `minLineWords` whitespace tokens (the engine-wide
    *    `[ \t\n\f\r]` class; the paper keeps lines of ≥ 5 words) AND
    *    does not mention "javascript" (case-insensitive);
    *  - drop the whole DOCUMENT if the original text contains `{` or
    *    "lorem ipsum" (case-insensitive) — code/template and filler
    *    pages;
    *  - after line filtering, keep only documents whose surviving text
    *    has at least `minDocSentences` sentences (the paper keeps pages
    *    of ≥ 3; sentences are counted as terminal-PUNCTUATION marks, so
    *    a kept quote-terminal line contributes its internal `[.!?]`
    *    marks only).
    *
    * Defaults are the published thresholds (≥ 5 words/line, ≥ 3
    * sentences/page); both are knobs for stricter deployments.
    *
    * C4's English-specific langdetect gate and its word blocklist are
    * intentionally not reproduced — language ID is its own operator
    * ([[langId]], q97) and blocklists are deployment policy
    * ([[gazetteerSpans]] is the mechanism, q205).
    *
    * Output: (idCol, clean_text, kept_lines, dropped_lines) — survivor
    * documents only.
    *
    * Scale: entirely map-only — the line rules are a `filter` HOF over
    * the split array and both document gates are scalar predicates, so
    * the whole operator runs inside one whole-stage-codegen span with
    * NO shuffle, no explode (line arrays never leave their row), and
    * no UDF; it composes with [[dedupLines]] / [[removeBoilerplate]]
    * (which shuffle line text) as the cheap first cut. Every rule is
    * a deterministic string predicate, so the operator carries a full
    * DuckDB oracle (q206). Being stateless (no watermark, no state
    * store), it runs unchanged on a streaming frame between
    * `StreamingCorpus.ingestCrawl` and `StreamingCorpus.clean`, with
    * `carry` keeping the watermark column.
    */
  def c4Clean(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n",
      minLineWords: Int = 5,
      minDocSentences: Int = 3,
      carry: Seq[String] = Nil): DataFrame = {
    require(minLineWords >= 1, "minLineWords must be >= 1")
    require(minDocSentences >= 1, "minDocSentences must be >= 1")
    val terminal = "([.!?][\"']?|[\"'])$"
    val lineOk = (l: Column) => {
      val t = trim(l)
      t.rlike(terminal) &&
        size(split(t, "[ \t\n\f\r]+")) >= minLineWords &&
        !lower(t).contains("javascript")
    }
    val kept = filter(split(col(textCol), java.util.regex.Pattern.quote(sep)),
      l => lineOk(l))
    df
      .filter(!col(textCol).contains("{") &&
        !lower(col(textCol)).contains("lorem ipsum"))
      .withColumn("__kept", kept)
      .withColumn("clean_text", array_join(transform(col("__kept"), l => trim(l)), sep))
      .withColumn("kept_lines", size(col("__kept")).cast("long"))
      .withColumn("dropped_lines",
        (size(split(col(textCol), java.util.regex.Pattern.quote(sep))) -
          size(col("__kept"))).cast("long"))
      // sentence count = number of terminal marks in the kept text
      .filter(size(split(col("clean_text"), "[.!?]")) - 1 >= minDocSentences)
      .select(col(idCol) +: col("clean_text") +: col("kept_lines") +:
        col("dropped_lines") +: carry.map(col): _*)
  }

  /** Corpus-level boilerplate removal (the RefinedWeb/CCNet sibling of
    * [[dedupLines]]): a line that occurs in at least `minDocs` DISTINCT
    * documents is boilerplate (nav bars, footers, license headers) and is
    * removed from EVERY document — unlike dedupLines, which keeps the
    * first occurrence. Lines are compared after trim; blank lines are
    * dropped up front. Documents left with zero lines disappear.
    *
    * Output: (idCol, clean_text, kept_lines).
    *
    * Scale: the document-frequency pass is a groupBy over (trimmed line)
    * with a count(DISTINCT id) — map-side partial aggregation collapses
    * within-partition repeats before the shuffle. The boilerplate set
    * (lines over threshold) is a tiny fraction of distinct lines, so the
    * removal anti-join broadcasts it; reassembly is the same single
    * id-keyed agg as dedupLines. Line text shuffles once, same order as
    * the input. At 100 TB key the df pass by xxhash64(trim(line)) to
    * shuffle 8-byte keys; the exact-string key keeps the operator
    * engine-reproducible (DuckDB oracle).
    */
  def removeBoilerplate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Long,
      sep: String = "\n"): DataFrame = {
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol),
        java.util.regex.Pattern.quote(sep))).as(Seq("pos", "line")))
      .filter(length(trim(col("line"))) > 0)
    val boiler = lines
      .groupBy(trim(col("line")).as("__bline"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select("__bline")
    lines
      .join(broadcast(boiler), trim(col("line")) === col("__bline"), "left_anti")
      .groupBy(idCol)
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")),
          sep).as("clean_text"),
        count(lit(1)).cast("long").as("kept_lines"))
  }

  /** MOSS-style winnowing fingerprints (Schleimer, Wilkerson, Aiken
    * 2003, simplified to the distinct-window-minima set): md5 each
    * char k-gram of the normalized text, take the minimum hash of every
    * window of `w` consecutive k-grams, and emit each document's
    * DISTINCT minima as its fingerprint set. The winnowing guarantee:
    * any shared substring of at least k + w − 1 chars yields at least
    * one shared fingerprint, while the emitted set is ~1/w the k-gram
    * count. md5 makes every value engine-replayable (q105/q117
    * discipline), and hex strings order like the underlying value, so
    * the window min is lexicographic in both engines.
    *
    * Output: (idCol, fp) — one row per distinct fingerprint. Documents
    * shorter than k + w − 1 chars emit nothing.
    *
    * Scale/shape: the native one-pass kernel (`WinnowMd5Expr`: reused
    * digest, monotonic-deque window min) computes each row's distinct
    * fingerprint set map-side — no posexplode, no window shuffle; only
    * the final distinct aggregates. [[winnowFingerprintsWindowed]] is
    * the built-in-operator semantic twin the spec pins.
    */
  def winnowFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 25,
      w: Int = 10): DataFrame = {
    require(k >= 2 && w >= 1, s"k=$k must be >= 2 and w=$w >= 1")
    df.select(col(idCol),
        explode(org.apache.spark.sql.graft.NativeExprs
          .winnowMd5(col(textCol), k, w)).as("fp"))
      .distinct()
  }

  /** Built-in-operator formulation of [[winnowFingerprints]], kept as
    * the executable semantic spec: k-gram hashes are computed ONCE per
    * position in a map-side transform, then the window minima come from
    * a ROWS-frame running min over the exploded (pos, hash) stream —
    * one shuffle keyed by the document id. (The tempting all-HOF form —
    * `transform(windows, j => array_min(slice(grams, j, w)))` —
    * re-evaluates the whole gram array per WINDOW ELEMENT, because
    * non-lambda subtrees inside a higher-order lambda re-execute per
    * invocation: O(len²) md5 calls per document.)
    */
  def winnowFingerprintsWindowed(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 25,
      w: Int = 10): DataFrame = {
    require(k >= 2 && w >= 1, s"k=$k must be >= 2 and w=$w >= 1")
    import org.apache.spark.sql.expressions.Window
    val t = lower(trim(col(textCol)))
    val grams = when(length(t) >= k + w - 1,
      transform(sequence(lit(1), length(t) - (k - 1)),
        i => md5(t.substr(i, lit(k)).cast("binary"))))
      .otherwise(array().cast("array<string>"))
    val g = df.select(col(idCol), posexplode(grams).as(Seq("pos", "h")))
    val byDoc = Window.partitionBy(idCol)
    val frame = byDoc.orderBy("pos").rowsBetween(Window.currentRow, w - 1)
    g.withColumn("__n", count(lit(1)).over(byDoc))
      .withColumn("__m", min("h").over(frame))
      .filter(col("pos") <= col("__n") - w) // full windows only (pos is 0-based)
      .select(col(idCol), col("__m").as("fp"))
      .distinct()
  }

  /** Winnowing near-dup pairs: documents sharing at least `minShared`
    * fingerprints, with the shared count — the containment-style
    * complement to MinHash (which estimates whole-document Jaccard;
    * winnowing catches a long COPIED PASSAGE inside otherwise-different
    * documents, the plagiarism shape). Fingerprints present in more
    * than `maxDf` documents are dropped first (corpus boilerplate
    * carries no discrimination and would drive the join quadratic —
    * the invertedIndex df-band rule).
    *
    * Scale: the join shuffles (fp, id) pairs only; the df prune runs as
    * a map-side-partial aggregate before it.
    */
  def winnowNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 25,
      w: Int = 10,
      minShared: Long = 3L,
      maxDf: Long = 1000L): DataFrame = {
    val fp = Barrier(winnowFingerprints(df, idCol, textCol, k, w),
      "TextAnalysis.winnowNearDups.fingerprints")
    val hot = fp.groupBy("fp")
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") > maxDf)
      .select("fp")
    val kept = Barrier(fp.join(hot, Seq("fp"), "left_anti"), "TextAnalysis.winnowNearDups.kept")
    val a = kept.select(col("fp"), col(idCol).as("id_a"))
    val b = kept.select(col("fp"), col(idCol).as("id_b"))
    a.join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Incremental winnowing near-dup pairs: a NEW batch against a
    * persisted fingerprint store — the daily-crawl shape every other
    * near-dup family already has ([[graft.operators.Dedup
    * .minHashNearDupsIncremental]], tiles, semantic, pHash). The store
    * is prior [[winnowFingerprints]] output `(id, fp)` rows — 16 bytes
    * of md5 hex per fingerprint, never history TEXT, which is the
    * point: a daily batch fingerprints ONLY its own documents and
    * joins the store.
    *
    * Emits (id_a, id_b, n_shared) where AT LEAST ONE side is new —
    * history×history pairs are already known and never recomputed. Ids
    * must be unique across batch and store (the DedupLedger
    * convention). The boilerplate prune (`maxDf`) counts document
    * frequency over the COMBINED store+batch population, so the pair
    * set equals [[winnowNearDups]] over the full corpus side-filtered
    * to new pairs — the q166/q134 incremental contract, which is what
    * the oracle and the incremental-≡-full spec replay.
    *
    * The next day's store is `historyFps ∪ this batch's fingerprints`
    * ([[winnowFingerprints]] of the batch alone): winnowing state is
    * append-only, so maintenance is a blind union — no rebuild.
    */
  def winnowNearDupsIncremental(
      newDocs: DataFrame,
      historyFps: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 25,
      w: Int = 10,
      minShared: Long = 3L,
      maxDf: Long = 1000L): DataFrame = {
    // no Barrier here: this variant survives as the pinned semantic
    // twin of the mergeable path (plan-inspected by PlanShapeSpec's
    // count(distinct) sentinel, which a checkpoint would truncate away);
    // production callers use [[winnowNearDupsIncrementalMergeable]]
    val newFp = winnowFingerprints(newDocs, idCol, textCol, k, w)
      .withColumn("__new", lit(1))
    val all = newFp.unionByName(
      historyFps.select(col(idCol), col("fp")).withColumn("__new", lit(0)))
    val hot = all.groupBy("fp")
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") > maxDf)
      .select("fp")
    val kept = all.join(hot, Seq("fp"), "left_anti")
    val a = kept.select(col("fp"), col(idCol).as("id_a"), col("__new").as("__new_a"))
    val b = kept.select(col("fp"), col(idCol).as("id_b"), col("__new").as("__new_b"))
    a.join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b") &&
        (col("__new_a") === 1 || col("__new_b") === 1))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Mergeable (fp, df) document-frequency state for the winnowing
    * store — the tileHashStore discipline ([[graft.operators.Dedup
    * .tileHashStore]]) applied to the boilerplate prune: instead of
    * re-counting `countDistinct(id)` over store ∪ batch every ingest
    * (an O(|store|) pass at full history width), persist per-batch
    * (fp, df) delta rows and let readers sum them.
    *
    * Input MUST be a [[winnowFingerprints]] output — (id, fp) rows are
    * distinct by construction, so `count` IS the document frequency.
    * Maintenance is a blind append of each batch's own `winnowDfStore`
    * (ids globally unique, the DedupLedger convention): df is additive
    * over disjoint id populations, so sum-of-deltas ≡ recompute from
    * the combined corpus — the associativity [[TextAnalysisSpec]] pins.
    * Compact periodically with [[winnowDfCompact]] to bound row count.
    */
  def winnowDfStore(fps: DataFrame, idCol: String): DataFrame =
    fps.groupBy("fp").agg(count(lit(1)).cast("long").as("df"))

  /** Compaction of an append-only [[winnowDfStore]] delta stream back
    * to one row per fingerprint. Idempotent; safe at any cadence.
    */
  def winnowDfCompact(historyDf: DataFrame): DataFrame =
    historyDf.groupBy("fp").agg(sum(col("df")).cast("long").as("df"))

  /** [[winnowNearDupsIncremental]] with the boilerplate prune served
    * from persisted mergeable df state instead of a per-batch
    * recount — the daily-ingest shape a 100 TB deployment actually
    * runs: work is O(batch + store rows for TOUCHED fingerprints),
    * never O(|store|) aggregation.
    *
    *  - `historyFps`: prior (id, fp) rows — read only via a left-semi
    *    prune to batch-touched fingerprints, then joined for pairing;
    *  - `historyDf`: append-only (fp, df) deltas ([[winnowDfStore]]
    *    per ingested batch); summed per touched fp on read.
    *
    * Prune equivalence: a fingerprint untouched by the batch can
    * produce no new pair, so its df is irrelevant; for touched fps,
    * batch count + stored sum IS the combined-population df (disjoint
    * ids, distinct per-doc fps). Hence the emitted pair set equals
    * [[winnowNearDupsIncremental]] — and the full-corpus recompute
    * side-filtered to new pairs — exactly (spec-pinned), while the
    * countDistinct pass over store ∪ batch drops out of the plan
    * (PlanShapeSpec pins no count(distinct) anywhere in q193).
    *
    * Store maintenance after the batch: append the batch's (id, fp)
    * rows to `historyFps` and `winnowDfStore(batchFps)` to
    * `historyDf` — both blind appends.
    */
  def winnowNearDupsIncrementalMergeable(
      newDocs: DataFrame,
      historyFps: DataFrame,
      historyDf: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 25,
      w: Int = 10,
      minShared: Long = 3L,
      maxDf: Long = 1000L): DataFrame = {
    // without the barriers the kernel re-fingerprints the batch once
    // per consuming branch (measured at the sf10 rehearsal: the batch
    // pass ran 3×, the history pass 2×, in one q193 call)
    val newFp = Barrier(winnowFingerprints(newDocs, idCol, textCol, k, w),
      "TextAnalysis.winnowIncremental.fingerprints")
    val batchDf = newFp.groupBy("fp").agg(count(lit(1)).cast("long").as("__bdf"))
    val touchedStoreDf = historyDf
      .join(batchDf.select("fp"), Seq("fp"), "left_semi")
      .groupBy("fp").agg(sum(col("df")).as("__sdf"))
    val hot = batchDf.join(touchedStoreDf, Seq("fp"), "left")
      .filter(col("__bdf") + coalesce(col("__sdf"), lit(0L)) > maxDf)
      .select("fp")
    val newKept = Barrier(newFp.join(hot, Seq("fp"), "left_anti"),
      "TextAnalysis.winnowIncremental.kept")
    val histKept = historyFps.select(col(idCol), col("fp"))
      .join(batchDf.select("fp"), Seq("fp"), "left_semi")
      .join(hot, Seq("fp"), "left_anti")
    // new×history (exactly one new side — orient by id order) plus
    // new×new (both new): disjoint pair populations, so the union
    // never double-counts a shared fingerprint.
    val nh = newKept.select(col("fp"), col(idCol).as("__n_id"))
      .join(histKept.select(col("fp"), col(idCol).as("__h_id")), Seq("fp"))
      .select(least(col("__n_id"), col("__h_id")).as("id_a"),
        greatest(col("__n_id"), col("__h_id")).as("id_b"))
    val nn = newKept.select(col("fp"), col(idCol).as("id_a"))
      .join(newKept.select(col("fp"), col(idCol).as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    nh.unionByName(nn)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Annotate a documents frame with all analysis columns. One native
    * single-tokenization kernel (TextProfileExpr); field-by-field
    * value-identical to [[annotateHof]], which the spec pins.
    */
  def annotate(df: DataFrame, textCol: String = "text"): DataFrame = {
    val p = graft.functions.TextProfileExpr(col(textCol))
    df.withColumn("__tp", p)
      .withColumn("n_tokens", col("__tp.n_tokens"))
      .withColumn("n_subwords", col("__tp.n_subwords"))
      .withColumn("stopword_ratio", col("__tp.stopword_ratio"))
      .withColumn("quality", col("__tp.quality"))
      .withColumn("lang_pred", col("__tp.lang_pred"))
      .withColumn("fingerprint", col("__tp.fingerprint"))
      .drop("__tp")
  }

  /** Reference formulation of [[annotate]] from the individual built-in
    * expressions — kept as the semantic spec for the native kernel.
    */
  def annotateHof(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_tokens", tokenCount(t))
      .withColumn("n_subwords", subwordCount(t))
      .withColumn("stopword_ratio", round(stopwordRatio(t), 4))
      .withColumn("quality", qualityScore(t))
      .withColumn("lang_pred", langId(t))
      .withColumn("fingerprint", fingerprint(t))
  }

  /** (doc, term) pairs under the cross-engine tokenizer convention
    * (single-space split, empties dropped, lowercased) — the shared
    * front end of [[tfidf]] and [[invertedIndex]].
    */
  private def termPairs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        explode(split(lower(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")

  /** Per-document top-k TF-IDF terms — the classic retrieval/feature
    * weighting, smooth-idf variant: `tf · (ln((N+1)/(df+1)) + 1)`.
    *
    * Scale shape: tokenize map-only → tf groupBy (doc, term) → df
    * groupBy term (both partially aggregated map-side) → tf⋈df on term
    * (id+count width only) → per-doc window for top-k. N is one
    * driver-side count — a scalar, not data movement. Hot terms (high
    * df) concentrate a term-partition but carry only counts; the
    * payload-free shuffle is the point.
    *
    * Output: (idCol, term, score DOUBLE rounded to 4dp) — flat, ordered
    * within a doc by score desc then term.
    */
  def tfidf(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = df.count()
    val tf = termPairs(df, idCol, textCol)
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
    val w = Window.partitionBy(idCol).orderBy(desc("score"), col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("score",
        round(col("tf") * (log((lit(n) + 1.0) / (col("dfreq") + 1.0)) + 1.0), 4))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= topK)
      .select(col(idCol), col("term"), col("score"))
  }

  /** Corpus n-gram count table — the language-model data statistic
    * (vocabulary building, contamination fingerprints, Zipf audits).
    * Word n-grams under the cross-engine tokenizer convention; grams
    * below `minCount` are dropped AFTER the count (one partially-
    * aggregated groupBy — the map-side combine is what keeps a 100 TB
    * gram table's shuffle proportional to distinct grams per partition,
    * not token count).
    */
  def ngramCounts(
      df: DataFrame,
      textCol: String = "text",
      n: Int = 2,
      minCount: Long = 2L): DataFrame = {
    require(n >= 1, "n must be >= 1")
    // the repo's tokenizer convention (tokens()): trim + \s+ split, so
    // tabs/newlines separate words exactly as in shingleHashes/chunk
    val toks = filter(split(lower(trim(col(textCol))), WhitespaceSplit), t => t =!= lit(""))
    // 1-based slice starts; a doc shorter than n tokens yields no grams
    val starts = when(size(toks) >= n, sequence(lit(1), size(toks) - n + 1))
      .otherwise(array().cast("array<int>"))
    val grams = transform(starts, i => array_join(slice(toks, i, lit(n)), " "))
    df.select(explode(grams).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount)
  }

  /** Tokenizer FERTILITY audit: per-language tokens-per-word,
    * tokens-per-char and bytes-per-token through a tokenizer closure
    * (a registered BPE model — [[Bpe.registerSql]] /
    * `graft.functions.GraftModels`). The trainer-side report for "this
    * tokenizer taxes language X 3× over English": a fertility
    * (tokens/word) far above the corpus norm means the model's merges
    * never fire for that language and its documents pay more sequence
    * positions per character of content — the standard multilingual
    * tokenizer-health signal (Rust et al. 2021's fertility metric).
    *
    * All counters are exact integers over the engine's tokenizer
    * convention (trim + `\s+`, lowercased — the q197 grid): words,
    * UTF-8 chars and bytes of the words themselves (end-of-word
    * markers excluded), subword tokens from the model. Ratios are
    * 6dp-rounded doubles of exact-integer divisions — cross-engine
    * replayable; zero denominators surface NULL, never NaN.
    *
    * Scale: the encode is the map-only native codegen kernel
    * (BpeEncodeExpr, merge table broadcast); the ONLY shuffle is the
    * |languages|-bounded aggregate. No explode — per-document counters
    * fold the word array in place.
    */
  def tokenizerFertility(
      df: DataFrame,
      langCol: String,
      textCol: String,
      enc: Column => Column): DataFrame =
    fertilityReport(fertilityCounters(df, langCol, textCol, enc))

  /** The mergeable counter state behind [[tokenizerFertility]]: one row
    * per language with the five exact integer counters — the PERSISTED
    * STORE of the incremental fertility monitor (six longs per
    * language; [[fertilityAdvance]] folds batches in without ever
    * re-reading history text, the engine's incremental-store
    * contract).
    */
  def fertilityCounters(
      df: DataFrame,
      langCol: String,
      textCol: String,
      enc: Column => Column): DataFrame = {
    val words = coalesce(
      filter(split(trim(lower(col(textCol))), WhitespaceSplit), w => w =!= lit("")),
      array().cast("array<string>"))
    df.select(col(langCol).as("lang"),
        size(enc(col(textCol))).cast("long").as("__nt"),
        size(words).cast("long").as("__nw"),
        aggregate(words, lit(0L), (acc, w) => acc + length(w).cast("long")).as("__nc"),
        aggregate(words, lit(0L), (acc, w) => acc + octet_length(w).cast("long")).as("__nb"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nw")).as("n_words"),
        sum(col("__nc")).as("n_chars"),
        sum(col("__nb")).as("n_bytes"),
        sum(col("__nt")).as("n_tokens"))
  }

  /** Fold a NEW batch into a persisted fertility-counter store: exact
    * integer sums are trivially mergeable, so the advance is
    * union + one |languages|-bounded re-aggregate over counter ROWS —
    * history documents are never re-encoded or re-read (the
    * tileHashStore/noveltyStore scaling argument, at its simplest).
    * advance(advance(empty, b1), b2) ≡ counters(b1 ∪ b2) exactly
    * (spec-pinned and q268 hash-gated through the full-corpus oracle).
    */
  def fertilityAdvance(
      store: DataFrame,
      batch: DataFrame,
      langCol: String,
      textCol: String,
      enc: Column => Column): DataFrame =
    store.unionByName(fertilityCounters(batch, langCol, textCol, enc))
      .groupBy("lang")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_bytes")).as("n_bytes"),
        sum(col("n_tokens")).as("n_tokens"))

  /** Derive the ratio surface from a counter store (map-only). */
  def fertilityReport(counters: DataFrame): DataFrame = {
    def ratio(num: Column, den: Column) =
      when(den === 0L, lit(null).cast("double"))
        .otherwise(round(num.cast("double") / den.cast("double"), 6))
    counters.select(col("lang"), col("n_docs"), col("n_words"), col("n_chars"),
      col("n_bytes"), col("n_tokens"),
      ratio(col("n_tokens"), col("n_words")).as("tokens_per_word"),
      ratio(col("n_tokens"), col("n_chars")).as("tokens_per_char"),
      ratio(col("n_bytes"), col("n_tokens")).as("bytes_per_token"))
  }

  /** Vocabulary-COVERAGE (UNK-rate) audit: per language, the share of
    * subword occurrences a FIXED vocabulary cannot express — the
    * deployment gate next to [[tokenizerFertility]] ("the frozen vocab
    * drops 4% of Greek subwords; retrain or expand before the packing
    * stage emits -1s"). `encIds` is the registered id encoder
    * (`Bpe.encodeToIds` / `bpe_encode_ids(text, 'name')`), whose
    * contract maps out-of-vocabulary subwords to -1 — an explicit UNK,
    * never a silent drop; this operator is that contract's corpus-level
    * report. Exact integer counts; unk_rate is the 6dp-rounded double
    * of an exact division (NULL when a language has no tokens).
    *
    * Scale: map-only native encode + id mapping; ONE
    * |languages|-bounded aggregate, counters folded in place.
    */
  def vocabCoverage(
      df: DataFrame,
      langCol: String,
      textCol: String,
      encIds: Column => Column): DataFrame = {
    val ids = encIds(col(textCol))
    df.select(col(langCol).as("lang"),
        size(ids).cast("long").as("__nt"),
        size(filter(ids, i => i === lit(-1))).cast("long").as("__nu"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        sum(col("__nu")).as("n_unk"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_unk"),
        when(col("n_tokens") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_unk").cast("double")
            / col("n_tokens").cast("double"), 6)).as("unk_rate"))
  }

  /** Inverted index over mid-frequency terms: term → document-frequency
    * + full posting list (sorted doc ids, comma-joined for a flat
    * schema). Terms outside [minDf, maxDf] are dropped BEFORE any
    * posting list is materialized — the df pre-pass means a stopword's
    * millions of postings are never collected (the classic hot-term
    * memory failure in index builds).
    */
  def invertedIndex(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minDf: Long = 2L,
      maxDf: Long = 50L): DataFrame = {
    val pairs = termPairs(df, idCol, textCol)
      .select(col("term"), col(idCol)).distinct()
    val dfreq = pairs.groupBy("term").agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") >= minDf && col("dfreq") <= maxDf)
    pairs.join(dfreq, "term")
      .groupBy("term", "dfreq")
      .agg(array_join(
        transform(array_sort(collect_list(col(idCol))), x => x.cast("string")),
        ",").as("postings"))
      .select(col("term"), col("dfreq"), col("postings"))
  }

  /** BM25 ranked retrieval for one query term set (Robertson/Okapi,
    * the lexical-retrieval standard):
    * `Σ_t ln(1 + (N−df+0.5)/(df+0.5)) · tf·(k1+1)/(tf + k1·(1−b+b·len/avgLen))`.
    *
    * Scale shape: the term stream is pruned to the query's terms BEFORE
    * any shuffle (map-only isin filter — the corpus-sized token
    * explosion never leaves its stage), then one (doc, term) tf
    * aggregate, a term-keyed df aggregate over only |query| keys
    * (broadcast back), and a per-doc sum + TakeOrdered top-k. Corpus
    * size and average length are one scalar aggregate. Shuffles carry
    * (id, term, two ints) — never text.
    *
    * Determinism/auditability: each per-term contribution is rounded to
    * 6dp and summed EXACTLY as DECIMAL(18,6) — cross-term addition
    * order can't perturb the score — then the final score rounds to
    * 4dp; ordering ties break on the id. Matches the q115 tfidf oracle
    * conventions, so any engine can replay the ranking.
    *
    * Output: (idCol, score DOUBLE, n_terms_matched) top-k.
    */
  def bm25(
      df: DataFrame,
      query: Seq[String],
      idCol: String = "doc_id",
      textCol: String = "text",
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    require(query.nonEmpty, "empty query")
    val qTerms = query.map(_.toLowerCase)
    val toks = filter(split(lower(col(textCol)), " "), t => t =!= "")

    val stats = df.agg(count(lit(1)).as("n"), avg(size(toks)).as("avg_len")).head()
    val n = stats.getLong(0)
    val avgLen = stats.getDouble(1)

    val tf = df
      .select(col(idCol), size(toks).as("len"), explode(toks).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("len")).as("len"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))

    val contrib =
      log(lit(1.0) + (lit(n.toDouble) - col("dfreq") + 0.5) / (col("dfreq") + 0.5)) *
        (col("tf") * (k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("len") / avgLen))
    tf.join(broadcast(dfreq), "term")
      .withColumn("c6", round(contrib, 6).cast("decimal(18,6)"))
      .groupBy(col(idCol))
      .agg(
        round(sum(col("c6")).cast("double"), 4).as("score"),
        count(lit(1)).as("n_terms_matched"))
      .orderBy(desc("score"), col(idCol))
      .limit(topK)
  }

  // ------------------------------------------------ gazetteer redaction

  /** Gazetteer (dictionary) matches as COVER SPANS over the token
    * stream: every occurrence of any multi-token term, with
    * overlapping/adjacent matches merged into maximal runs — the
    * dictionary complement to the regex PII pass ([[redactPii]]) and
    * the checksum pass ([[redactCards]]): name lists, product
    * blocklists, internal codenames.
    *
    * Matching is token-boundary exact after the engine's
    * normalization (lower + the unified whitespace class): a term of n
    * tokens matches at position p iff the token slice [p, p+n)
    * joins to the term string. COVER semantics (any token covered by
    * any match is redacted) rather than leftmost-longest: cover is
    * order-independent — every match contributes, so the result is the
    * same under any parallel evaluation order — and it merges through
    * the same gaps-and-islands machinery as duplicate spans, making the
    * whole path engine-replayable (q205 carries a full oracle; a greedy
    * leftmost-longest scan is inherently sequential per document).
    *
    * Scale shape: the term list is REFERENCE DATA (bounded), so it
    * broadcasts; candidate slices explode one row per (position ×
    * distinct term LENGTH) — lengths are few, so this is a small
    * constant over the token count — and the broadcast join prunes
    * them map-side. Text never shuffles; the span merge windows over
    * matched positions only.
    *
    * Output: (idCol, span_no, start_tok, end_tok) — 0-based inclusive
    * token ranges, span_no 1-based per doc in start order.
    */
  def gazetteerSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val normTerms = terms.map(t => normalizeTokens(t)).filter(_.nonEmpty).distinct
    require(normTerms.nonEmpty, "gazetteer must contain at least one non-empty term")
    val spark = docs.sparkSession
    import spark.implicits._
    val termDf = normTerms.map(t => (t, t.split(' ').length)).toDF("__term", "__tlen")
    val lengths = normTerms.map(_.split(' ').length).distinct.sorted
    val toks = split(lower(trim(col(textCol))), "[ \t\n\f\r]+")
    val base = docs
      .select(col(idCol).as("__id"), toks.as("__t"), size(toks).as("__n"))
      .where(col("__n") >= lengths.min)
    // one candidate row per (position, term length); the slice string
    // is built map-side and pruned by the broadcast join
    val cands = base
      .select(col("__id"), col("__t"), col("__n"),
        explode(sequence(lit(0), col("__n") - lengths.min)).as("pos"))
      .select(col("__id"), col("__t"), col("__n"), col("pos"),
        explode(array(lengths.map(lit(_)): _*)).as("__tlen"))
      .where(col("pos") + col("__tlen") <= col("__n"))
      .select(col("__id"), col("pos"), col("__tlen"),
        array_join(slice(col("__t"), col("pos") + 1, col("__tlen")), " ").as("__term"))
    val matches = cands
      .join(broadcast(termDf), Seq("__term", "__tlen"))
      .select(col("__id"), col("pos"),
        (col("pos") + col("__tlen") - 1).as("__end"))
    // covered positions → maximal runs (gaps-and-islands over match
    // endpoints directly: a new island starts when this match begins
    // past the furthest end seen so far)
    val byDoc = Window.partitionBy("__id").orderBy("pos", "__end")
    val reach = max(col("__end"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val brk = when(reach.isNull || col("pos") > reach + 1, 1).otherwise(0)
    val isl = sum(brk).over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matches
      .withColumn("__isl", isl)
      .groupBy(col("__id"), col("__isl"))
      .agg(min(col("pos")).as("start_tok"), max(col("__end")).as("end_tok"))
      .withColumn("span_no",
        row_number().over(Window.partitionBy("__id").orderBy("start_tok")))
      .select(col("__id").as(idCol), col("span_no"), col("start_tok"), col("end_tok"))
  }

  private def normalizeTokens(s: String): String =
    s.toLowerCase.split("[ \t\n\f\r]+").filter(_.nonEmpty).mkString(" ")

  /** Redact every [[gazetteerSpans]] run: each maximal matched run is
    * replaced by ONE `placeholder` token, surrounding text preserved.
    * Output: (idCol, n_spans, n_redacted_tokens, text_redacted), one
    * row per input document; the redacted text is rebuilt over the
    * NORMALIZED token stream (the match domain).
    */
  def gazetteerRedact(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      placeholder: String = "[GAZ]"): DataFrame = {
    val spans = gazetteerSpans(docs, idCol, textCol, terms)
    val perDoc = spans
      .groupBy(idCol)
      .agg(
        collect_list(struct(col("start_tok"), col("end_tok"))).as("__spans"),
        count(lit(1)).as("n_spans"),
        sum(col("end_tok") - col("start_tok") + 1).as("n_redacted_tokens"))
    val toks = split(lower(trim(col(textCol))), "[ \t\n\f\r]+")
    docs
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_redacted_tokens"), lit(0L)).as("n_redacted_tokens"),
        when(col("__spans").isNull, array_join(toks, " ")).otherwise(
          array_join(
            filter(
              transform(toks, (tok, i) =>
                when(!exists(col("__spans"), sp =>
                    i >= sp("start_tok") && i <= sp("end_tok")), tok)
                  .when(exists(col("__spans"), sp => sp("start_tok") === i),
                    lit(placeholder))
                  .otherwise(lit(null))),
              x => x.isNotNull),
            " ")).as("text_redacted"))
  }

  // ------------------------------------------- char-ngram LM perplexity

  /** Character n-grams of the normalized (lower+trim) text; empty array
    * below n chars. Shared by the model builder and the scorer so both
    * sides of the estimate segment identically.
    */
  def charGrams(text: Column, n: Int): Column = {
    val norm = lower(trim(text))
    val cnt = length(norm) - (n - 1)
    when(cnt >= 1,
      transform(sequence(lit(1), greatest(cnt, lit(1))), i => norm.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))
  }

  /** Unigram-of-char-n-grams language model: gram → corpus count. The
    * vocabulary is BOUNDED (char n-grams, not word n-grams), so the
    * model stays broadcast-sized at any corpus scale — the property
    * that makes LM scoring a map-side operation at 100 TB.
    */
  def charNgramModel(df: DataFrame, textCol: String = "text", n: Int = 3): DataFrame =
    df.select(explode(charGrams(col(textCol), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))

  /** CCNet-style LM quality signal (Wenzek et al. 2020, the perplexity
    * filter): mean log-probability of a document's char n-grams under
    * `model`. Low avg_logp ≈ high perplexity ≈ out-of-distribution text
    * (gibberish, boilerplate soup, wrong language for the model).
    *
    * Cross-engine determinism: per-gram ln(cnt/total) is one double op
    * on identical inputs, rounded at 6dp and summed as exact
    * DECIMAL(18,6) — addition order cannot perturb the score (the
    * q115/q145 discipline) — then one double division by the gram
    * count and a 4dp presentation round.
    *
    * Grams absent from the model score as 0.5 occurrences (add-half
    * smoothing) so scoring NEW text against a reference model is total;
    * scoring the model's own corpus never hits that branch. Docs
    * shorter than n chars produce no grams and drop out.
    */
  def ngramLogProbScore(
      docs: DataFrame,
      model: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3): DataFrame = {
    val totalRow = model.agg(sum("cnt")).head()
    // empty model (no docs ≥ n chars): nothing is scorable — return the
    // output shape with no rows rather than NPE on the null total
    if (totalRow.isNullAt(0))
      return docs.select(col(idCol))
        .withColumn("n_grams", lit(0L))
        .withColumn("avg_logp", lit(0.0))
        .filter(lit(false))
    val total = totalRow.getLong(0)
    docs.select(col(idCol), explode(charGrams(col(textCol), n)).as("gram"))
      .join(broadcast(model), Seq("gram"), "left")
      .withColumn("lp",
        round(log(coalesce(col("cnt").cast("double"), lit(0.5)) / lit(total.toDouble)), 6)
          .cast("decimal(18,6)"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        round(sum(col("lp")).cast("double") / count(lit(1)), 4).as("avg_logp"))
  }

  /** Self-perplexity: score each document under the model estimated
    * from the corpus itself — the outlier/boilerplate screen that needs
    * no external reference corpus.
    *
    * Scoring runs on the BROADCAST native path ([[lmScorer]], parity
    * spec-pinned bit-identical to [[ngramLogProbScore]]): the corpus
    * pays the model build's explode+groupBy once, then each doc is
    * scored map-side in one pass — no second explode, no join, no
    * per-gram aggregation state. n_grams is computed arithmetically
    * from the normalized length (= exactly the exploded gram count).
    */
  /** Zipf PROFILE of the corpus vocabulary: the top-K token
    * frequencies with their log-log coordinates and the least-squares
    * Zipf exponent over them — the standard corpus-health diagnostic
    * (a healthy natural-language crawl fits slope ≈ −1; boilerplate
    * floods flatten the head, template spam steepens it; a tokenizer
    * bug shows up as a kinked head before any downstream job runs).
    *
    * Scale: ONE token-count aggregate (map-side partials, state bounded
    * by vocabulary) → TakeOrdered top-K (per-partition heaps, K rows to
    * one task) → the fit is an aggregate over those K rows with the
    * engine-exactness discipline of q153: ln per value (cross-engine ln
    * parity, q145 precedent), 6dp round, DECIMAL sums, one final double
    * division. The slope is base-invariant (a log-base change scales
    * numerator and denominator identically), so ln is safe for a
    * "log10-log10" exponent. Ties at the K boundary break (count desc,
    * token asc) so the row set is deterministic.
    */
  def zipfProfile(
      df: DataFrame,
      textCol: String = "text",
      topK: Int = 100): DataFrame = {
    val counts = df
      .select(explode(tokens(lower(trim(col(textCol))))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val ranked = counts
      .orderBy(col("cnt").desc, col("token").asc).limit(topK)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("token").asc)).cast("long"))
      .withColumn("log_rank", round(log(col("rank").cast("double")), 6))
      .withColumn("log_freq", round(log(col("cnt").cast("double")), 6))
    val dx = col("log_rank").cast("decimal(18,6)")
    val dy = col("log_freq").cast("decimal(18,6)")
    val fit = ranked.agg(
      count(lit(1)).as("__n"),
      sum(dx).as("__sx"), sum(dy).as("__sy"),
      sum(dx * dy).as("__sxy"), sum(dx * dx).as("__sxx"))
    ranked.crossJoin(broadcast(fit)) // 1x1 planning frame, the q227 shape
      .withColumn("zipf_slope", round(
        (col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast("double") /
          (col("__n") * col("__sxx") - col("__sx") * col("__sx")).cast("double"),
        6))
      .select("rank", "token", "cnt", "log_rank", "log_freq", "zipf_slope")
  }

  def selfPerplexity(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      carryCols: Seq[String] = Nil): DataFrame = {
    val model = charNgramModel(df, textCol, n)
    // empty model (no docs ≥ n chars): nothing is scorable — the same
    // empty shape ngramLogProbScore returns, not a require() blow-up
    if (model.isEmpty)
      return df.select((idCol +: carryCols).map(col): _*)
        .withColumn("n_grams", lit(0L))
        .withColumn("avg_logp", lit(0.0))
        .filter(lit(false))
    val scorer = lmScorer(model, n)
    val norm = lower(trim(col(textCol)))
    // carryCols ride the projection (ccnetBuckets carries the language
    // this way — re-attaching it by id would be a corpus×corpus join)
    df.select(
        (idCol +: carryCols).map(col) ++ Seq(
          (length(norm) - (n - 1)).cast("long").as("n_grams"),
          scorer(col(textCol)).as("avg_logp")): _*)
      .filter(col("n_grams") >= 1)
  }

  /** CCNet-style quality bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359 §4.3): score every document with the corpus's
    * own char-ngram LM ([[selfPerplexity]]), then split EACH LANGUAGE
    * into head/middle/tail score terciles — head is the
    * least-perplexing third (highest avg_logp), the slice CCNet keeps
    * for LM training. Cuts are DISCRETE per-language percentiles
    * (Outliers.quantileBin discipline): boundaries are actual data
    * values, ties share a bucket, and assignment is a bounded
    * aggregate broadcast back into a map-only compare — no rank/ntile
    * window, which would funnel each language through one reducer at
    * corpus scale and split tied scores nondeterministically.
    */
  def ccnetBuckets(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang",
      nBuckets: Int = 3): DataFrame = {
    val scored = selfPerplexity(df, idCol, textCol, carryCols = Seq(langCol))
    graft.quality.Outliers.quantileBin(scored, "avg_logp", Seq(langCol), nBuckets)
      .withColumn("bucket",
        when(col("avg_logp_bin") === nBuckets, lit("head"))
          .when(col("avg_logp_bin") === 1, lit("tail"))
          .otherwise(lit("middle")))
      .select(col(idCol), col(langCol), col("n_grams"), col("avg_logp"), col("bucket"))
  }

  /** Per-row LM scorer with the model BROADCAST into a native
    * expression — value-identical to [[ngramLogProbScore]]'s avg_logp
    * (parity spec-pinned) but map-only and shuffle-free, so it gates
    * unbounded streams with no watermark or state
    * (StreamingCorpus.lmGate) and scores batch frames without the
    * explode+join. Collects the model to the driver once: char-ngram
    * vocabularies are bounded, so this is broadcast state by
    * construction, not data.
    */
  def lmScorer(model: DataFrame, n: Int = 3): Column => Column = {
    val spark = model.sparkSession
    val rows = model.select(col("gram"), col("cnt").cast("long")).collect()
    val total = rows.iterator.map(_.getLong(1)).sum
    val bc = spark.sparkContext.broadcast(
      graft.functions.LmScore.microModel(
        rows.iterator.map(r => r.getString(0) -> r.getLong(1)), total))
    val default = graft.functions.LmScore.defaultMicro(total)
    text => org.apache.spark.sql.graft.NativeExprs.lmScore(text, bc, n, default)
  }

  /** Name [[lmScorer]]'s trained closure on the SQL surface:
    * `lm_score(text, 'name')` (GraftExtensions) resolves to exactly
    * this expression tree — one semantics, reachable from a config SQL.
    */
  def registerLmSql(name: String, model: DataFrame, n: Int = 3): Unit =
    graft.functions.GraftModels.register(name, "lm", lmScorer(model, n))

  // ------------------------------------------------------------------
  // Gopher repetition/quality gates (Rae et al. 2021, arXiv:2112.11446,
  // Table A1) — the standard pre-training corpus filter the reference's
  // quality pass (scripts/data_quality_check_pyspark.py) stops short of.

  /** num/den as a double rounded to 6 places via exact micro-units:
    * num·10⁶ is exact in IEEE for any document-scale count, so both
    * engines round the SAME double and the result is bit-identical
    * cross-engine (round-half-up == round-half-away for positives).
    */
  private def microFrac(num: Column, den: Column): Column =
    when(den === 0, lit(0.0))
      .otherwise(round(num.cast("double") * 1000000.0 / den.cast("double"), 0) / 1000000.0)

  /** Per-document Gopher signals + pass gate, derived from the one-pass
    * native counter kernel ([[graft.functions.GopherSignals]]) — a
    * map-only stage, no gram explosion, no shuffle, at any corpus scale.
    *
    * Output: (idCol, word_count, mean_word_len, alpha_word_frac,
    * symbol_word_ratio, top2gram_frac, top3gram_frac, top4gram_frac,
    * dup5gram_frac, passes_gopher). Fractions are micro-rounded (6dp)
    * doubles so the DuckDB oracle (q183) replays them bit-for-bit;
    * dup5gram_frac is clamped to 1 (overlapping repeats can overcount —
    * documented upper bound of the paper's per-character coverage).
    *
    * The gate applies the paper's thresholds (Table A1): 50 ≤ words ≤
    * 100000, 3 ≤ mean word length ≤ 10, symbol-to-word ratio < 0.1,
    * > 80% words with an alphabetic character, top-{2,3,4}-gram char
    * fraction < {0.20, 0.18, 0.16}, duplicate-5-gram char fraction
    * < 0.15.
    */
  def gopherSignals(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sig = org.apache.spark.sql.graft.NativeExprs.gopherSignals(col(textCol))
    gopherDerive(Fence(df.select(col(idCol), sig.as("__g")), "TextAnalysis.gopherSignals"), idCol)
  }

  /** Fraction + gate derivation shared by the kernel path and the
    * exploded reference twin — takes a frame with a `__g` struct of the
    * raw counters and returns the public schema.
    */
  private def gopherDerive(withSig: DataFrame, idCol: String): DataFrame = {
    val g = col("__g")
    val wc = g("word_count")
    val wch = g("word_chars")
    withSig
      .withColumn("word_count", wc.cast("long"))
      .withColumn("mean_word_len", microFrac(wch, wc))
      .withColumn("alpha_word_frac", microFrac(g("alpha_words"), wc))
      .withColumn("symbol_word_ratio", microFrac(g("hash_chars") + g("ellipses"), wc))
      .withColumn("top2gram_frac", microFrac(g("top2_chars"), wch))
      .withColumn("top3gram_frac", microFrac(g("top3_chars"), wch))
      .withColumn("top4gram_frac", microFrac(g("top4_chars"), wch))
      .withColumn("dup5gram_frac", least(microFrac(g("dup5_chars"), wch), lit(1.0)))
      .withColumn("passes_gopher",
        col("word_count").between(50L, 100000L) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_word_ratio") < 0.1 &&
          col("alpha_word_frac") > 0.8 &&
          col("top2gram_frac") < 0.20 &&
          col("top3gram_frac") < 0.18 &&
          col("top4gram_frac") < 0.16 &&
          col("dup5gram_frac") < 0.15)
      .select(idCol, "word_count", "mean_word_len", "alpha_word_frac",
        "symbol_word_ratio", "top2gram_frac", "top3gram_frac",
        "top4gram_frac", "dup5gram_frac", "passes_gopher")
  }

  /** Reference formulation of [[gopherSignals]] via gram explosion +
    * groupBy — the semantic spec for the native kernel (parity pinned in
    * TextAnalysisSpec) and the shape the DuckDB oracle mirrors. Shuffles
    * gram text; verification-scale only.
    */
  def gopherSignalsRef(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val norm = lower(trim(col(textCol)))
    val base = df.select(
      col(idCol),
      tokens(norm).as("ws"),
      length(regexp_replace(norm, WhitespaceClass, "")).cast("long").as("wchars"),
      norm.as("t"))

    val words = base.select(
      col(idCol),
      size(col("ws")).as("word_count"),
      col("wchars"),
      size(filter(col("ws"), w => w.rlike("[a-z]"))).as("alpha_words"),
      (length(col("t")) - length(regexp_replace(col("t"), "#", ""))).cast("long")
        .as("hash_chars"),
      ((length(col("t")) - length(regexp_replace(col("t"), "\\.\\.\\.", ""))) / 3)
        .cast("long").as("ellipses"))

    // all n in one explode: (n, gram) pairs for n = 2..5
    // sequence(1, m) is DESCENDING for m < 1, so valid gram starts are
    // filtered from an always-ascending index list instead
    val grams = base.select(col(idCol), col("wchars"), explode(flatten(
      transform(sequence(lit(2), lit(5)), n =>
        transform(
          filter(sequence(lit(1), greatest(size(col("ws")), lit(1))),
            i => i <= size(col("ws")) - n + 1),
          i => struct(n.as("n"), array_join(slice(col("ws"), i, n), " ").as("gram"))))))
      .as("g"))
      .select(col(idCol), col("wchars"), col("g.n").as("n"), col("g.gram").as("gram"))

    val cnt = grams
      .groupBy(idCol, "n", "gram")
      .agg(count(lit(1)).as("c"), first("wchars").as("wchars"))
      .withColumn("gchars", (length(col("gram")) - (col("n") - 1)).cast("long"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol), col("n")).orderBy(col("c").desc, col("gram"))
    val tops = cnt
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(idCol)
      .agg(
        max(when(col("n") === 2, col("c") * col("gchars"))).as("t2"),
        max(when(col("n") === 3, col("c") * col("gchars"))).as("t3"),
        max(when(col("n") === 4, col("c") * col("gchars"))).as("t4"))

    val dups = cnt
      .filter(col("n") === 5 && col("c") > 1)
      .groupBy(idCol)
      .agg(sum((col("c") - 1) * col("gchars")).as("d5"))

    val joined = words
      .join(tops, Seq(idCol), "left")
      .join(dups, Seq(idCol), "left")
      .withColumn("__g", struct(
        col("word_count").cast("int").as("word_count"),
        col("wchars").cast("long").as("word_chars"),
        col("alpha_words").cast("int").as("alpha_words"),
        col("hash_chars").as("hash_chars"),
        col("ellipses").as("ellipses"),
        coalesce(col("t2"), lit(0L)).cast("long").as("top2_chars"),
        coalesce(col("t3"), lit(0L)).cast("long").as("top3_chars"),
        coalesce(col("t4"), lit(0L)).cast("long").as("top4_chars"),
        coalesce(col("d5"), lit(0L)).cast("long").as("dup5_chars")))
    gopherDerive(joined, idCol)
  }

  /** Document-level word-blocklist gate — the C4 "bad words" rule
    * (Raffel et al. 2020, §2.2: drop any page containing a word from a
    * curated blocklist), the DOC-grain complement of the line-level
    * [[c4Clean]] and the url-grain `WebOps.blockDomains`. Words are
    * matched as whole lowercase tokens on the split `[^a-z0-9']+`
    * (apostrophes stay inside a word so "can't" is one token and a
    * blocklist entry can target contractions) — substring hits inside
    * longer words do NOT fire, the published rule's word-boundary
    * semantics.
    *
    * Output = input + three audit columns, so the caller can gate
    * (`filter(!col("blocked"))`), quarantine, or just measure:
    *  - `bad_terms`: the DISTINCT blocklist words present, sorted and
    *    space-joined (flat schema for the oracle hash);
    *  - `n_bad_tokens`: total OCCURRENCES of blocklisted words;
    *  - `blocked`: n_bad_tokens > 0.
    *
    * Scale shape: the gate is ONE native byte-scan kernel per row
    * ([[graft.functions.WordBlocklist]] via `WordBlocklistExpr`) against
    * a shared hash-set dictionary — no token array, no interpreted HOF
    * lambdas, no shuffle, no join (the first HOF formulation measured
    * 140 µs/doc at sf10 — linear but constant-heavy; the kernel is the
    * same one-pass shape as [[gopherSignals]]). The blocklist is
    * parameter state (hundreds to a few thousand entries, like the
    * gazetteer of [[gazetteerRedact]]); for a list too big for driver
    * state, pre-join the tokens against a broadcast dictionary instead
    * (the `WebOps.blockDomainsJoin` pattern).
    */
  def wordBlocklistGate(
      df: DataFrame,
      textCol: String,
      words: Seq[String]): DataFrame = {
    require(words.nonEmpty, "blocklist must not be empty")
    val h = org.apache.spark.sql.graft.NativeExprs
      .wordBlocklistHits(col(textCol), words.map(_.toLowerCase).distinct)
    df.withColumn("__h", h)
      .withColumn("bad_terms", col("__h.bad_terms"))
      .withColumn("n_bad_tokens", col("__h.n_bad_tokens"))
      .drop("__h")
      .withColumn("blocked", col("n_bad_tokens") > 0L)
  }

  /** Reference formulation of [[wordBlocklistGate]] with built-in
    * higher-order functions only — kept as the semantic spec (the
    * [[graft.operators.Dedup.simHashHof]] pattern): split on
    * `[^a-z0-9']+`, filter by dictionary membership, distinct + sort +
    * join. Value parity with the native kernel is spec-pinned.
    */
  private[graft] def wordBlocklistGateHof(
      df: DataFrame,
      textCol: String,
      words: Seq[String]): DataFrame = {
    require(words.nonEmpty, "blocklist must not be empty")
    val dict = array(words.map(w => lit(w.toLowerCase)).distinct: _*)
    val toks = split(lower(col(textCol)), "[^a-z0-9']+")
    val hits = filter(toks, t => array_contains(dict, t))
    df.withColumn("__hits", hits)
      .withColumn("bad_terms",
        concat_ws(" ", array_sort(array_distinct(col("__hits")))))
      .withColumn("n_bad_tokens", size(col("__hits")).cast("long"))
      .drop("__hits")
      .withColumn("blocked", col("n_bad_tokens") > 0L)
  }

  /** Intra-document repeated-paragraph removal: keep the FIRST
    * occurrence of every distinct paragraph (trim-normalized), drop
    * later repeats, preserve original order. The REMOVAL counterpart of
    * the repetition-ratio SIGNAL ([[repetitionRatio]], Gopher's
    * duplicate-paragraph fraction): boilerplate that repeats inside one
    * page (cookie banners between sections, templated footers after
    * every article) never reaches the corpus-level dedup stages, which
    * all compare ACROSS documents.
    *
    * Map-only: the dedup runs inside one `aggregate` HOF per row —
    * fold the paragraph array left, appending a paragraph only when the
    * kept-so-far array doesn't contain it. O(k²) `array_contains` per
    * document on k paragraphs — k is tens, not thousands, and the
    * quadratic term stays inside one codegen'd row function; no
    * explode, no shuffle, document boundaries never cross partitions.
    * Empty paragraphs (blank lines after trim) dedup like any other
    * value: the first survives, repeats drop.
    *
    * Output = input + `clean_text` (kept paragraphs re-joined with
    * `sep`), `n_paragraphs`, `n_dropped`.
    */
  def dropRepeatedParagraphs(
      df: DataFrame,
      textCol: String,
      sep: String = "\n"): DataFrame = {
    val ps = transform(
      split(col(textCol), java.util.regex.Pattern.quote(sep)),
      p => trim(p))
    val kept = aggregate(
      ps,
      array().cast("array<string>"),
      (acc, p) => when(array_contains(acc, p), acc)
        .otherwise(concat(acc, array(p))))
    df.withColumn("__ps", ps)
      .withColumn("__kept", kept)
      .withColumn("clean_text", concat_ws(sep, col("__kept")))
      .withColumn("n_paragraphs", size(col("__ps")).cast("long"))
      .withColumn("n_dropped",
        (size(col("__ps")) - size(col("__kept"))).cast("long"))
      .drop("__ps", "__kept")
  }
}
