package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** HTML→text extraction — the step BEFORE every text gate when the
  * corpus input is a crawl. Three stages, the boilerpipe/jusText shape
  * reduced to pure column expressions:
  *
  *  1. strip non-content regions wholesale (comments, script, style,
  *     noscript, head);
  *  2. segment into BLOCKS at block-level tag boundaries (p, div, li,
  *     table cells, headings, …) — the grain at which boilerplate
  *     decisions are made;
  *  3. keep a block only if its visible text is long enough
  *     (`minChars`) AND its link density — visible characters inside
  *     `<a>` anchors over all visible characters — is at or below
  *     `maxLinkDensity` (nav bars, footers, and "related links" rows
  *     are link-dense; prose is not — the classic link-density
  *     boilerplate rule).
  *
  * Surviving blocks are entity-decoded, whitespace-collapsed, and
  * joined with newlines.
  *
  * Everything is regex in the Java∩RE2 subset (inline `(?is)` flags,
  * non-greedy repetition, NO lookaround, NO backreferences — the
  * closing tag of a stripped region is matched independently of its
  * opener), so DuckDB replays every stage character-identically: that
  * is what makes the q187 oracle hash-exact. Explicit `[ \t\r\n]`
  * classes instead of `\s` (Java's `\s` includes `\x0B`, RE2's does
  * not). Map-only: no shuffle, no UDF, stays inside whole-stage
  * codegen via the string/array HOF expressions.
  *
  * This is an extractor for the regex-expressible 90%: malformed
  * nesting degrades gracefully (an unclosed `<script>` swallows to the
  * next `</script>` in BOTH engines identically) rather than erroring.
  */
object HtmlText {

  /** Block-level elements: a close OR open of any of these ends the
    * current text block. Tag-name boundary is explicit (`>`, blank, or
    * `/`) so e.g. `<param>` does not match `p`.
    */
  private val blockTagAlt =
    "p|div|h1|h2|h3|h4|h5|h6|li|ul|ol|dl|dt|dd|table|thead|tbody|tfoot|tr|td|th|" +
      "section|article|aside|header|footer|nav|main|blockquote|pre|form|fieldset|" +
      "figure|figcaption|hr|br"
  private val blockTagRe = s"(?is)</?($blockTagAlt)(>|[ \t\r\n/][^>]*>)"

  /** Page title (visible text of the first `<title>` element) —
    * extracted BEFORE [[stripNonContent]] discards the head. Empty
    * string when absent, never null.
    */
  def extractTitle(html: Column): Column =
    visibleText(regexp_extract(html, "(?is)<title(>|[ \t\r\n/][^>]*>)(.*?)</title>", 2))

  /** Comments, scripts, styles, noscript, and the whole head removed
    * wholesale — their text is never content.
    */
  def stripNonContent(html: Column): Column = {
    val steps = Seq(
      "(?s)<!--.*?-->",
      "(?is)<script(>|[ \t\r\n/][^>]*>).*?</script>",
      "(?is)<style(>|[ \t\r\n/][^>]*>).*?</style>",
      "(?is)<noscript(>|[ \t\r\n/][^>]*>).*?</noscript>",
      "(?is)<head(>|[ \t\r\n/][^>]*>).*?</head>")
    steps.foldLeft(html)((c, re) => regexp_replace(c, re, ""))
  }

  /** The five HTML entities that appear in text-bearing attributes and
    * prose everywhere; `&amp;` decoded LAST so `&amp;lt;` yields the
    * literal `&lt;` (single-pass decode semantics).
    */
  def decodeEntities(text: Column): Column = {
    val steps = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    steps.foldLeft(text) { case (c, (from, to)) =>
      regexp_replace(c, java.util.regex.Pattern.quote(from), to)
    }
  }

  /** Visible text of an HTML fragment: tags stripped, entities
    * decoded, whitespace collapsed, trimmed.
    */
  def visibleText(fragment: Column): Column =
    trim(regexp_replace(
      decodeEntities(regexp_replace(fragment, "<[^>]*>", "")),
      "[ \t\r\n]+", " "))

  /** Raw blocks (tag soup still inside): non-content stripped, source
    * whitespace flattened (HTML newlines are insignificant — this
    * deliberately forfeits `<pre>` verbatim layout), then split at
    * block-tag boundaries.
    */
  def rawBlocks(html: Column): Column =
    split(
      regexp_replace(
        regexp_replace(stripNonContent(html), "[\r\n\t]", " "),
        blockTagRe, "\n"),
      "\n")

  /** Outlink hrefs of a page, in document order: every quoted
    * `href="…"` / `href='…'` attribute value of an `<a>` tag — the raw
    * frontier-expansion surface (`WebOps.outlinkEdges` turns them into
    * graph edges). Values are returned verbatim (relative refs, fragments,
    * mailto: — the resolver decides what survives). Unquoted href
    * values are out of scope — negligible in served HTML and ambiguous
    * to delimit.
    *
    * The closing quote is paired with the OPENING one via alternation
    * (`"…"` or `'…'`), not a shared class — `href="it's"` yields
    * `it's`, not `it` — and since RE2 has no backreferences, the match
    * captures the value WITH its quotes and strips them after (one
    * regex keeps document order across quote styles, which two
    * concatenated per-style extracts would lose).
    */
  def extractLinks(html: Column): Column =
    transform(
      regexp_extract_all(html,
        lit("(?is)<a[ \t\r\n][^>]*?href[ \t\r\n]*=[ \t\r\n]*(\"[^\"]*\"|'[^']*')"),
        lit(1)),
      q => substring(q, lit(2), length(q) - 2))

  /** Characters of visible text inside `<a>` anchors of a raw block. */
  private def linkChars(block: Column): Column =
    aggregate(
      transform(
        regexp_extract_all(block, lit("(?is)<a(>|[ \t\r\n/][^>]*>)(.*?)</a>"), lit(2)),
        l => length(visibleText(l))),
      lit(0), (acc, x) => acc + x)

  /** Extracted main text: surviving blocks joined with newlines; empty
    * string when nothing survives (filter on it, don't gate on null).
    *
    * Shape note (r14 optimization): the gate needs each block's visible
    * text twice (length + link-density denominator) and the output needs
    * it once more, and HOF lambda bodies get no common-subexpression
    * elimination — the naive `filter(…, visibleText)` + `transform(…,
    * visibleText)` composition paid the 8-regex [[visibleText]] chain
    * ~3× per block (measured: q187 2.0 → 1.1 s at sf0.1). So the block
    * text is computed ONCE into a struct, the gate reads the
    * materialized fields, and the projection extracts the text. Gate
    * semantics and output are character-identical to [[keptBlocks]] +
    * [[visibleText]] (spec-pinned in HtmlTextSpec).
    */
  def extractText(
      html: Column,
      minChars: Int = 25,
      maxLinkDensity: Double = 0.5): Column =
    array_join(keptBlockTexts(html, minChars, maxLinkDensity), "\n")

  /** Visible texts of the blocks that pass both boilerplate gates — the
    * one-pass core of [[extractText]] (each block's visible text is
    * computed once, gates read the materialized struct fields). Exposed
    * so callers needing BOTH the joined text and the kept-block count
    * (q187) evaluate the chain once instead of once per output column.
    */
  def keptBlockTexts(
      html: Column,
      minChars: Int = 25,
      maxLinkDensity: Double = 0.5): Column =
    transform(
      filter(
        transform(rawBlocks(html),
          b => struct(visibleText(b).as("t"), linkChars(b).as("lc"))),
        s => length(s.getField("t")) >= minChars &&
          s.getField("lc").cast("double") <=
            lit(maxLinkDensity) * length(s.getField("t")).cast("double")),
      s => s.getField("t"))

  /** The raw blocks that pass both boilerplate gates — exposed so
    * callers can count kept/dropped blocks or inspect densities.
    */
  def keptBlocks(
      html: Column,
      minChars: Int = 25,
      maxLinkDensity: Double = 0.5): Column =
    filter(rawBlocks(html), b => {
      val txtLen = length(visibleText(b))
      txtLen >= minChars &&
        linkChars(b).cast("double") <= lit(maxLinkDensity) * txtLen.cast("double")
    })
}
