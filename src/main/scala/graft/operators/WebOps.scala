package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Barrier, Fence}

/** Web-corpus operators: URL parsing/canonicalization, registrable
  * domains, and per-domain caps — the provenance-side half of a
  * crawl-to-corpus pipeline (dedup by canonical URL, cap any one site's
  * contribution, aggregate quality per domain). Extends the reference's
  * documents surface (it has no URL handling at all) with the ops every
  * web-scale corpus build needs.
  *
  * Everything is pure column expressions over anchored regexes with no
  * lookaround and no backreferences — the syntax subset Java regex
  * (Spark) and RE2 (DuckDB) evaluate identically, which is what makes
  * the q184/q185 oracles hash-exact. Map-only: no shuffle anywhere
  * except [[capPerDomain]]'s single window.
  */
object WebOps {

  /** Parsed URL parts as a struct: (scheme, host, port, path, query,
    * fragment). Grammar is the pragmatic RFC-3986 subset
    * `scheme://host[:port][path][?query][#fragment]` — no userinfo, no
    * relative refs (a crawler's frontier is absolute URLs). Unparseable
    * inputs yield empty-string parts, never null (regexp_extract's
    * no-match convention), so downstream expressions stay total.
    * Scheme and host are matched case-preserving; [[canonicalizeUrl]]
    * lowercases them.
    */
  def urlParts(url: Column): Column = struct(
    regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1).as("scheme"),
    regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)", 1).as("host"),
    regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*:([0-9]+)", 1).as("port"),
    regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1).as("path"),
    regexp_extract(url, "^[^?#]*\\?([^#]*)", 1).as("query"),
    regexp_extract(url, "#(.*)$", 1).as("fragment"))

  /** Query-param names dropped by [[canonicalizeUrl]] (tracking noise
    * that splits otherwise-identical URLs): utm_*, fbclid, gclid.
    */
  val trackingParamPattern = "^(utm_[^=]*|fbclid|gclid)(=|$)"

  /** Canonical URL for dedup keys, rebuilt from [[urlParts]] under the
    * standard normalization rules, each deterministic and replayable in
    * any engine:
    *  - scheme and host lowercase
    *  - default ports dropped (:80 for http, :443 for https); other
    *    ports kept
    *  - empty path → "/"; trailing slashes stripped otherwise
    *  - tracking params ([[trackingParamPattern]]) removed; the "?" is
    *    dropped when the query empties
    *  - fragment always dropped (never reaches the server)
    * Unparseable URLs (no scheme) canonicalize to the empty string —
    * filter them, don't dedup on them.
    */
  def canonicalizeUrl(url: Column): Column = {
    val p = urlParts(url)
    val scheme = lower(p("scheme"))
    val host = lower(p("host"))
    val port = p("port")
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    val rtrimmed = regexp_replace(p("path"), "/+$", "")
    val path = when(rtrimmed === "", "/").otherwise(rtrimmed)
    val cleanQuery = array_join(
      filter(split(p("query"), "&"), s => s =!= "" && !s.rlike(trackingParamPattern)), "&")
    when(scheme === "", "").otherwise(concat(
      scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(""),
      path,
      when(cleanQuery =!= "", concat(lit("?"), cleanQuery)).otherwise("")))
  }

  /** Default public-suffix list for [[registrableDomain]] — a documented
    * MINI subset of publicsuffix.org (the full list is ~10k rules and a
    * data file, not a code default). Order does not matter; matching
    * picks the longest suffix by label count, then by length.
    */
  val defaultSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "com.au", "co.jp", "com.br", "github.io",
    "com", "org", "net", "edu", "gov", "io", "uk", "de", "fr", "jp")

  /** Registrable domain (eTLD+1): the last host label before the
    * longest matching public suffix, plus the suffix — "blog.x.co.uk" →
    * "x.co.uk", "a.b.example.com" → "example.com". A host that IS a
    * bare suffix, or matches none, yields empty string. This is the
    * level web pipelines cap and aggregate at: subdomains are free, so
    * per-host caps are gameable; registrable domains cost money.
    */
  def registrableDomain(
      host: Column,
      suffixes: Seq[String] = defaultSuffixes): Column = {
    val ordered = suffixes.sortBy(s => (-s.count(_ == '.'), -s.length, s))
    val chain = ordered.foldRight(lit(""): Column) { (s, acc) =>
      val esc = s.replace(".", "\\.")
      when(host.endsWith("." + s),
        regexp_extract(host, s"([^.]+\\.$esc)$$", 1)).otherwise(acc)
    }
    // a host that IS a suffix would otherwise fall through to a SHORTER
    // suffix it ends with ("co.uk" → ".uk" → "co.uk") and look registrable
    when(host.isInCollection(suffixes), "").otherwise(chain)
  }

  /** Drop rows whose URL is on a domain blocklist — the crawl-corpus
    * policy filter that runs BEFORE expensive text processing. An entry
    * matches either the exact lowercased host or the host's REGISTRABLE
    * domain, so blocking "example.com" removes every subdomain
    * ("a.b.example.com" collapses to it) while an exact-host entry
    * ("news.x.org") removes just that host and leaves the rest of
    * "x.org" alone. Matching is a pure column predicate
    * (`isInCollection` compiles the list into the plan), right for
    * config-sized lists; deployment-scale lists (10⁵–10⁶ rows) use
    * [[blockDomainsJoin]], the broadcast anti-join twin with identical
    * semantics (spec-pinned equivalent).
    */
  def blockDomains(
      df: DataFrame,
      urlCol: String,
      blocked: Seq[String],
      suffixes: Seq[String] = defaultSuffixes): DataFrame = {
    require(blocked.nonEmpty, "empty blocklist — nothing to do")
    val bl = blocked.map(_.toLowerCase)
    val host = lower(urlParts(col(urlCol)).getField("host"))
    val rd = registrableDomain(host, suffixes)
    // NULL url ⇒ NULL host ⇒ NULL predicate: a bare filter would drop
    // the row, while the anti-join twin KEEPS it (null keys never
    // match). Pin the join's semantics — a blocklist states which
    // domains to remove; a row with no URL matches none of them.
    df.filter(coalesce(!host.isInCollection(bl) && !rd.isInCollection(bl), lit(true)))
  }

  /** [[blockDomains]] with the blocklist as a DataFrame (column
    * `domain`) — two broadcast anti-joins (exact host, registrable
    * domain), the scale path for deployment-sized lists where a plan
    * literal would be absurd. Blocklists are small relative to the
    * corpus by construction, so the broadcast is the right join and no
    * shuffle of the corpus ever happens.
    */
  def blockDomainsJoin(
      df: DataFrame,
      urlCol: String,
      blocked: DataFrame,
      suffixes: Seq[String] = defaultSuffixes): DataFrame = {
    val b = broadcast(blocked.select(lower(col("domain")).as("__bd")).distinct())
    val host = lower(urlParts(col(urlCol)).getField("host"))
    val rd = registrableDomain(host, suffixes)
    df.withColumn("__h", host).withColumn("__rd", rd)
      .join(b, col("__h") === col("__bd"), "left_anti")
      .join(b, col("__rd") === col("__bd"), "left_anti")
      .drop("__h", "__rd")
  }

  /** Keep at most k documents per domain, preferring the BEST by
    * `orderCol` (descending; ties to the smallest id — total order, so
    * the survivor set is deterministic). The anti-spam shape: any one
    * registrable domain contributes a bounded number of documents no
    * matter how much it publishes. One shuffle on the domain key; the
    * per-group sort is bounded by group size. Complements
    * [[ScaleOps.sampleKPerGroup]], which picks a hash-RANDOM k — this
    * picks the top-quality k.
    */
  def capPerDomain(
      df: DataFrame,
      domainCol: String,
      idCol: String,
      orderCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(domainCol)
      .orderBy(col(orderCol).desc, col(idCol).asc)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** [[capPerDomain]] with a PER-GROUP budget column instead of a
    * constant k — the shape a crawl-delay-driven fetch schedule needs
    * (each host's budget = ⌊window / its crawl delay⌋, so k varies by
    * host). Keeps each group's top `budgetCol` rows by (orderCol desc,
    * idCol asc — total order, deterministic); a budget ≤ 0 emits
    * nothing for that group. Same single shuffle + bounded per-group
    * sort as the constant-k form.
    */
  def capPerDomainBudget(
      df: DataFrame,
      domainCol: String,
      idCol: String,
      orderCol: String,
      budgetCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(domainCol)
      .orderBy(col(orderCol).desc, col(idCol).asc)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= col(budgetCol))
      .drop("__rk")
  }

  /** Daily-ingest twin of [[capPerDomain]]: advance a persisted
    * survivor set with a new batch WITHOUT re-reading corpus history.
    * The store IS the capped output so far (≤ k rows per domain — the
    * artifact a deployment persists anyway), and top-k selection under
    * the total order (orderCol desc, id asc) is merge-associative:
    * topk(topk(H) ∪ B) = topk(H ∪ B), so the advance is EXACT, not an
    * approximation — incremental ≡ full-recompute is spec-pinned and
    * q208's oracle exploits it by replaying the plain full window.
    *
    * Scale shape: only batch-TOUCHED domains re-rank (store split by a
    * semi/anti join on the batch's domain set — the q134/q182/q193
    * discipline); untouched domains pass through untouched, so a day's
    * ingest costs O(batch + store-rows-in-touched-domains), never
    * O(history). Replayed ids dedup before the window (first writer
    * wins), making a re-delivered batch a no-op — the exactly-once
    * guard every incremental store here carries.
    */
  def capPerDomainIncremental(
      batch: DataFrame,
      store: DataFrame,
      domainCol: String,
      idCol: String,
      orderCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val touched = batch.select(col(domainCol)).distinct()
    val untouched = store.join(touched, Seq(domainCol), "left_anti")
    val storeTouched = store.join(touched, Seq(domainCol), "left_semi")
    // replay guard: a re-delivered id keeps its STORE copy (a replayed
    // row lands in a touched domain by construction, so the id-width
    // anti-join needs only the touched slice, never full history)
    val batchNew = batch.select(store.columns.map(col): _*)
      .join(storeTouched.select(col(idCol)), Seq(idCol), "left_anti")
    untouched.unionByName(
        capPerDomain(storeTouched.unionByName(batchNew), domainCol, idCol, orderCol, k))
      .select(store.columns.map(col): _*) // using-column joins moved keys first
  }

  // ------------------------------------------------------ crawl frontier

  /** Empty frontier store with the contract schema (urlCol, host,
    * n_refs) — the [[frontierAdvance]] bootstrap for a first batch.
    */
  def emptyFrontierStore(
      spark: org.apache.spark.sql.SparkSession,
      urlCol: String = "url"): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, Long)].toDF(urlCol, "host", "n_refs")
  }

  /** Empty visited store (urlCol) — the [[frontierAdvance]] bootstrap. */
  def emptyVisitedStore(
      spark: org.apache.spark.sql.SparkSession,
      urlCol: String = "url"): DataFrame = {
    import spark.implicits._
    Seq.empty[Tuple1[String]].toDF(urlCol)
  }

  /** One crawl round's frontier bookkeeping — the INCREMENTAL twin of
    * the one-shot frontier composition (q276): advance the persisted
    * (frontier, visited) stores with a batch of crawl results, without
    * re-reading crawl history.
    *
    * Inputs: `batchEdges` — one row per REFERENCE harvested from the
    * batch's pages (the q275 chain output: canonical destination URLs,
    * column `urlCol`; NULL/empty already filtered); `batchCrawled` —
    * the canonical URLs of the pages actually FETCHED this batch (they
    * join the visited set and leave the frontier); `rules` — the
    * crawling agent's [[robotsRules]] (policy gates candidates at
    * STORE ENTRY, so the frontier only ever holds fetchable URLs; a
    * policy change requires re-gating the store — documented trade).
    *
    * Store contracts: frontier (urlCol, host, n_refs) with n_refs the
    * ACCUMULATED reference count across all batches so far; visited
    * (urlCol). Invariant maintained: frontier ∩ visited = ∅.
    *
    * The advance is EXACT (incremental ≡ full over the union of
    * batches, q277's oracle identity): reference counts sum
    * associatively, and a URL referenced in an early batch then
    * crawled in a later one leaves the frontier the round it is
    * fetched. The per-host politeness cap is deliberately NOT applied
    * here — capping the STORE would discard counts that later batches
    * legitimately grow, breaking the identity; the cap is an
    * EMISSION-time decision ([[frontierNext]]), which is also the
    * operational semantics (politeness bounds what you fetch per
    * round, not what you remember).
    *
    * Scale shape (the q208/q134 discipline): candidates aggregate to
    * (url, n) BEFORE the robots gate, so policy evaluates once per
    * distinct URL against the broadcast rule table; untouched store
    * rows pass through an anti-join on the batch's candidate keys and
    * never re-aggregate; the history-visited check anti-joins only the
    * batch-width candidate slice (store rows are never visited by
    * invariant); the visited advance appends only genuinely-new URLs.
    * A day's ingest costs O(batch + store-rows-in-touched-keys) —
    * never O(history). At deployment scale, bucket both stores by
    * urlCol so the key joins co-locate without shuffling the stores.
    *
    * Replay guard lives at the COMMIT layer (the StreamingCrawl twin's
    * txn markers): n_refs SUMS, so a re-delivered batch must be
    * dropped before this operator, not deduped inside it — same
    * judgment as the novelty counters (q237/StreamingNovelty).
    *
    * Returns (frontier', visited').
    */
  /** A batch's robots-gated candidate reference counts: (urlCol,
    * n_refs) — the entry stage of [[frontierAdvance]], shared with the
    * StreamingCrawl ledger twin. References aggregate BEFORE the gate,
    * so policy evaluates once per distinct URL against the broadcast
    * rule table.
    */
  def gatedCandidates(
      batchEdges: DataFrame,
      rules: DataFrame,
      urlCol: String = "url"): DataFrame = {
    val cand = batchEdges
      .groupBy(col(urlCol)).agg(count(lit(1)).as("n_refs"))
    robotsDecision(cand, urlCol, rules)
      .filter(col("allowed"))
      .select(col(urlCol), col("n_refs"))
  }

  def frontierAdvance(
      batchEdges: DataFrame,
      batchCrawled: DataFrame,
      rules: DataFrame,
      frontierStore: DataFrame,
      visitedStore: DataFrame,
      urlCol: String = "url"): (DataFrame, DataFrame) = {
    // both batch frames feed 3–4 consumers each (the anti/semi splits
    // below) — barrier them so the candidate aggregation + robots gate
    // and the crawled-set distinct each evaluate ONCE (the composition
    // rule; measured on q277: 11.1 → ~6 s at sf0.1 without it the gate
    // re-ran per consumer)
    val newVisited = Barrier(batchCrawled.select(col(urlCol)).distinct(),
      "WebOps.frontierAdvance.visited")
    val gated = Barrier(gatedCandidates(batchEdges, rules, urlCol), "WebOps.frontierAdvance.gated")
    val touchedKeys = gated.select(col(urlCol))
    // untouched store rows pass through; they can still have been
    // FETCHED this batch (crawled without being re-referenced)
    val untouched = frontierStore
      .join(touchedKeys, Seq(urlCol), "left_anti")
      .join(newVisited, Seq(urlCol), "left_anti")
    val touchedStore = frontierStore.join(touchedKeys, Seq(urlCol), "left_semi")
    val merged = touchedStore.select(col(urlCol), col("n_refs"))
      .unionByName(gated)
      .groupBy(col(urlCol)).agg(sum("n_refs").as("n_refs"))
      .join(visitedStore.select(col(urlCol)), Seq(urlCol), "left_anti")
      .join(newVisited, Seq(urlCol), "left_anti")
      .withColumn("host", lower(urlParts(col(urlCol)).getField("host")))
      .select(col(urlCol), col("host"), col("n_refs"))
    val frontier2 = untouched.select(col(urlCol), col("host"), col("n_refs"))
      .unionByName(merged)
    val visited2 = visitedStore.select(col(urlCol)).unionByName(
      newVisited.join(visitedStore, Seq(urlCol), "left_anti"))
    (frontier2, visited2)
  }

  /** The next crawl round's fetch list under a per-host POLITENESS
    * budget: at most `k` URLs per host from the frontier store, the
    * best-referenced first (n_refs desc, url asc — a total order, so
    * the emission is deterministic and replayable in any engine). Pure
    * function of the store — emitting never mutates it; the fetched
    * URLs come back through [[frontierAdvance]]'s `batchCrawled` and
    * leave the store then. Delegates to [[capPerDomain]] (one shuffle
    * on host, bounded per-group sort).
    */
  def frontierNext(
      frontierStore: DataFrame,
      k: Int,
      urlCol: String = "url",
      hostCol: String = "host"): DataFrame =
    capPerDomain(frontierStore, hostCol, urlCol, "n_refs", k)

  // ------------------------------------------------------------ sitemaps

  /** `<url>` entries of a sitemap URLSET document (sitemaps.org
    * protocol): array of (loc, lastmod) structs, in document order.
    * `loc` is entity-decoded (sitemap XML escapes `&` as `&amp;`) and
    * whitespace-trimmed; `lastmod` is empty-string when absent (the
    * optional field, regexp_extract's no-match convention — never
    * null). Pure Java∩RE2 column regexes (no backreferences, no
    * lookaround), the q187/q274 replay discipline, so an external
    * engine replays the extraction character-identically. A
    * `<sitemapindex>` document yields the empty array here (the tag
    * boundary `(>|whitespace)` keeps `<sitemap…` from matching
    * `<sitemapindex>`), and vice versa for [[sitemapIndexEntries]] —
    * one frame of fetched sitemap docs can hold both kinds.
    */
  def sitemapUrlEntries(xml: Column): Column =
    transform(
      regexp_extract_all(xml, lit("(?is)<url(>|[ \t\r\n][^>]*>)(.*?)</url>"), lit(2)),
      b => struct(
        HtmlText.decodeEntities(trim(regexp_extract(b,
          "(?is)<loc(>|[ \t\r\n][^>]*>)[ \t\r\n]*(.*?)[ \t\r\n]*</loc>", 2))).as("loc"),
        trim(regexp_extract(b,
          "(?is)<lastmod(>|[ \t\r\n][^>]*>)[ \t\r\n]*(.*?)[ \t\r\n]*</lastmod>", 2))
          .as("lastmod")))

  /** Child sitemap locations of a `<sitemapindex>` document: array of
    * decoded loc strings, document order. Empty for urlset docs.
    */
  def sitemapIndexEntries(xml: Column): Column =
    transform(
      regexp_extract_all(xml,
        lit("(?is)<sitemap(>|[ \t\r\n][^>]*>)(.*?)</sitemap>"), lit(2)),
      b => HtmlText.decodeEntities(trim(regexp_extract(b,
        "(?is)<loc(>|[ \t\r\n][^>]*>)[ \t\r\n]*(.*?)[ \t\r\n]*</loc>", 2))))

  /** Crawl-seed extraction over a frame of FETCHED sitemap documents
    * `(urlCol, xmlCol)` — the robots.txt companion (robots.txt's
    * `Sitemap:` lines point at these): walk the sitemap-index tree to
    * `maxDepth` levels and emit every urlset entry reached, as
    * `(sitemap_url, loc, lastmod, depth)`.
    *
    * Roots are the frame rows NO other row's index references (the
    * fetch frontier's entry points); each level's index entries
    * semi-join back to the frame by URL to find their documents — a
    * referenced child that was never fetched simply contributes
    * nothing (fetch-driven, not error-driven), and a cyclic or
    * self-referencing index terminates at the depth bound. A diamond
    * (two indexes referencing one child) emits the child's entries
    * once per DEPTH it first appears at, deduplicated within each
    * level — sitemap trees are two levels in practice, so the bound
    * and the per-level dedup are the whole story. Driver loop is
    * maxDepth-bounded and data-independent (the GraphOps iteration
    * discipline); each level is one semi-join + map-only extraction.
    */
  def sitemapSeeds(
      sitemaps: DataFrame,
      urlCol: String,
      xmlCol: String,
      maxDepth: Int = 3): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 10, "maxDepth must be in [1, 10]")
    val base = Barrier(sitemaps
      .select(col(urlCol).as("__sm_url"), col(xmlCol).as("__sm_xml")),
      "WebOps.sitemapSeeds.base") // re-joined once per level
    val allChildren = base
      .select(explode(sitemapIndexEntries(col("__sm_xml"))).as("__c"))
      .distinct()
    var frontier = base.join(allChildren,
      col("__sm_url") === col("__c"), "left_anti")
    var out: DataFrame = null
    for (d <- 0 until maxDepth) {
      val entries = frontier
        .select(col("__sm_url").as("sitemap_url"),
          explode(sitemapUrlEntries(col("__sm_xml"))).as("__e"))
        .select(col("sitemap_url"), col("__e.loc").as("loc"),
          col("__e.lastmod").as("lastmod"), lit(d.toLong).as("depth"))
      out = if (out == null) entries else out.unionByName(entries)
      if (d < maxDepth - 1) {
        val childLocs = frontier
          .select(explode(sitemapIndexEntries(col("__sm_xml"))).as("__c"))
          .distinct()
        frontier = Barrier(base.join(childLocs,
            col("__sm_url") === col("__c"), "left_semi"), "WebOps.sitemapSeeds.frontier")
      }
    }
    out
  }

  /** Re-crawl candidate selection — the freshness loop sitemaps exist
    * for: join harvested seed entries (locCol, lastmodCol — ISO-8601
    * dates compare lexicographically) against the visited store
    * (urlCol, fetchTsCol) and keep the URLs worth fetching, with a
    * `reason` column: 'new' (never fetched) or 'stale' (lastmod
    * strictly after the recorded fetch). A fetched page whose lastmod
    * is EMPTY (the optional field) or not newer is fresh and DROPS —
    * the conservative read: a site that doesn't advertise changes
    * doesn't get re-fetched on every pass (re-crawl cadence for such
    * hosts is a scheduler policy, not a sitemap signal). One key-width
    * join; map-only otherwise. Compose [[capPerDomainBudget]] /
    * [[frontierNext]] downstream for the politeness-capped fetch list.
    */
  def recrawlCandidates(
      seeds: DataFrame,
      visited: DataFrame,
      locCol: String = "loc",
      lastmodCol: String = "lastmod",
      urlCol: String = "url",
      fetchTsCol: String = "fetch_ts"): DataFrame =
    seeds
      .join(visited.select(col(urlCol).as(locCol), col(fetchTsCol)),
        Seq(locCol), "left")
      .withColumn("reason",
        when(col(fetchTsCol).isNull, "new")
          .when(col(lastmodCol) =!= "" && col(lastmodCol) > col(fetchTsCol),
            "stale")
          .otherwise(lit(null).cast("string")))
      .filter(col("reason").isNotNull)

  /** Resolve an href against its page's base URL (the pragmatic
    * RFC 3986 §5 subset a crawler frontier needs): absolute refs pass
    * through; protocol-relative (`//host/…`) take the base scheme;
    * root-relative (`/…`) take scheme://host[:port]; anything else is
    * relative to the base path's directory (up to its last '/').
    * Fragments, empty hrefs, and non-fetchable schemes (mailto,
    * javascript, tel, data) resolve to NULL — filter, don't fetch.
    * Dot-segment normalization (`../`) is deliberately out of scope:
    * canonical dedup keys come from [[canonicalizeUrl]], and unresolved
    * dot segments are rare enough in served hrefs that a frontier
    * treats them as distinct URLs (documented trade, not an oversight).
    */
  def resolveHref(baseUrl: Column, href: Column): Column = {
    val p = urlParts(baseUrl)
    val scheme = lower(p.getField("scheme"))
    val host = lower(p.getField("host"))
    val port = p.getField("port")
    val hostPort = concat(host,
      when(port =!= "", concat(lit(":"), port)).otherwise(lit("")))
    val root = concat(scheme, lit("://"), hostPort)
    val basePath = when(p.getField("path") === "", lit("/"))
      .otherwise(p.getField("path"))
    val dir = regexp_replace(basePath, "[^/]*$", "")
    val h = trim(href)
    when(scheme === "", lit(null).cast("string")) // unparseable base
      .when(h === "" || h.startsWith("#") ||
        lower(h).rlike("^(mailto|javascript|tel|data):"), lit(null).cast("string"))
      .when(h.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"), h)
      .when(h.startsWith("//"), concat(scheme, lit(":"), h))
      .when(h.startsWith("/"), concat(root, h))
      .otherwise(concat(root, dir, h))
  }

  /** The outlink edges of a page frame, `(keep…, dst)`: one row per
    * fetchable href, `dst` its canonical absolute URL. The chain is
    * [[HtmlText.extractLinks]] over `html` → explode → [[resolveHref]]
    * against `base` → [[canonicalizeUrl]] → lazy barrier → drop NULL
    * or empty `dst` (fragments and non-fetchable schemes resolve to
    * NULL, unparseable URLs canonicalize to ""). `base` and `html` are
    * expressions over `pages`; `keep` names columns of `pages` carried
    * onto every edge. Map-only; any scan fan-out is the caller's.
    *
    * Two plan rules, both measured at sf0.1:
    *  - Resolve runs in its own projection. canonicalizeUrl reads its
    *    input ~10× (the [[urlParts]] extractions), and composing it
    *    straight over resolveHref inlines the whole resolve CASE into
    *    every read: ~3× the regex work (0.96 s → 2.7 s warm). Across
    *    the projection boundary the non-cheap alias stays an attribute.
    *  - The filter runs after the barrier. Before it, the optimizer
    *    pushes the filter below both projections and re-inlines resolve
    *    into canonicalize, the fused form the first rule removes. The
    *    barrier itself makes the chain run once for every downstream
    *    consumer (the filter, joins, a range sort's sampling pass),
    *    which otherwise re-run it ~4× (1.1 s vs 6.6 s warm).
    */
  def outlinkEdges(pages: DataFrame, base: Column, html: Column, keep: String*): DataFrame =
    Barrier(outlinkChain(pages, base, html, keep: _*), "WebOps.outlinkEdges")
      .filter(col("dst").isNotNull && col("dst") =!= "")

  /** [[outlinkEdges]] up to its barrier, exposed for the plan pin. */
  private[graft] def outlinkChain(
      pages: DataFrame, base: Column, html: Column, keep: String*): DataFrame = {
    val k = keep.map(col)
    pages
      .select(k :+ base.as("__base") :+ HtmlText.extractLinks(html).as("__hrefs"): _*)
      .select(k :+ col("__base") :+ explode(col("__hrefs")).as("__href"): _*)
      .select(k :+ resolveHref(col("__base"), col("__href")).as("__r"): _*)
      .select(k :+ canonicalizeUrl(col("__r")).as("dst"): _*)
  }

  // ---------------------------------------------------------- robots.txt

  /** The characters the robots path-pattern → regex translation must
    * escape, in application order (backslash FIRST, '*' handled
    * separately as the wildcard, '$' separately as the end anchor).
    * Shared with the q274 oracle builder so both engines apply the
    * IDENTICAL replace chain.
    */
  val robotsEscapeChars: Seq[String] =
    Seq("\\", ".", "+", "?", "(", ")", "[", "]", "{", "}", "|", "^")

  /** Robots path pattern → anchored regex (RFC 9309 §2.2.3 matching:
    * '*' matches any span, a TRAILING '$' anchors the end, everything
    * else is literal). Built as a deterministic replace chain — no
    * regex-escape builtin exists in both engines, so the chain IS the
    * cross-engine contract ([[robotsEscapeChars]] order, then inner
    * '$'s escaped, then '*' → '.*', '^' prefixed).
    */
  def robotsPatternRegex(pat: Column): Column = {
    val endsAnchor = pat.endsWith("$")
    val bodyCol = when(endsAnchor, pat.substr(lit(1), length(pat) - 1)).otherwise(pat)
    val escaped = robotsEscapeChars.foldLeft(bodyCol) { (c, ch) =>
      regexp_replace(c, java.util.regex.Pattern.quote(ch), // literal find
        java.util.regex.Matcher.quoteReplacement("\\" + ch))
    }
    val escDollar = regexp_replace(escaped,
      java.util.regex.Pattern.quote("$"),
      java.util.regex.Matcher.quoteReplacement("\\$"))
    val wild = regexp_replace(escDollar,
      java.util.regex.Pattern.quote("*"),
      java.util.regex.Matcher.quoteReplacement(".*"))
    concat(lit("^"), wild, when(endsAnchor, lit("$")).otherwise(lit("")))
  }

  /** Parse a per-host robots.txt table into the EFFECTIVE rule set for
    * one user agent (RFC 9309): comment-stripped lines split into
    * `user-agent:` groups (a group = a maximal run of user-agent lines
    * plus the rules that follow); the agent matches a group when one of
    * its tokens is '*' or a case-insensitive PREFIX of the agent; the
    * group(s) with the LONGEST matching token win ('*' counts 0 —
    * specific beats wildcard), and only their allow/disallow rules
    * apply. Empty-pattern rules are the standard no-ops and drop here.
    *
    * Output: (hostCol, pattern, allow, plen, rx) — `rx` is the
    * [[robotsPatternRegex]] translation, carried so the gate and the
    * oracle match with the same compiled form.
    *
    * Scale: robots tables are per-HOST config data (millions of rows at
    * worst, bytes each), so the windows here run over config-sized
    * frames and the result broadcasts in [[robotsDecision]] — the
    * corpus itself never shuffles for policy.
    */
  def robotsRules(
      robots: DataFrame,
      hostCol: String,
      txtCol: String,
      agent: String): DataFrame = {
    require(agent.nonEmpty, "agent must be non-empty")
    val (grouped, chosen) = robotsChosenGroups(robots, hostCol, txtCol, agent)
    grouped
      .filter(col("__key").isin("allow", "disallow") && col("__val") =!= "")
      .join(chosen, Seq("__h", "__grp"), "left_semi")
      .select(col("__h").as(hostCol),
        col("__val").as("pattern"),
        (col("__key") === "allow").as("allow"),
        length(col("__val")).cast("long").as("plen"))
      .withColumn("rx", robotsPatternRegex(col("pattern")))
  }

  /** Comment-stripped (host, line-no, key, value) robots lines — the
    * shared parse under [[robotsRules]]/[[robotsSitemaps]]/
    * [[robotsCrawlDelay]] (one tokenizer, zero drift between them).
    */
  private def robotsKv(
      robots: DataFrame,
      hostCol: String,
      txtCol: String): DataFrame =
    robots
      .select(lower(col(hostCol)).as("__h"),
        posexplode(split(col(txtCol), "\n")).as(Seq("__ln", "__raw")))
      .select(col("__h"), col("__ln"),
        trim(regexp_replace(col("__raw"), "#.*$", "")).as("__l"))
      .filter(col("__l") =!= "")
      .select(col("__h"), col("__ln"),
        lower(trim(regexp_extract(col("__l"), "^([^:]+):", 1))).as("__key"),
        trim(regexp_extract(col("__l"), "^[^:]+:(.*)$", 1)).as("__val"))

  /** Group-numbered robots lines + the (host, group) pairs of the
    * agent's CHOSEN group(s) — the RFC 9309 group-selection machinery
    * shared by the rule and crawl-delay readers. Crawl-delay lines
    * ride the grouping (they are group members like allow/disallow);
    * including them cannot move a group boundary (only user-agent
    * transitions start groups), so [[robotsRules]] output is
    * unaffected.
    */
  private def robotsChosenGroups(
      robots: DataFrame,
      hostCol: String,
      txtCol: String,
      agent: String): (DataFrame, DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__h").orderBy("__ln")
    val lines = robotsKv(robots, hostCol, txtCol)
      .filter(col("__key").isin("user-agent", "allow", "disallow", "crawl-delay"))
    val grouped = lines
      .withColumn("__prev", lag(col("__key"), 1).over(w))
      .withColumn("__gstart",
        when(col("__key") === "user-agent" &&
          (col("__prev").isNull || col("__prev") =!= "user-agent"), 1L)
          .otherwise(0L))
      .withColumn("__grp", sum(col("__gstart"))
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val matchedUas = grouped
      .filter(col("__key") === "user-agent")
      .select(col("__h"), col("__grp"), lower(col("__val")).as("__ua"))
      .filter(col("__ua") === "*" ||
        lit(agent.toLowerCase).startsWith(col("__ua")))
      .withColumn("__spec",
        when(col("__ua") === "*", lit(0)).otherwise(length(col("__ua"))))
    val best = matchedUas.groupBy("__h").agg(max(col("__spec")).as("__bestspec"))
    val chosen = matchedUas.join(best, Seq("__h"))
      .filter(col("__spec") === col("__bestspec"))
      .select("__h", "__grp").distinct()
    (grouped, chosen)
  }

  /** `Sitemap:` discovery from robots.txt — the sitemaps.org extension
    * line that points crawlers at their seed documents. Group-
    * INDEPENDENT by the protocol (a Sitemap line applies regardless of
    * which user-agent group surrounds it), so no agent parameter.
    * Returns (hostCol, sitemap_url) — distinct, every non-empty value
    * kept verbatim (the fetcher resolves/validates). Composes with
    * [[sitemapSeeds]]: discover here, fetch, walk the index tree.
    */
  def robotsSitemaps(
      robots: DataFrame,
      hostCol: String,
      txtCol: String): DataFrame =
    robotsKv(robots, hostCol, txtCol)
      .filter(col("__key") === "sitemap" && col("__val") =!= "")
      .select(col("__h").as(hostCol), col("__val").as("sitemap_url"))
      .distinct()

  /** Effective `Crawl-delay:` (seconds) for one agent: the minimum
    * numeric value among the agent's CHOSEN group(s) — same group
    * selection as [[robotsRules]], so the delay always comes from the
    * group whose rules bind the agent. Non-numeric values drop (the
    * standard lenient read of this de-facto directive; it is not in
    * RFC 9309). Hosts with no parsable delay are absent — join left
    * and coalesce to the crawler's default. Returns
    * (hostCol, crawl_delay) with crawl_delay DOUBLE.
    */
  def robotsCrawlDelay(
      robots: DataFrame,
      hostCol: String,
      txtCol: String,
      agent: String): DataFrame = {
    require(agent.nonEmpty, "agent must be non-empty")
    val (grouped, chosen) = robotsChosenGroups(robots, hostCol, txtCol, agent)
    grouped
      .filter(col("__key") === "crawl-delay" &&
        col("__val").rlike("^[0-9]+(\\.[0-9]+)?$"))
      .join(chosen, Seq("__h", "__grp"), "left_semi")
      .groupBy(col("__h").as(hostCol))
      .agg(min(col("__val").cast("double")).as("crawl_delay"))
  }

  /** Annotate a URL frame with the robots decision under an effective
    * rule set ([[robotsRules]]): per URL, the rules of its host whose
    * pattern matches the PATH-PLUS-QUERY (RFC 9309 §2.2.2 — the match
    * target is the path with the query appended after '?', so
    * `Disallow: /search?q=` patterns can fire) are ranked by (longest
    * pattern, allow over disallow on ties — the RFC 9309 precedence),
    * and `allowed` is true when no rule matches, when the host has no
    * robots entry (the crawl default), or when the winning rule
    * allows. Adds (allowed, matched_pattern, matched_allow); compose a
    * `.filter` for the gate form. The rule table broadcasts
    * (config-sized vs the corpus); the decision itself is map-only
    * array expressions.
    */
  def robotsDecision(
      urls: DataFrame,
      urlCol: String,
      rules: DataFrame,
      hostCol: String = "host"): DataFrame = {
    val ruleType =
      "array<struct<pattern:string,allow:boolean,plen:bigint,rx:string>>"
    val rs = broadcast(rules
      .groupBy(lower(col(hostCol)).as("__rh"))
      .agg(collect_list(
        struct(col("pattern"), col("allow"), col("plen"), col("rx"))).as("__rules")))
    val p0 = urlParts(col(urlCol)).getField("path")
    val q0 = urlParts(col(urlCol)).getField("query")
    val matched = urls
      .withColumn("__h", lower(urlParts(col(urlCol)).getField("host")))
      .withColumn("__p", concat(
        when(p0 === "", lit("/")).otherwise(p0),
        when(q0 =!= "", concat(lit("?"), q0)).otherwise(lit(""))))
      .join(rs, col("__h") === col("__rh"), "left")
      .withColumn("__m",
        filter(coalesce(col("__rules"), array().cast(ruleType)),
          // rlikeCached ≡ regexp_like, but the per-row dynamic-pattern
          // Pattern.compile is amortized through RegexCache — the rule
          // table holds a handful of distinct patterns evaluated per
          // URL, and RLike only caches foldable patterns (guide §1.2
          // per-task work; measured q274 ~1.9× on the decision stage)
          r => org.apache.spark.sql.graft.NativeExprs
            .rlikeCached(col("__p"), r("rx"))))
    val out = Fence(matched, "WebOps.robotsDecision")
      .withColumn("__best",
        array_min(transform(col("__m"), r => struct(
          (r("plen") * -1L).as("np"),
          when(r("allow"), 0).otherwise(1).as("ar"),
          r("pattern").as("pat")))))
      .withColumn("allowed",
        size(col("__m")) === 0 || col("__best.ar") === 0)
      .withColumn("matched_pattern",
        when(size(col("__m")) === 0, lit(null).cast("string"))
          .otherwise(col("__best.pat")))
      .withColumn("matched_allow",
        when(size(col("__m")) === 0, lit(null).cast("boolean"))
          .otherwise(col("__best.ar") === 0))
    out.drop("__h", "__p", "__rh", "__rules", "__m", "__best")
  }
}
