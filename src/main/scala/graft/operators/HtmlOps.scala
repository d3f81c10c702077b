package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML → text extraction — the WARC-to-training-text stage of a web
  * corpus pipeline (the Common Crawl WET path: archive → response
  * payload → visible text, boilerplate removed).
  *
  * The reference ingests already-clean text; a 100 TB web corpus does
  * not arrive clean — the dominant preprocessing cost is turning crawled
  * HTML into paragraphs worth training on. This stage is deliberately
  * HTML-lite (the [[RobotsOps.sitemapUrls]] stance, applied to pages):
  * regex/HOF row-local column logic — no DOM library, no UDF, no state —
  * so it runs inside the scan projection at any corpus size, and a
  * malformed page degrades to fewer blocks rather than a thrown task.
  *
  * Extraction contract, in order:
  *  1. `<script>…</script>` and `<style>…</style>` elements are removed
  *     FIRST (lazy, case-insensitive, dot-all, close tag matched to the
  *     open tag by backreference) — markup inside script strings must
  *     never shred the block structure;
  *  2. `<!-- comments -->` are removed (a commented-out `<p>` is not
  *     content);
  *  3. the `<title>` text is captured, entity-decoded and
  *     whitespace-normalized, as the page title;
  *  4. content is the `<body>` element when present (prologue/head cut;
  *     a body-less fragment is treated as all content);
  *  5. the body splits into BLOCKS at block-level tag boundaries
  *     (`p div h1-h6 li ul ol br hr nav footer header section article
  *     aside main table thead tbody tr td th blockquote pre form`,
  *     open or close); inline tags (`a b i em span strong code …`) stay
  *     inside their block;
  *  6. per block: tags stripped, THEN entities decoded (a decoded
  *     `&lt;script&gt;` is text, never re-parsed markup), THEN
  *     whitespace collapsed (`\s+` → one space) and trimmed. Decoding
  *     is the one-pass [[decodeEntities]] kernel: the named core plus
  *     all valid numeric references, NBSP → space, malformed
  *     references verbatim — same XML-lite degradation rule as the
  *     sitemap parser;
  *  7. BOILERPLATE RULE: a block whose anchor-text length exceeds
  *     `maxLinkDensity` × its total text length is dropped (nav bars,
  *     footers, link farms — the readability/jusText line-density
  *     heuristic, at block granularity). Anchor text is the
  *     concatenation of `<a>…</a>` inner texts (tag-stripped, decoded,
  *     normalized, single-space-joined; nested anchors resolve
  *     INNERMOST — the [[extractLinks]] rule — and unclosed openers
  *     contribute nothing). Empty blocks are neither kept nor counted
  *     as dropped.
  *
  * Output: the input frame minus the html column, plus `title`,
  * `text` (kept blocks joined with `\n`), `n_blocks` (kept) and
  * `n_dropped` (non-empty boilerplate blocks removed) — the two counts
  * make the boilerplate rate auditable corpus-wide.
  *
  * Scale shape: fully row-local (regexp chains + one HOF pass over the
  * block array; each intermediate array is materialized in its own
  * Project so Catalyst reads attributes instead of re-evaluating the
  * chain inside every lambda).
  * No shuffle, no join, no window: at 100 TB this pipelines inside the
  * WARC scan with zero exchanges.
  */
object HtmlOps {

  /** Block-boundary tags: open or close, any attributes, optional
    * self-close. `title|head|html|body` are included so head remnants
    * never fuse with the first content block on body-less fragments. */
  private val BlockTagRx =
    "(?i)</?(?:p|div|h[1-6]|li|ul|ol|br|hr|nav|footer|header|section" +
      "|article|aside|main|table|thead|tbody|tr|td|th|blockquote|pre" +
      "|form|title|head|body|html)\\b[^>]*>"

  /** General character-reference decode ([[graft.functions.HtmlEntities
    * .HtmlEntityDecode]] — one linear kernel pass): the named core
    * (`&amp; &lt; &gt; &quot; &apos; &nbsp;`) plus ALL valid decimal and
    * hex numeric references (`&#8217; &#xe9; …` — ubiquitous in real
    * pages), NBSP normalized to a plain space. Single-pass, so
    * double-escaped text (`&amp;lt;`) yields the literal `&lt;` it
    * denotes, never a re-decoded `<`; malformed references copy through
    * verbatim. */
  def decodeEntities(c: Column): Column =
    graft.functions.HtmlEntities.html_entity_decode(c)

  /** Collapse runs of whitespace to one space and trim. */
  def normalizeWs(c: Column): Column =
    trim(regexp_replace(c, "\\s+", " "))

  /** strip tags → decode entities → normalize: the per-block clean. */
  private def cleanFragment(c: Column): Column =
    normalizeWs(decodeEntities(regexp_replace(c, "<[^>]*>", " ")))

  /** LINEAR-TIME span removal: split the page at span openers
    * (zero-width lookahead — nothing consumed), then match the close
    * with an ^-ANCHORED lazy regex per segment. Each page character is
    * scanned a bounded number of times, so adversarial pages stay
    * O(page size) — the naive whole-document `<x>.*?</x>` form is
    * O(openers × page size): measured 0.33→0.68→2.2 s per page at
    * 200→400→800 KB with unclosed openers, i.e. minutes per page at
    * archive-side sizes, a genuine corpus-scale DoS (crawled corpora
    * contain adversarial pages with certainty). Unclosed spans follow
    * BROWSER semantics: they swallow to end of document. */
  private def stripSpansLinear(c: Column, lookahead: String,
                               opener: String, elem: String): Column =
    array_join(transform(split(c, lookahead), s =>
      when(!s.rlike(opener), s)
        .when(s.rlike(elem), regexp_replace(s, elem, " "))
        .otherwise(lit(" "))), "")

  /** script/style elements, then comments, removed (contract steps 1-2,
    * each a [[stripSpansLinear]] pass in that order). */
  private def stripNonContent(html: Column): Column = {
    val noScript = stripSpansLinear(html, "(?i)(?=<script\\b)",
      "(?i)^<script\\b", "(?is)^<script\\b[^>]*>.*?</script\\s*>")
    val noStyle = stripSpansLinear(noScript, "(?i)(?=<style\\b)",
      "(?i)^<style\\b", "(?is)^<style\\b[^>]*>.*?</style\\s*>")
    stripSpansLinear(noStyle, "(?=<!--)", "^<!--", "(?s)^<!--.*?-->")
  }

  /** The `<body>` slice (whole document when no body tag). */
  private def bodyOf(c: Column): Column =
    regexp_replace(
      regexp_replace(c, "(?is)^.*?<body\\b[^>]*>", " "),
      "(?is)</body\\s*>.*$", " ")

  /** OUTLINK EXTRACTION — frontier discovery, the other half of what a
    * crawler reads from a page: one row per `<a href="…">…</a>` element
    * (double- or single-quoted href; unquoted attributes are outside
    * the XML-lite contract and yield no row), in document order, from
    * the whole page INCLUDING boilerplate blocks (links live in
    * nav/footer — the text extractor drops those blocks, the frontier
    * must not). Script/style/comment regions are removed first: markup
    * inside a script string is not a link.
    *
    * Each href is RESOLVED against the page URL (RFC-3986-lite,
    * documented subset):
    *  - `scheme://…` absolute → kept verbatim;
    *  - `//host/…` protocol-relative → base scheme + `:` + href;
    *  - `/path` → base `scheme://host` + dot-normalized path;
    *  - `relative` → resolved against the base DIRECTORY (path up to
    *    the last `/`), dot-normalized;
    *  - `mailto:`/`javascript:`/any non-hierarchical scheme, fragment-
    *    only (`#…`) and empty hrefs → `url` NULL (recorded — auditable
    *    — but not a frontier edge);
    *  - the href's `?query`/`#fragment` suffix survives resolution
    *    untouched; dot-normalization (`.` dropped, `..` pops, no-op at
    *    root) applies to the PATH only.
    *
    * Output: input columns (html dropped) + `link_idx`, `href`,
    * `anchor` (cleaned inner text), `url` (resolved or null),
    * `dst_host`. Row-local like the text extractor: regex + HOF
    * projections, zero exchanges — frontier discovery pipelines inside
    * the same scan as text extraction at any corpus size. */
  def extractLinks(pages: DataFrame, htmlCol: String,
                   baseUrlCol: String): DataFrame = {
    val keep = pages.columns.filterNot(_ == htmlCol).map(col).toSeq
    // linear anchor scan (the stripSpansLinear discipline): split at
    // every `<a` opener, match the element with ^-anchored regexes per
    // segment — a whole-document `<a…>.*?</a>` extract_all is
    // O(anchors × page size) on unclosed-anchor link farms (measured).
    // One anchor per segment by construction; unclosed elements yield
    // no row; a nested `<a` starts its own segment, so the INNERMOST
    // anchor wins (browsers auto-close — same family of behavior).
    // href attribute key: lookbehind forbids a word-or-hyphen character
    // before it, so `data-href`/`xhref` never match (`\bhref` did — `-`
    // is a word boundary, so `data-href="x"` won the double-quoted slot
    // over a real single-quoted href and emitted a wrong frontier edge).
    // r17: the strip → segment → per-segment extract chain runs as ONE
    // native kernel eval per page ([[graft.functions.HtmlKernels
    // .anchor_scan]], bit-parity-pinned in HtmlOpsSpec) — the HOF
    // formulation paid three interpreted regexp_extract evals per
    // segment plus two interpreted array passes per strip stage.
    val elems = pages.select(
      keep :+ graft.functions.HtmlKernels.anchor_scan(col(htmlCol))
        .as("_elems"): _*)
    val exploded = elems.select(
      keep :+ posexplode(col("_elems")).as(Seq("link_idx", "_e")): _*)
    // href: double-quoted form wins, else single-quoted; anchored to
    // the OPENING tag so 'href=' inside anchor text cannot match
    val parsed = exploded.select(
      keep :+ col("link_idx").cast("long").as("link_idx") :+
        when(col("_e.dq") =!= "", col("_e.dq")).otherwise(col("_e.sq"))
          .as("href") :+
        cleanFragment(col("_e.elem")).as("anchor"): _*)
      .filter(col("href") =!= "")
    val resolved = parsed.select(
      keep :+ col("link_idx") :+ col("href") :+ col("anchor") :+
        resolveUrl(col(baseUrlCol), col("href")).as("url"): _*)
    resolved.select(
      keep :+ col("link_idx") :+ col("href") :+ col("anchor") :+
        col("url") :+
        // host matching is case-insensitive, so the edge key is
        // lowercased — EX.COM and ex.com must aggregate to one node
        when(col("url").isNotNull,
          lower(regexp_extract(col("url"),
            "(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)))
          .as("dst_host"): _*)
  }

  /** RFC-3986-lite reference resolution (see [[extractLinks]]): scheme
    * case-insensitivity (§3.1), dot-segment normalization with directory
    * references preserved (§5.2.4), query-only self links keeping the
    * base's full path (§5.3), non-hierarchical schemes / fragments /
    * empty hrefs → null. r17: one native kernel eval per anchor
    * ([[graft.functions.HtmlKernels.url_resolve]]) — the declarative
    * form's dot-segment fold was an interpreted `aggregate` HOF per
    * anchor; branch-for-branch parity is pinned in HtmlOpsSpec and by
    * the closed-form frontier/link oracles. */
  def resolveUrl(base: Column, href: Column): Column =
    graft.functions.HtmlKernels.url_resolve(base, href)

  /** FRONTIER URL-SEEN FILTER — the crawl loop's admission step between
    * outlink discovery ([[extractLinks]]) and the fetch scheduler
    * ([[RobotsOps]]/`web_fetch_schedule`): aggregate the discovered
    * outlinks to one row per distinct URL (`n_refs` = how many page→link
    * references point at it — the frontier's natural priority signal)
    * and ANTI-JOIN away every URL the crawler has already fetched.
    *
    * Scale shape (the 100 TB admission path): the rollup shuffles once
    * on `url`, and the anti-join runs on the SAME key — Catalyst reuses
    * the rollup's hash partitioning, so the candidate side pays exactly
    * one exchange; the crawled side is a plain equi anti-join input
    * (shuffled, or broadcast when the crawled set is small — never a
    * nested loop; plan-pinned). `dst_host` rides along so downstream
    * politeness stages (per-host delay budgeting) group without
    * re-parsing the URL. The crawled set here is EXACT; at sizes where
    * shuffling it dominates, the established Bloom discipline
    * ([[TextOps.decontaminateBloom]]: broadcast sketch prefilter +
    * exact verify join on the survivors — no false admissions, bounded
    * shuffle) composes verbatim with this rollup, since both sides key
    * on the same `url`.
    *
    * Input `links` is [[extractLinks]] output (or anything with a
    * resolved `url` + `dst_host`); null urls (mailto/fragment/opaque)
    * are not frontier candidates. Output: (url, dst_host, n_refs). */
  def frontierFilter(links: DataFrame, crawled: DataFrame,
                     crawledUrlCol: String): DataFrame = {
    val cand = links.filter(col("url").isNotNull)
      .groupBy(col("url"))
      .agg(min(col("dst_host")).as("dst_host"), // url-determined: one value per group
        count(lit(1)).as("n_refs"))
    cand.join(crawled.select(col(crawledUrlCol).as("url")),
      Seq("url"), "left_anti")
  }

  /** The BLOOM-FRONTED frontier filter — [[frontierFilter]]'s 100 TB
    * fast path, now implemented rather than only documented: the
    * crawled set is NEVER SHUFFLED. The seen-set's Bloom sketch (a few
    * MB at any fpp·n, built once per snapshot — the amortized cost)
    * probes every candidate row-locally ([[TextOps.bloomMightContain]]
    * over [[TextOps.hash60]] of the url — native codegen, no UDF);
    * definite-new candidates (no false negatives in a Bloom) are
    * admitted straight through, and only the MAYBE-crawled sliver —
    * true duplicates plus fpp·|candidates| — is verified exactly:
    * the sliver semi-probes the crawled scan as the BROADCAST side
    * (crawled is scanned, never exchanged), and the resulting hit set
    * (≤ |sliver|) anti-joins back. Output is bit-identical to
    * [[frontierFilter]] for every fpp (spec-pinned at fpp = 0.5 where
    * false positives are forced through the verify path; the
    * `web_frontier` oracle SQL attests both plans verbatim).
    *
    * Scale ledger vs the exact form: the exact anti-join shuffles
    * candidates AND the full crawled set on url; this shape shuffles
    * only the candidate rollup, scans crawled twice (count + sketch
    * build; once more per admission batch for the semi-probe), and
    * exchanges nothing crawled-sized — scans parallelize for free at
    * 1000 executors, exchanges do not. */
  def frontierFilterBloom(links: DataFrame, crawled: DataFrame,
                          crawledUrlCol: String,
                          fpp: Double = 0.01,
                          maxBroadcastSliver: Long = 5000000L): DataFrame = {
    val cand = graft.CacheRegistry.persistTracked(
      links.filter(col("url").isNotNull)
        .groupBy(col("url"))
        .agg(min(col("dst_host")).as("dst_host"),
          count(lit(1)).as("n_refs")))
    val crawledUrls = crawled.select(col(crawledUrlCol).as("url"))
    val n = crawledUrls.count()
    if (n == 0) cand
    else {
      val bloom = crawledUrls.select(TextOps.hash60(col("url")).as("h"))
        .stat.bloomFilter("h", n, fpp)
      val probe = TextOps.bloomMightContain(bloom)(TextOps.hash60(col("url")))
      val maybe = graft.CacheRegistry.persistTracked(cand.filter(probe))
      val definite = cand.filter(!probe) // row-local split of the cached rollup
      // crawled ∩ maybe, with the SLIVER broadcast: crawled is the
      // streamed probe side of a semi-join — scanned, never shuffled.
      // SIZE-GATED (the SessionCalibrator.transform discipline): the
      // sliver is true-dups + fpp·batch, and on a mature crawl most of
      // a discovery batch IS already crawled — a 5·10⁷-url sliver is an
      // executor OOM as a forced broadcast, not an optimization. The
      // probe is a limit(n+1) count against the already-persisted
      // sliver — bounded work at any size. Past the gate the hint drops
      // and the verify join shuffles BOTH sides on url — still strictly
      // cheaper than the exact plan (which shuffles crawled + ALL
      // candidates; this shuffles crawled + the sliver only), and
      // bit-identical output either way (spec-pinned at gate 0).
      val gateProbe = math.min(maxBroadcastSliver + 1,
        Int.MaxValue.toLong).toInt
      val sliverUrls = maybe.select("url")
      val hitsSide =
        if (sliverUrls.limit(gateProbe).count() <= maxBroadcastSliver)
          broadcast(sliverUrls)
        else sliverUrls
      val hits = crawledUrls.join(hitsSide, Seq("url"), "left_semi")
      definite.unionByName(maybe.join(hits, Seq("url"), "left_anti"))
    }
  }

  /** Append `title`, `text`, `n_blocks`, `n_dropped` (html column
    * dropped). See the object contract. */
  def htmlExtract(pages: DataFrame, htmlCol: String,
                  maxLinkDensity: Double = 0.5): DataFrame = {
    val keep = pages.columns.filterNot(_ == htmlCol).map(col).toSeq
    val stripped = pages.select(
      keep :+ stripNonContent(col(htmlCol)).as("_h"): _*)
    // each stage in its own Project: HOF lambdas must read attributes,
    // not re-run the regex chain per element (no CSE across HOFs)
    // title searched in the first 64 KB only: real titles live at the
    // top of the head, and bounding the search keeps the first-match
    // scan O(1) in page size on adversarial many-`<title`-no-close pages
    val segged = stripped.select(
      keep :+
        regexp_extract(substring(col("_h"), 1, 65536),
          "(?is)<title[^>]*>(.*?)</title", 1).as("_rawTitle") :+
        split(bodyOf(col("_h")), BlockTagRx).as("_segs"): _*)
    // anchor text via the split-at-opener + ^-anchored-close discipline
    // ([[stripSpansLinear]]/[[extractLinks]]): a page with NO block-level
    // tags is one huge segment, so the old whole-block lazy
    // `<a…>.*?</a>` extract_all was O(anchors × block size) on
    // unclosed-anchor single-block pages — the same measured quadratic
    // the r13 hardening removed from span removal. Each `<a` opener
    // starts its own sub-segment and the close matches ^-anchored, so
    // every block character is scanned a bounded number of times; on
    // nested anchors the INNERMOST element wins, the extractLinks rule
    // (the old scan kept the outer opener's span — same text after
    // tag-stripping except for nested-anchor pages, which the planted
    // fixtures don't contain).
    val cleaned = segged.select(
      keep :+ col("_rawTitle") :+
        transform(col("_segs"), s => struct(
          cleanFragment(s).as("t"),
          cleanFragment(array_join(
            filter(transform(split(s, "(?i)(?=<a\\b)"), seg =>
              regexp_extract(seg, "(?is)^<a\\b[^>]*>(.*?)</a\\s*>", 1)),
              x => x =!= ""), " ")).as("a")))
          .as("_blocks"): _*)
    val judged = cleaned.select(
      keep :+ col("_rawTitle") :+
        filter(col("_blocks"), b => length(b("t")) > 0).as("_ne"): _*)
    val kept = judged.select(
      keep :+ col("_rawTitle") :+ col("_ne") :+
        filter(col("_ne"),
          b => length(b("a")).cast("double") <=
            lit(maxLinkDensity) * length(b("t")).cast("double"))
          .as("_kept"): _*)
    kept.select(
      keep :+
        normalizeWs(decodeEntities(col("_rawTitle"))).as("title") :+
        array_join(transform(col("_kept"), b => b("t")), "\n").as("text") :+
        size(col("_kept")).cast("long").as("n_blocks") :+
        (size(col("_ne")) - size(col("_kept"))).cast("long")
          .as("n_dropped"): _*)
  }
}
