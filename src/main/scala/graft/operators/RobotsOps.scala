package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** robots.txt evaluation for crawl-side curation (the politeness gate a
  * web-scale ingest runs before fetching; RFC 9309 a.k.a. the Robots
  * Exclusion Protocol), with the RFC's group, wildcard, and precedence
  * semantics:
  *
  *  - lines parse as `key: value` with `#` comments stripped; keys are
  *    case-insensitive;
  *  - a GROUP is one or more consecutive `User-agent` lines followed by
  *    rule lines (all the named agents share the group's rules);
  *  - agent selection matches the crawler's product token against the
  *    LEADING product token of each `User-agent` value (up to the first
  *    `/` or whitespace), case-insensitively (§2.2.1 — so
  *    `User-agent: GraftBot/1.0` selects for agent `graftbot`); if ANY
  *    group names the agent, exactly the groups naming it apply,
  *    otherwise the `*` groups apply (combined across groups);
  *  - a rule value matches a path by PREFIX, where `*` matches any
  *    character sequence and a TRAILING `$` anchors the match to the
  *    end of the path (§2.2.2 special characters; a `$` anywhere else
  *    is a literal octet, matching the reference implementations); an
  *    empty rule value matches nothing (`Disallow:` alone = allow
  *    everything);
  *  - verdict = the matching rule with the most octets in its value as
  *    written (wildcards count — §2.2.2's longest-match in rule-octet
  *    form, as the reference parsers implement it), `Allow` winning
  *    exact-length ties; no matching rule = allowed.
  *
  * Scale shape: parsing is row-local per robots file; the evaluation is
  * one broadcast-or-shuffle equi-join of requests onto the (host, rule)
  * table — rule rows per host are robots-file-sized (tiny) — and one
  * window over the request key for the argmax. Nothing quadratic,
  * nothing driver-side.
  */
object RobotsOps {

  /** Parse robots bodies into applicable rule rows for `agent`:
    * `(host, rule_type, rule_path)` — already reduced to the groups
    * that apply to this agent (specific groups if any name it, else
    * the `*` groups). One output row per applicable rule. */
  def applicableRules(robots: DataFrame, hostCol: String, textCol: String,
                      agent: String): DataFrame =
    applicableDirectives(robots, hostCol, textCol, agent)
      .filter(col("rule_type").isin("allow", "disallow"))

  /** RFC 9309 WS is space OR tab (and a trailing \r from CRLF bodies
    * must not stick to the value) — Spark's trim() strips spaces only,
    * so whitespace is stripped with an explicit class. */
  private def wsTrim(c: Column): Column =
    regexp_replace(regexp_replace(c, "^[ \\t\\r]+", ""), "[ \\t\\r]+$", "")

  /** Parsed `key: value` lines of the robots bodies (comments stripped,
    * keys lowercased, values ws-trimmed), restricted to `keys`. */
  private def parsedLines(robots: DataFrame, hostCol: String,
                          textCol: String, keys: Seq[String]): DataFrame =
    robots.select(col(hostCol).as("host"),
        posexplode(split(col(textCol), "\n")).as(Seq("ln", "raw")))
      .withColumn("line", wsTrim(regexp_replace(col("raw"), "#.*$", "")))
      .filter(col("line") =!= "")
      .withColumn("key",
        lower(wsTrim(regexp_extract(col("line"), "^([^:]+):", 1))))
      .withColumn("value",
        wsTrim(regexp_extract(col("line"), "^[^:]+:(.*)$", 1)))
      .filter(col("key").isin(keys: _*))

  /** All GROUP-SCOPED directives applicable to `agent` — Allow/Disallow
    * rules plus the (non-RFC but ubiquitous) Crawl-delay — as
    * `(host, rule_type, rule_path)`. Group selection per §2.2.1 with
    * product-token matching; group membership is positional, so
    * non-rule directive lines ride the same window machinery. */
  private[operators] def applicableDirectives(robots: DataFrame,
                                              hostCol: String, textCol: String,
                                              agent: String): DataFrame = {
    val lined = parsedLines(robots, hostCol, textCol,
      Seq("user-agent", "allow", "disallow", "crawl-delay"))
    val wLn = Window.partitionBy("host").orderBy("ln")
    val grouped = lined
      .withColumn("_ua", col("key") === "user-agent")
      .withColumn("_starts",
        (col("_ua") && !coalesce(lag(col("_ua"), 1).over(wLn), lit(false)))
          .cast("int"))
      .withColumn("grp", sum(col("_starts")).over(wLn))
    // group membership: which agents each group names
    // §2.2.1: compare product tokens — the UA value's leading token (up
    // to the first '/' or whitespace), case-insensitive, so version- or
    // comment-bearing values like "GraftBot/1.0" still select the group
    val agents = grouped.filter(col("_ua"))
      .groupBy("host", "grp")
      .agg(max(lower(regexp_extract(col("value"), "^([^/ \\t]+)", 1))
          === agent.toLowerCase).as("g_specific"),
        max(col("value") === "*").as("g_star"))
    val hostHasSpecific = agents.groupBy("host")
      .agg(max(col("g_specific")).as("h_specific"))
    grouped.filter(!col("_ua"))
      .select(col("host"), col("grp"),
        col("key").as("rule_type"), col("value").as("rule_path"))
      .join(agents, Seq("host", "grp"))
      .join(hostHasSpecific, Seq("host"))
      .filter((col("h_specific") && col("g_specific")) ||
        (!col("h_specific") && col("g_star")))
      .select("host", "rule_type", "rule_path")
  }

  /** Per-host crawl DIRECTIVES for the scheduler side of a polite
    * crawler: `Sitemap:` URLs (host-global per the sitemaps protocol —
    * NOT group-scoped, any group position applies) and the agent's
    * applicable `Crawl-delay` (group-scoped exactly like rules;
    * non-numeric values ignored, several applicable groups resolve to
    * the MINIMUM — the conservative schedule). One row per robots host:
    * `(host, sitemaps, n_sitemaps, crawl_delay)` with sitemaps a
    * lexicographically-sorted comma join (deterministic at any
    * parallelism) and crawl_delay null when no applicable group sets
    * one. Row-local parse + two host-keyed aggregates — nothing
    * quadratic, nothing driver-side. */
  def hostDirectives(robots: DataFrame, hostCol: String, textCol: String,
                     agent: String): DataFrame = {
    val sm = parsedLines(robots, hostCol, textCol, Seq("sitemap"))
      .filter(col("value") =!= "")
      .groupBy("host")
      .agg(sort_array(collect_set(col("value"))).as("_set"))
      .select(col("host"), array_join(col("_set"), ",").as("_sitemaps"),
        size(col("_set")).cast("long").as("_n"))
    val cd = applicableDirectives(robots, hostCol, textCol, agent)
      .filter(col("rule_type") === "crawl-delay")
      .select(col("host"), expr("try_cast(rule_path AS double)").as("_d"))
      .filter(col("_d").isNotNull)
      .groupBy("host").agg(min(col("_d")).as("_delay"))
    robots.select(col(hostCol).as("host")).distinct()
      .join(sm, Seq("host"), "left")
      .join(cd, Seq("host"), "left")
      .select(col("host"),
        coalesce(col("_sitemaps"), lit("")).as("sitemaps"),
        coalesce(col("_n"), lit(0L)).as("n_sitemaps"),
        col("_delay").as("crawl_delay"))
  }

  /** SITEMAP-DOCUMENT parsing — the crawl-scheduler stage AFTER
    * [[hostDirectives]] surfaces the sitemap URLs: fetch each sitemap,
    * extract its `<url><loc>…</loc><lastmod>…</lastmod></url>` entries
    * (sitemaps.org protocol), or — for a `<sitemapindex>` document —
    * its child `<sitemap><loc>…` entries, flagged `is_index = true` so
    * the scheduler re-queues them as sitemap fetches instead of page
    * fetches. `lastmod` is the protocol's optional freshness hint
    * (null when absent) — the incremental-recrawl lever.
    *
    * Parsing is deliberately XML-lite (block split on the closing tag +
    * one anchored regex per field): entity-free well-formed sitemaps —
    * the overwhelming real-corpus shape — parse exactly, and a malformed
    * block yields no row rather than a thrown task. Row-local at any
    * corpus size: one split + two regexp_extracts per entry, no join,
    * no window, no state.
    *
    * urlset-vs-index routing is anchored on the document's ROOT element
    * (first tag after the optional XML declaration / comments / doctype),
    * not substring presence (r12 verdict #6): a urlset that merely
    * MENTIONS `<sitemapindex` — in a comment, CDATA, or a URL — must
    * still parse as a urlset. */
  def sitemapUrls(sitemaps: DataFrame, hostCol: String,
                  xmlCol: String): DataFrame = {
    val base = sitemaps.select(col(hostCol).as("host"), col(xmlCol).as("_xml"))
    def entries(frame: DataFrame, closeTag: String, isIndex: Boolean) =
      frame
        .select(col("host"), explode(split(col("_xml"), closeTag)).as("_b"))
        .select(col("host"),
          regexp_extract(col("_b"), "<loc>\\s*([^<]+?)\\s*</loc>", 1)
            .as("url"),
          regexp_extract(col("_b"), "<lastmod>\\s*([^<]+?)\\s*</lastmod>", 1)
            .as("_lm"))
        .filter(col("url") =!= "")
        .select(col("host"), col("url"),
          when(col("_lm") =!= "", col("_lm")).as("lastmod"),
          lit(isIndex).as("is_index"))
    // root element: strip leading whitespace / <?xml?> declaration /
    // <!--comments--> / <!DOCTYPE> prologue, then read the first tag name
    val root = regexp_extract(
      regexp_replace(col("_xml"),
        "(?s)^(\\s+|<\\?[^>]*>|<!--.*?-->|<![^>]*>)*", ""),
      "^<([A-Za-z0-9:_-]+)", 1)
    val idx = root === "sitemapindex"
    entries(base.filter(!idx), "</url>", isIndex = false)
      .unionByName(entries(base.filter(idx), "</sitemap>", isIndex = true))
  }

  /** Add the rule-match machinery to a rules frame carrying `rule_path`:
    * wildcard rules compile to an anchored regex ONCE per rule row (the
    * rules table is robots-file-sized, tiny next to the request join) —
    * regex metachars escaped, `*` → `.*`, a trailing `$` kept as the end
    * anchor. Prefix-only rules (the overwhelming majority in real
    * corpora) keep the cheap codegen'd startsWith path. */
  private[operators] def withRuleMatcher(rules: DataFrame): DataFrame = {
    val anchored = col("rule_path").endsWith("$")
    val core = when(anchored,
        expr("substring(rule_path, 1, length(rule_path) - 1)"))
      .otherwise(col("rule_path"))
    val rx = concat(lit("^"),
      regexp_replace(
        regexp_replace(core, "([\\\\.\\[\\]\\{\\}\\(\\)\\+\\^\\$\\|\\?])", "\\\\$1"),
        "\\*", ".*"),
      when(anchored, lit("$")).otherwise(lit("")))
    rules
      .withColumn("_wild", col("rule_path").contains("*") || anchored)
      .withColumn("_rx", when(col("rule_path").contains("*") || anchored, rx))
  }

  /** The match predicate over a frame carrying `path` and the
    * [[withRuleMatcher]] columns — an empty rule matches nothing. */
  private[operators] def ruleMatches: Column =
    col("rule_path") =!= "" &&
      when(col("_wild"), expr("path RLIKE _rx"))
        .otherwise(col("path").startsWith(col("rule_path")))

  /** Evaluate requests `(reqId, host, path)` against robots bodies
    * `(host, robotsText)` for `agent`: adds `allowed`, `rule_type`,
    * `rule_path` (nulls when no rule matched — the default-allow case).
    * Hosts with no robots row are allowed (the fetch-404 convention). */
  def evaluate(robots: DataFrame, hostCol: String, textCol: String,
               requests: DataFrame, reqIdCol: String, reqHostCol: String,
               pathCol: String, agent: String): DataFrame = {
    val rules = withRuleMatcher(
      applicableRules(robots, hostCol, textCol, agent))
    val req = requests.select(col(reqIdCol).as("req"),
      col(reqHostCol).as("host"), col(pathCol).as("path"))
    // the verdict key is the full (req, host, path) — a reqId reused
    // across several requests must not have one row's winning rule
    // fanned onto the others
    val matched = req.join(rules, Seq("host"))
      .filter(ruleMatches)
      // longest rule wins; Allow beats Disallow on equal length
      .withColumn("_rn", row_number().over(
        Window.partitionBy("req", "host", "path")
          .orderBy(length(col("rule_path")).desc,
            (col("rule_type") === "allow").desc, col("rule_path"))))
      .filter(col("_rn") === 1)
      .select(col("req"), col("host"), col("path"),
        col("rule_type"), col("rule_path"))
    req.join(matched, Seq("req", "host", "path"), "left")
      .select(col("req"), col("host"), col("path"),
        (col("rule_type").isNull || col("rule_type") === "allow")
          .as("allowed"),
        col("rule_type"), col("rule_path"))
  }
}
