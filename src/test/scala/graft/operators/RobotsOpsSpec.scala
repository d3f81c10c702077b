package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RobotsOpsSpec extends SparkSpec {
  import spark.implicits._

  private def verdicts(robotsBody: String,
                       paths: Seq[String]): Map[String, (Boolean, Option[String], Option[String])] = {
    val robots = Seq(("h1", robotsBody)).toDF("host", "robots")
    val req = paths.zipWithIndex
      .map { case (p, i) => (i.toLong, "h1", p) }
      .toDF("rid", "host", "path")
    RobotsOps.evaluate(robots, "host", "robots", req, "rid", "host", "path",
        agent = "graftbot")
      .collect().map(r => r.getString(2) -> ((r.getBoolean(3),
        Option(r.getString(4)), Option(r.getString(5))))).toMap
  }

  test("RFC semantics: longest match, Allow tie-break, empty Disallow") {
    val body =
      """# header comment
        |User-agent: *
        |Disallow: /a
        |Allow: /a/ok
        |Disallow:
        |Allow: /t
        |Disallow: /t
        |""".stripMargin
    val v = verdicts(body, Seq("/", "/a/x", "/a/ok/y", "/t/z", "/b"))
    assert(v("/") == ((true, None, None)))               // no match: allow
    assert(v("/a/x") == ((false, Some("disallow"), Some("/a"))))
    assert(v("/a/ok/y") == ((true, Some("allow"), Some("/a/ok")))) // longest
    assert(v("/t/z") == ((true, Some("allow"), Some("/t")))) // tie → allow
    assert(v("/b") == ((true, None, None)))              // empty Disallow: no-op
  }

  test("agent specificity: a graftbot group replaces the * rules") {
    val body =
      """User-agent: *
        |Disallow: /
        |
        |USER-AGENT: GraftBot
        |Disallow: /only
        |""".stripMargin
    val v = verdicts(body, Seq("/anything", "/only/x"))
    assert(v("/anything") == ((true, None, None)),
      "star rules must not apply when a specific group exists")
    assert(v("/only/x") == ((false, Some("disallow"), Some("/only"))))
  }

  test("consecutive UA lines share one group; trailing comments strip") {
    val body =
      """User-agent: otherbot
        |User-agent: *
        |Disallow: /x # keep out
        |""".stripMargin
    val v = verdicts(body, Seq("/x/1", "/y"))
    assert(v("/x/1") == ((false, Some("disallow"), Some("/x"))))
    assert(v("/y") == ((true, None, None)))
  }

  test("tab/CRLF whitespace strips (RFC WS is space or tab)") {
    val body = "User-agent: *\r\nDisallow:\t/private\r\n\tAllow: /private/ok\r\n"
    val v = verdicts(body, Seq("/private/x", "/private/ok/y"))
    assert(v("/private/x") == ((false, Some("disallow"), Some("/private"))))
    assert(v("/private/ok/y") == ((true, Some("allow"), Some("/private/ok"))))
  }

  test("wildcards: * matches any chars, trailing $ anchors the end") {
    val body =
      """User-agent: *
        |Disallow: /*.zip$
        |Disallow: /tmp*/x
        |Allow: /tmp-ok/x
        |""".stripMargin
    val v = verdicts(body, Seq(
      "/files/a.zip",      // * spans directories, $ anchors
      "/files/a.zip.html", // $ must NOT match mid-path
      "/tmp123/x",         // mid-pattern *
      "/tmp-ok/x",         // allow (9 octets) beats /tmp*/x (7 octets)
      "/tmp"))             // prefix of the pattern, not a match
    assert(v("/files/a.zip") == ((false, Some("disallow"), Some("/*.zip$"))))
    assert(v("/files/a.zip.html") == ((true, None, None)))
    assert(v("/tmp123/x") == ((false, Some("disallow"), Some("/tmp*/x"))))
    assert(v("/tmp-ok/x") == ((true, Some("allow"), Some("/tmp-ok/x"))))
    assert(v("/tmp") == ((true, None, None)))
  }

  test("wildcard precedence: rule-octet length, wildcards counted") {
    val body =
      """User-agent: *
        |Allow: /a/b/c
        |Disallow: /a/*/c/d$
        |""".stripMargin
    // the wildcard disallow (9 octets) outranks the literal allow (6)
    val v = verdicts(body, Seq("/a/b/c/d", "/a/b/c/e"))
    assert(v("/a/b/c/d") == ((false, Some("disallow"), Some("/a/*/c/d$"))))
    assert(v("/a/b/c/e") == ((true, Some("allow"), Some("/a/b/c"))))
  }

  test("a mid-pattern $ is a literal octet; regex metachars stay literal") {
    val body =
      """User-agent: *
        |Disallow: /cgi$bin/
        |Disallow: /q?(x)+[y]
        |""".stripMargin
    val v = verdicts(body, Seq("/cgi$bin/z", "/cgibin/z", "/q?(x)+[y]z"))
    assert(v("/cgi$bin/z")._1 == false, "literal $ must match itself")
    assert(v("/cgibin/z")._1 == true, "mid-pattern $ is not a wildcard")
    assert(v("/q?(x)+[y]z")._1 == false, "regex metachars are literals")
  }

  test("agent matching is by product token (UA value with version tail)") {
    val body =
      """User-agent: *
        |Disallow: /
        |
        |User-agent: GraftBot/1.0
        |Disallow: /only
        |""".stripMargin
    val v = verdicts(body, Seq("/anything", "/only/x"))
    assert(v("/anything") == ((true, None, None)),
      "versioned UA value must still select the specific group")
    assert(v("/only/x") == ((false, Some("disallow"), Some("/only"))))
    // a DIFFERENT product token must not match (no substring matching)
    val v2 = verdicts("User-agent: graftbotx\nDisallow: /\n", Seq("/p"))
    assert(v2("/p") == ((true, None, None)),
      "graftbotx is a different product token than graftbot")
  }

  test("property: column matcher ≡ the recursive glob definition (800 random pairs)") {
    // independent reference: the RFC's match semantics stated directly as
    // a recursion (no regex anywhere) — `*` any chars, trailing `$`
    // anchors, empty rule matches nothing, everything else literal
    def m(r: List[Char], p: List[Char], anchored: Boolean): Boolean =
      (r, p) match {
        case (Nil, Nil) => true
        case (Nil, _) => !anchored
        case ('*' :: rt, _) =>
          m(rt, p, anchored) || (p.nonEmpty && m(r, p.tail, anchored))
        case (rc :: rt, pc :: pt) if rc == pc => m(rt, pt, anchored)
        case _ => false
      }
    def refMatch(rule: String, path: String): Boolean =
      rule.nonEmpty && {
        val anchored = rule.endsWith("$")
        val core = if (anchored) rule.dropRight(1) else rule
        m(core.toList, path.toList, anchored)
      }
    val rnd = new scala.util.Random(11)
    // alphabet deliberately collides literals with regex metachars and
    // the two special glob chars, so escaping bugs can't hide
    val alpha = "ab/*$.([+?\\"
    def str(maxLen: Int): String =
      (0 until rnd.nextInt(maxLen + 1))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val cases = Seq.tabulate(800)(_ => (str(8), str(8)))
    val df = cases.toDF("rule_path", "path")
    val got = RobotsOps.withRuleMatcher(df)
      .withColumn("_hit", RobotsOps.ruleMatches)
      .select("rule_path", "path", "_hit")
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    got.foreach { case (rule, path, hit) =>
      assert(hit == refMatch(rule, path),
        s"matcher disagrees with the glob definition on rule='$rule' path='$path': " +
          s"engine=$hit ref=${refMatch(rule, path)}")
    }
  }

  test("a reqId reused across requests keeps per-(host,path) verdicts") {
    val robots = Seq(("a.com", "User-agent: *\nDisallow: /private\n"))
      .toDF("host", "robots")
    val req = Seq((1L, "a.com", "/private/x"), (1L, "b.com", "/ok"))
      .toDF("rid", "host", "path")
    val out = RobotsOps.evaluate(robots, "host", "robots",
        req, "rid", "host", "path", "graftbot")
      .collect().map(r => r.getString(1) -> r.getBoolean(3)).toMap
    assert(out == Map("a.com" -> false, "b.com" -> true),
      "one request's verdict must not fan onto the other")
  }

  test("hostDirectives: global sitemaps, group-scoped crawl-delay, min rule") {
    val body =
      """Sitemap: https://h1/s2.xml
        |User-agent: *
        |Crawl-delay: 4
        |Disallow: /x
        |Sitemap: https://h1/s1.xml
        |Sitemap: https://h1/s2.xml # duplicate collapses
        |
        |User-agent: graftbot
        |Crawl-delay: soon
        |Crawl-delay: 2.5
        |Crawl-delay: 3.0
        |""".stripMargin
    val robots = Seq(("h1", body), ("h2", "User-agent: *\nDisallow:\n"))
      .toDF("host", "robots")
    val out = RobotsOps.hostDirectives(robots, "host", "robots", "graftbot")
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    // sitemaps are host-global (any position), sorted, deduped; the
    // crawl-delay comes from the SPECIFIC group only (star's 4 ignored),
    // min across its parseable values, 'soon' skipped
    assert(out("h1") ==
      (("https://h1/s1.xml,https://h1/s2.xml", 2L, Some(2.5))))
    assert(out("h2") == (("", 0L, None)))
    graft.CacheRegistry.releaseAll()
  }

  test("missing robots host defaults to allowed") {
    val robots = Seq(("other", "User-agent: *\nDisallow: /")).toDF("host", "robots")
    val req = Seq((1L, "h1", "/p")).toDF("rid", "host", "path")
    val out = RobotsOps.evaluate(robots, "host", "robots",
        req, "rid", "host", "path", "graftbot").collect().head
    assert(out.getBoolean(3) && out.isNullAt(4))
    graft.CacheRegistry.releaseAll()
  }

  test("sitemapUrls: urlset vs index, whitespace strip, malformed blocks") {
    val urlset =
      """<?xml version="1.0"?><urlset>
        |<url><loc>https://a.com/p1</loc><lastmod>2026-02-15</lastmod></url>
        |<url><loc>  https://a.com/p2  </loc></url>
        |<url><lastmod>2026-01-01</lastmod></url>
        |<url><loc></loc></url>
        |</urlset>""".stripMargin
    val index =
      """<sitemapindex>
        |<sitemap><loc>https://b.com/sm1.xml</loc></sitemap>
        |<sitemap><loc>https://b.com/sm2.xml</loc><lastmod>2025-12-31</lastmod></sitemap>
        |</sitemapindex>""".stripMargin
    val out = RobotsOps.sitemapUrls(
        Seq(("a.com", urlset), ("b.com", index)).toDF("host", "xml"),
        "host", "xml")
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)), r.getBoolean(3))).toSet
    assert(out == Set(
      // lastmod attaches to ITS url block only; whitespace-padded loc
      // is stripped; loc-less and empty-loc blocks yield NO row
      ("a.com", "https://a.com/p1", Some("2026-02-15"), false),
      ("a.com", "https://a.com/p2", None, false),
      ("b.com", "https://b.com/sm1.xml", None, true),
      ("b.com", "https://b.com/sm2.xml", Some("2025-12-31"), true)),
      s"got $out")
  }

  test("sitemapUrls routes on the ROOT element, not substring presence") {
    // r12 verdict #6: a urlset that merely MENTIONS '<sitemapindex' (in a
    // comment or a loc) must still parse as a urlset; an index document
    // behind a prologue (declaration + comment + doctype) still routes
    // to the index arm
    val trapUrlset =
      """<?xml version="1.0"?>
        |<!-- mirrors the <sitemapindex> at /idx.xml -->
        |<urlset>
        |<url><loc>https://a.com/see-sitemapindex-docs</loc></url>
        |</urlset>""".stripMargin
    val prologueIndex =
      """  <?xml version="1.0" encoding="UTF-8"?>
        |<!-- generated nightly --><!DOCTYPE sitemapindex>
        |<sitemapindex>
        |<sitemap><loc>https://b.com/sm1.xml</loc></sitemap>
        |</sitemapindex>""".stripMargin
    val out = RobotsOps.sitemapUrls(
        Seq(("a.com", trapUrlset), ("b.com", prologueIndex))
          .toDF("host", "xml"), "host", "xml")
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(3)))
      .toSet
    assert(out == Set(
      ("a.com", "https://a.com/see-sitemapindex-docs", false),
      ("b.com", "https://b.com/sm1.xml", true)), s"got $out")
  }
}
