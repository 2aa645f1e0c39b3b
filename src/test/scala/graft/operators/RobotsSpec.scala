package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RobotsSpec extends AnyFunSuite with SparkSpec {

  private def robotsDf = {
    val s = spark
    import s.implicits._
    Seq(
      ("ha", """# exact group wins over *
               |User-agent: graftbot
               |Disallow: /private/
               |Allow: /private/ok/
               |Disallow: /*.tmp$
               |Disallow: /a.b/
               |
               |User-agent: *
               |Disallow: /""".stripMargin),
      ("hb", """User-agent: OtherBot
               |User-agent: *
               |Disallow: /blocked/
               |Allow:
               |Crawl-delay: 10""".stripMargin),
      ("hc", "")
    ).toDF("host", "body")
  }

  test("directives: grouping, exact-vs-* selection, wildcard/anchor compilation") {
    val d = Robots.directives(robotsDf, "host", col("body"), "graftbot")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // ha: only the graftbot group's rules; hb: the (OtherBot, *) group
    // (consecutive ua lines share it); hc contributes nothing; the
    // empty Allow: and unknown Crawl-delay are dropped
    assert(d === Set(
      ("ha", "disallow", "/private/"),
      ("ha", "allow", "/private/ok/"),
      ("ha", "disallow", "/*.tmp$"),
      ("ha", "disallow", "/a.b/"),
      ("hb", "disallow", "/blocked/")))
  }

  test("directives: RFC 9309 longest-prefix tier, non-prefix rejection, tie combining") {
    val s = spark
    import s.implicits._
    val df = Seq(
      // prefix group (graft ⊏ graftbot) beats the * fallback
      ("hp", "User-agent: graft\nDisallow: /g/\n\nUser-agent: *\nDisallow: /s/"),
      // exact match is the longest prefix — beats the shorter prefix group
      ("hq", "User-agent: graft\nDisallow: /g/\n\nUser-agent: graftbot\nDisallow: /x/"),
      // graftbot-news is NOT a prefix of the token graftbot -> falls to *
      ("hr", "User-agent: graftbot-news\nDisallow: /news/\n\nUser-agent: *\nDisallow: /s/"),
      // two groups tie at the winning length -> combined (RFC 9309)
      ("ht", "User-agent: graftbot\nDisallow: /1/\n\nUser-agent: GRAFTBOT\nDisallow: /2/")
    ).toDF("host", "body")
    val d = Robots.directives(df, "host", col("body"), "graftbot")
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(d === Set(("hp", "/g/"), ("hq", "/x/"), ("hr", "/s/"),
      ("ht", "/1/"), ("ht", "/2/")))
  }

  test("directives: duplicate host rows parse independently (union of each body's rules)") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("hd", "User-agent: graftbot\nDisallow: /a/"),
      ("hd", "User-agent: *\nDisallow: /b/")
    ).toDF("host", "body")
    val d = Robots.directives(df, "host", col("body"), "graftbot")
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    // row 1 selects its graftbot group, row 2 (no prefix match in ITS
    // body) selects its * group — deterministic union, no interleaving
    assert(d === Set(("hd", "/a/"), ("hd", "/b/")))
  }

  test("crawlDelay: tier-selected, max-of-selected, fractional millis, non-numeric ignored") {
    val s = spark
    import s.implicits._
    val df = Seq(
      // selected graftbot group's 2.5 s wins; the * group's 10 is not selected
      ("ha", "User-agent: graftbot\nDisallow: /x/\nCrawl-delay: 2.5\n\n" +
        "User-agent: *\nCrawl-delay: 10"),
      // two tied selected groups -> max (most conservative)
      ("hb", "User-agent: graftbot\nCrawl-delay: 1\n\n" +
        "User-agent: GRAFTBOT\nCrawl-delay: 3"),
      // selected group has a malformed value -> ignored, host absent
      ("hc", "User-agent: *\nCrawl-delay: soon"),
      // no delay anywhere -> absent
      ("hd", "User-agent: *\nDisallow: /")
    ).toDF("host", "body")
    val got = Robots.crawlDelay(df, "host", col("body"), "graftbot")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("ha" -> 2500L, "hb" -> 3000L))
  }

  test("crawlDelay: pathological values clamp to the 3600 s ceiling, never overflow") {
    val s = spark
    import s.implicits._
    val df = Seq(
      // past the cap but castable
      ("ha", "User-agent: *\nCrawl-delay: 7200"),
      // 16-digit run: would be a ~317-year delay and overflow
      // fetch_at arithmetic (r11 ADVICE) -> clamps
      ("hb", "User-agent: *\nCrawl-delay: 9999999999999999"),
      // longer than decimal(18,3) can even hold -> clamps, no error
      ("hc", "User-agent: *\nCrawl-delay: 99999999999999999999999"),
      // under the cap: untouched
      ("hd", "User-agent: *\nCrawl-delay: 3599.5")
    ).toDF("host", "body")
    val got = Robots.crawlDelay(df, "host", col("body"), "graftbot")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("ha" -> 3600000L, "hb" -> 3600000L,
      "hc" -> 3600000L, "hd" -> 3599500L))
  }

  test("hosts are case-insensitive: dimension keys lowercase, URL hosts lowered to match") {
    val s = spark
    import s.implicits._
    val robots = Seq(
      ("Example.ORG", "User-agent: *\nDisallow: /x/\nCrawl-delay: 2")
    ).toDF("host", "body")
    val d = Robots.directives(robots, "host", col("body"), "graftbot")
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(d === Set(("example.org", "/x/")))
    val cd = Robots.crawlDelay(robots, "host", col("body"), "graftbot")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cd === Map("example.org" -> 2000L))
    // an uppercase-scheme, mixed-case-host URL still meets the rules
    val urls = Seq((1L, "HTTP://EXAMPLE.org/x/1"), (2L, "http://example.org/ok"))
      .toDF("id", "url")
    val got = Robots.allowed(urls, "id", col("url"), robots, "host",
      col("body"), agent = "graftbot")
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getBoolean(3)))).toMap
    assert(got(1L) === (("example.org", false)))
    assert(got(2L) === (("example.org", true)))
  }

  test("identical (host, body) duplicate rows collapse; distinct bodies still union") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("hd", "User-agent: graftbot\nDisallow: /a/"),
      ("hd", "User-agent: graftbot\nDisallow: /a/"), // exact duplicate
      ("hd", "User-agent: *\nDisallow: /b/")
    ).toDF("host", "body")
    val d = Robots.directives(df, "host", col("body"), "graftbot")
      .collect().map(r => (r.getString(0), r.getString(2)))
    // the duplicate body contributes ONE copy of its rule set
    assert(d.sorted === Seq(("hd", "/a/"), ("hd", "/b/")))
  }

  test("crawl-delay is a group member: it terminates a user-agent run (RFC grammar)") {
    val s = spark
    import s.implicits._
    // the delay line between the two ua lines ends agent-a's run, so
    // * starts a NEW group; for graftbot (no prefix match on 'a') the
    // * group is selected -> /x applies, and a's 5 s delay does NOT
    val df = Seq(
      ("he", "User-agent: a\nCrawl-delay: 5\nUser-agent: *\nDisallow: /x/")
    ).toDF("host", "body")
    val rules = Robots.directives(df, "host", col("body"), "graftbot")
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(rules === Set(("he", "/x/")))
    assert(Robots.crawlDelay(df, "host", col("body"), "graftbot").isEmpty)
  }

  test("allowed: longest-match, allow-on-tie-beats, wildcard, anchor, literal dot, missing host") {
    val s = spark
    import s.implicits._
    val urls = Seq(
      (1L, "http://ha/private/x"),      // disallow /private/
      (2L, "http://ha/private/ok/y"),   // longer allow wins
      (3L, "http://ha/file.tmp"),       // /*.tmp$ wildcard+anchor
      (4L, "http://ha/file.tmp?x=1"),   // $ anchors past the query -> no match
      (5L, "http://ha/a.b/z"),          // literal-dot rule
      (6L, "http://ha/aXb/z"),          // '.' must NOT act as regex any-char
      (7L, "http://ha/pub"),            // exact group selected: *'s "/" ignored
      (8L, "http://ha"),                // bare origin evaluates as "/"
      (9L, "http://hb/blocked/1"),      // * group via the shared-ua group
      (10L, "http://hb/ok"),
      (11L, "http://hc/anything"),      // empty robots
      (12L, "http://hd/no-robots")      // host absent from the table
    ).toDF("id", "url")
    val got = Robots.allowed(urls, "id", col("url"), robotsDf, "host",
      col("body"), agent = "GraftBot")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(3), Option(r.getString(5)).getOrElse("")))).toMap
    assert(got(1L) === ((false, "/private/")))
    assert(got(2L) === ((true, "/private/ok/")))
    assert(got(3L) === ((false, "/*.tmp$")))
    assert(got(4L) === ((true, "")))
    assert(got(5L) === ((false, "/a.b/")))
    assert(got(6L) === ((true, "")))
    assert(got(7L) === ((true, "")))
    assert(got(8L) === ((true, "")))
    assert(got(9L) === ((false, "/blocked/")))
    assert(got(10L) === ((true, "")))
    assert(got(11L) === ((true, "")))
    assert(got(12L) === ((true, "")))
    assert(got.size === 12) // one verdict row per input URL
  }
}
