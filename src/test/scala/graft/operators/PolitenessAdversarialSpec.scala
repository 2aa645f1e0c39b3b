package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial-fixture battery for the politeness family.
  *
  * The gate fixtures are synthesized from `%k` residue arithmetic, so
  * engine and oracle share the fixture's blind spots by construction —
  * the r11 nofollow `\b` bug and the r12 relative-Location gap both
  * lived exactly there. Each case here asserts behavior a real crawl
  * sees constantly but the synthetic residues never generate, and each
  * is justified by a spec line (RFC 9309, RFC 3986, sitemaps.org).
  * Redirect-resolution adversarial cases live in [[WebGraphSpec]]
  * (relative Location forms, exactly-maxHops settle).
  */
class PolitenessAdversarialSpec extends AnyFunSuite with SparkSpec {

  // RFC 9309 §2.1: "lines [are] delimited by either CR, LF, or
  // CR-followed-by-LF" — real servers emit CRLF; a \n-only split
  // leaves \r glued to every rule path (and Spark's trim strips
  // 0x20 only), silently breaking every pattern match.
  test("robots: CRLF and lone-CR bodies parse identically to LF bodies") {
    val s = spark
    import s.implicits._
    def verdict(body: String): Map[String, Boolean] = {
      val robots = Seq(("a.x", body)).toDF("host", "body")
      val urls = Seq((1L, "http://a.x/private/doc"),
        (2L, "http://a.x/public/doc")).toDF("id", "url")
      Robots.allowed(urls, "id", col("url"), robots, "host", col("body"),
          agent = "graftbot")
        .collect().map(r => r.getString(1) -> r.getBoolean(3)).toMap
    }
    val lf = verdict("User-agent: *\nDisallow: /private/\n")
    val crlf = verdict("User-agent: *\r\nDisallow: /private/\r\n")
    val cr = verdict("User-agent: *\rDisallow: /private/\r")
    assert(lf === Map("http://a.x/private/doc" -> false,
      "http://a.x/public/doc" -> true))
    assert(crlf === lf)
    assert(cr === lf)
  }

  // RFC 9309 §2.3: the file MUST be UTF-8 — a leading BOM is encoding
  // machinery. Unstripped, it corrupts the FIRST line's key, which is
  // almost always `User-agent`, losing the entire first group.
  test("robots: a UTF-8 BOM does not eat the first User-agent line") {
    val s = spark
    import s.implicits._
    val robots = Seq(("a.x", "\uFEFFUser-agent: *\nDisallow: /private/\n"))
      .toDF("host", "body")
    val urls = Seq((1L, "http://a.x/private/doc")).toDF("id", "url")
    val got = Robots.allowed(urls, "id", col("url"), robots, "host",
        col("body"), agent = "graftbot")
      .collect().map(r => r.getBoolean(3))
    assert(got === Array(false))
  }

  // RFC 9309 §2.2.4 files Crawl-delay under "other records"; the same
  // CRLF contract applies to its value — "2.5\r" must not fail the
  // numeric grammar and silently drop the host's delay.
  test("robots: crawl-delay survives CRLF line endings") {
    val s = spark
    import s.implicits._
    val robots = Seq(
      ("a.x", "User-agent: *\r\nDisallow: /x/\r\nCrawl-delay: 2.5\r\n"))
      .toDF("host", "body")
    val got = Robots.crawlDelay(robots, "host", col("body"),
        agent = "graftbot")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a.x" -> 2500L))
  }

  // RFC 9309 §2.3 again, via the Sitemap extension: a CRLF body must
  // not leave \r glued to the declared sitemap URL (it would 404 the
  // sitemap fetch), and the BOM must not hide a first-line Sitemap.
  test("sitemap declarations: CRLF values are clean; BOM-leading declaration survives") {
    val s = spark
    import s.implicits._
    val robots = Seq(
      ("a.x", "Sitemap: http://a.x/sm.xml\r\nUser-agent: *\r\n"),
      ("b.x", "\uFEFFSitemap: http://b.x/sm.xml\n"))
      .toDF("host", "body")
    val got = Sitemaps.declarations(robots, "host", col("body"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("a.x" -> "http://a.x/sm.xml",
      "b.x" -> "http://b.x/sm.xml"))
  }

  // sitemaps.org: "all data values in a Sitemap must be
  // entity-escaped" — a URL containing a literal `&lt;` arrives as
  // `&amp;lt;`. Decoding amp first would double-decode it to `<`;
  // the contract decodes amp LAST.
  test("sitemap entries: double-escaped entities decode once, not twice") {
    val s = spark
    import s.implicits._
    val xml = Seq(("h",
      "<urlset><url><loc>http://a.x/p?q=&amp;lt;tag&amp;gt;&amp;amp;x</loc></url></urlset>"))
      .toDF("host", "xml")
    val got = Sitemaps.entries(xml, "host", col("xml"))
      .collect().map(_.getString(2))
    assert(got === Array("http://a.x/p?q=&lt;tag&gt;&amp;x"))
  }

  // XML names are case-sensitive, but real sitemap emitters disagree
  // with themselves; the documented XML-lite contract matches element
  // names case-insensitively (the (?is) grammar the oracle replays).
  test("sitemap entries: uppercase element names match the case-insensitive grammar") {
    val s = spark
    import s.implicits._
    val xml = Seq(("h",
      "<URLSET><URL><LOC> http://a.x/up </LOC><PRIORITY>0.8</PRIORITY></URL></URLSET>"))
      .toDF("host", "xml")
    val got = Sitemaps.entries(xml, "host", col("xml"))
      .collect().map(r => (r.getString(2),
        if (r.isNullAt(5)) -1L else r.getLong(5)))
    assert(got === Array(("http://a.x/up", 800L)))
  }

  // RFC 3986 §6.2.3: default ports and empty paths are
  // scheme-normalization equivalences — `http://A.X:80` and
  // `http://a.x/` are the same resource; a seed respelling its
  // discovered twin that way must merge, not double-fetch.
  test("mergeSeeds: default-port / empty-path / fragment respellings merge to one fetch") {
    val s = spark
    import s.implicits._
    val discovered = Seq("http://a.x/", "http://b.x/p").toDF("url")
    val seeds = Seq(("http://A.X:80", Some(500L)),
      ("http://b.x/p#frag", None: Option[Long])).toDF("loc", "pm")
    val got = Frontier.mergeSeeds(discovered, col("url"), seeds,
        col("loc"), col("pm"))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(got === Map("http://a.x/" -> "both", "http://b.x/p" -> "both"))
  }
}
