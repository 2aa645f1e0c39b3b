package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SitemapsSpec extends AnyFunSuite with SparkSpec {

  test("declarations: file-wide, position-free, repeatable, comment-stripped") {
    val s = spark
    import s.implicits._
    val df = Seq(
      // before any group (where a rule would be dead), plus a second
      // one INSIDE a group — both count; key is case-insensitive
      ("ha", "Sitemap: http://ha/s1.xml\nUser-agent: *\nDisallow: /x/\n" +
        "SITEMAP: http://ha/s2.xml # trailing comment"),
      ("hb", "User-agent: *\nDisallow: /\nSitemap:\n"), // empty value dropped
      ("hc", "# no declarations at all\nUser-agent: *\nAllow: /")
    ).toDF("host", "body")
    val got = Sitemaps.declarations(df, "host", col("body"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("ha", "http://ha/s1.xml"), ("ha", "http://ha/s2.xml")))
  }

  test("entries: field extraction, entity decode, decimal priority, index blocks, empty loc dropped") {
    val s = spark
    import s.implicits._
    val urlset = "<urlset>" +
      "<url><loc> http://e.x/a?p=1&amp;q=2 </loc><lastmod>2024-01-05</lastmod>" +
      "<changefreq>daily</changefreq><priority>0.8</priority></url>" +
      "<url><loc>http://e.x/&lt;b&gt;</loc></url>" +
      "<URL><LOC>http://e.x/c</LOC><PRIORITY>0.55</PRIORITY></URL>" +
      "<url><loc></loc><priority>0.1</priority></url>" + // no loc -> dropped
      "</urlset>"
    val index = "<sitemapindex>" +
      "<sitemap><loc>http://e.x/s1.xml</loc><lastmod>2024-02-01</lastmod></sitemap>" +
      "</sitemapindex>"
    val got = Sitemaps.entries(
      Seq((1L, urlset), (2L, index)).toDF("id", "xml"), "id", col("xml"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getString(2),
        r.getString(3), r.getString(4),
        if (r.isNullAt(5)) -1L else r.getLong(5), r.getBoolean(6)))).toMap
    // &amp; decoded, loc trimmed; priority 0.8 -> exactly 800
    assert(got((1L, 1L)) ===
      (("http://e.x/a?p=1&q=2", "2024-01-05", "daily", 800L, false)))
    // entity-encoded angle brackets decode; absent fields empty/null
    assert(got((1L, 2L)) === (("http://e.x/<b>", "", "", -1L, false)))
    // case-insensitive tags; 0.55 -> exactly 550 (decimal, not double)
    assert(got((1L, 3L)) === (("http://e.x/c", "", "", 550L, false)))
    // the no-loc block held position 4 and was dropped
    assert(!got.contains((1L, 4L)))
    // index entries flagged; entry numbering restarts per document
    assert(got((2L, 1L)) ===
      (("http://e.x/s1.xml", "2024-02-01", "", -1L, true)))
    assert(got.size === 4)
  }

  test("lastmodMillis: every W3C datetime form; out-of-grammar and invalid dates yield null") {
    val s = spark
    import s.implicits._
    // expected values verified against DuckDB epoch_ms(TIMESTAMPTZ) —
    // this spec IS the cross-engine pin for the q256 oracle
    val cases = Seq(
      ("2024", 1704067200000L),
      ("2024-03", 1709251200000L),
      ("2024-03-15", 1710460800000L),
      ("2024-03-15T10:30Z", 1710498600000L),
      ("2024-03-15T10:30:45+02:00", 1710491445000L),
      ("2024-03-15T10:30:45.5-05:30", 1710518445500L),
      ("not a date", -1L),
      ("2024-13-45", -1L),       // grammar-shaped but not a real date
      ("2024-03-15 10:30:45", -1L), // space form is not in the grammar
      ("2024-03-15T10:30", -1L), // time without mandatory TZD
      ("", -1L)
    )
    val got = cases.map(_._1).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("i", "v")
      .select(col("i"), Sitemaps.lastmodMillis(col("v")).as("ms"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    cases.zipWithIndex.foreach { case ((v, exp), i) =>
      assert(got(i.toLong) === exp, s"lastmod '$v'")
    }
  }

  test("recrawlDueMillis: period table, always=0, never/unknown/null propagate null") {
    val s = spark
    import s.implicits._
    val base = 1710460800000L
    val cases = Seq(
      (Some(base), "always", base),
      (Some(base), "hourly", base + 3600000L),
      (Some(base), "DAILY", base + 86400000L), // case-insensitive
      (Some(base), "weekly", base + 604800000L),
      (Some(base), "monthly", base + 2592000000L),
      (Some(base), "yearly", base + 31536000000L),
      (Some(base), "never", -1L),
      (Some(base), "", -1L),
      (Some(base), "sometimes", -1L),
      (None: Option[Long], "daily", -1L)
    )
    val got = cases.zipWithIndex
      .map { case ((ms, f, _), i) => (i.toLong, ms, f) }
      .toDF("i", "ms", "f")
      .select(col("i"),
        Sitemaps.recrawlDueMillis(col("ms"), col("f")).as("due"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    cases.zipWithIndex.foreach { case ((_, f, exp), i) =>
      assert(got(i.toLong) === exp, s"changefreq '$f'")
    }
  }

  private def expandRows(docs: Seq[(String, String)]) = {
    val s = spark
    import s.implicits._
    Sitemaps.expand(docs.toDF("u", "xml"), "u", col("xml"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        Option(r.getString(6)).getOrElse(""), r.getBoolean(7)))
      .toSet
  }

  test("expand: followed child carries via_index, missing child is the unresolved work list") {
    val idx = "<sitemapindex>" +
      "<sitemap><loc>http://e.x/part.xml</loc></sitemap>" +
      "<sitemap><loc>http://e.x/missing.xml</loc></sitemap>" +
      "</sitemapindex>"
    val part = "<urlset><url><loc>http://e.x/a</loc></url>" +
      "<url><loc>http://e.x/b</loc></url></urlset>"
    assert(expandRows(Seq(("http://e.x/sitemap.xml", idx),
      ("http://e.x/part.xml", part))) === Set(
      // child's url rows, provenance = the referencing index
      ("http://e.x/part.xml", 1L, "http://e.x/a", "http://e.x/sitemap.xml", true),
      ("http://e.x/part.xml", 2L, "http://e.x/b", "http://e.x/sitemap.xml", true),
      // the followed <sitemap> entry is dropped; the missing one stays
      ("http://e.x/sitemap.xml", 2L, "http://e.x/missing.xml", "", false)))
  }

  test("expand: standalone urlset is top-level (null via_index); nested index entry surfaces unresolved with its own provenance") {
    val root = "<sitemapindex><sitemap><loc>http://e.x/nested.xml</loc></sitemap></sitemapindex>"
    val nested = "<sitemapindex><sitemap><loc>http://e.x/deep.xml</loc></sitemap></sitemapindex>"
    val solo = "<urlset><url><loc>http://e.x/s1</loc></url></urlset>"
    assert(expandRows(Seq(("http://e.x/sitemap.xml", root),
      ("http://e.x/nested.xml", nested),
      ("http://e.x/solo.xml", solo))) === Set(
      // one-hop only: nested's own entry is NOT followed further, and
      // its provenance is the root that referenced nested
      ("http://e.x/nested.xml", 1L, "http://e.x/deep.xml", "http://e.x/sitemap.xml", false),
      ("http://e.x/solo.xml", 1L, "http://e.x/s1", "", true)))
  }

  test("expand: identical duplicate fetches collapse; a conflicting refetch stays visible") {
    val s = spark
    import s.implicits._
    val part = "<urlset><url><loc>http://e.x/a</loc></url></urlset>"
    val part2 = "<urlset><url><loc>http://e.x/b</loc></url></urlset>"
    def locs(docs: Seq[(String, String)]): Seq[String] =
      Sitemaps.expand(docs.toDF("u", "xml"), "u", col("xml"))
        .collect().map(_.getString(2)).toSeq.sorted
    // same (url, body) twice -> ONE set of rows, not two
    assert(locs(Seq(("http://e.x/p.xml", part),
      ("http://e.x/p.xml", part))) === Seq("http://e.x/a"))
    // same url, DIFFERENT body -> both parses surface (caller resolves)
    assert(locs(Seq(("http://e.x/p.xml", part),
      ("http://e.x/p.xml", part2))) ===
      Seq("http://e.x/a", "http://e.x/b"))
  }

  test("expand: two indexes referencing one child break the provenance tie to the bytewise-min index") {
    val i1 = "<sitemapindex><sitemap><loc>http://e.x/part.xml</loc></sitemap></sitemapindex>"
    val i2 = "<sitemapindex><sitemap><loc>http://e.x/part.xml</loc></sitemap></sitemapindex>"
    val part = "<urlset><url><loc>http://e.x/a</loc></url></urlset>"
    assert(expandRows(Seq(("http://e.x/idx-b.xml", i1),
      ("http://e.x/idx-a.xml", i2),
      ("http://e.x/part.xml", part))) === Set(
      ("http://e.x/part.xml", 1L, "http://e.x/a", "http://e.x/idx-a.xml", true)))
  }
}
