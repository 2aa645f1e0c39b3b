package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WebGraphSpec extends AnyFunSuite with SparkSpec {

  // link_no -> (href, url, dst_host, nofollow)
  private def links(uri: String, html: String): Map[Long, (String, String, String, Boolean)] = {
    val s = spark
    import s.implicits._
    WebGraph.outlinks(Seq((1L, uri, html)).toDF("id", "uri", "html"),
      "id", col("uri"), col("html"))
      .collect()
      .map(r => r.getLong(1) ->
        ((r.getString(2), r.getString(3), r.getString(6), r.getBoolean(4)))).toMap
  }

  test("resolution contract: every branch, one page") {
    val got = links("http://a.example/dir/page.html",
      """<a href="http://b.example/x">1</a>""" +
        """<a href="/root">2</a>""" +
        """<a href="//c.example/y">3</a>""" +
        """<a href='sib.html'>4</a>""" +
        """<a href="#frag">5</a>""" +
        """<a href="mailto:x@y.z">6</a>""" +
        """<a href="https://d.example/z#sec">7</a>""" +
        """<a href="">8</a>""" +
        """<a href="javascript:void(0)">9</a>""")
    // link_no is the position among ALL hrefs; dropped ones leave gaps
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 7L))
    assert(got(1L) === (("http://b.example/x", "http://b.example/x", "b.example", false)))
    assert(got(2L) === (("/root", "http://a.example/root", "a.example", false)))
    assert(got(3L) === (("//c.example/y", "http://c.example/y", "c.example", false)))
    // path-relative: resolved against the page's directory
    assert(got(4L) === (("sib.html", "http://a.example/dir/sib.html", "a.example", false)))
    // fragment stripped from the resolved absolute
    assert(got(7L) === (("https://d.example/z#sec", "https://d.example/z", "d.example", false)))
  }

  test("base URI without a path resolves relatives against /") {
    val got = links("https://e.example",
      """<a href="p.html">1</a><a href="/q">2</a>""")
    assert(got(1L)._2 === "https://e.example/p.html")
    assert(got(2L)._2 === "https://e.example/q")
  }

  test("href matching: case-insensitive tag/attr, whitespace trim, anchors only") {
    val got = links("http://f.example/p",
      """<A HREF="http://g.example/up">1</A>""" +
        """<a class=x href = " http://h.example/sp ">2</a>""" +
        """<img src="http://i.example/not-a-link">""" +
        """<link href="http://j.example/not-anchor">""")
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L)._3 === "g.example")
    assert(got(2L)._2 === "http://h.example/sp") // trimmed before resolution
    assert(!got.values.exists(_._3 == "i.example"))
    assert(!got.values.exists(_._3 == "j.example"))
  }

  test("rel=nofollow is flagged, not dropped; rel position and token list handled") {
    val got = links("http://k.example/p",
      """<a rel="nofollow" href="http://l.example/1">1</a>""" +
        """<a href="http://m.example/2" rel='ugc nofollow'>2</a>""" +
        """<a rel="noopener" href="http://n.example/3">3</a>""" +
        """<a href="http://o.example/4">4</a>""")
    assert(got(1L) === (("http://l.example/1", "http://l.example/1", "l.example", true)))
    assert(got(2L) === (("http://m.example/2", "http://m.example/2", "m.example", true)))
    assert(got(3L)._4 === false) // noopener is not nofollow
    assert(got(4L)._4 === false)
  }

  test("nofollow/noindex are whole tokens: longer words sharing the prefix don't flag") {
    val got = links("http://k.example/p",
      """<a rel="nofollower" href="http://l.example/1">1</a>""" +
        """<a rel='nofollowing ugc' href="http://m.example/2">2</a>""" +
        """<a rel="ugc nofollow" href="http://n.example/3">3</a>""")
    assert(got(1L)._4 === false) // nofollower is not the nofollow token
    assert(got(2L)._4 === false)
    assert(got(3L)._4 === true)
    val s = spark
    import s.implicits._
    val got2 = Seq(
      (1L, "http://t.example/", "<html><head>" +
        "<meta name=\"robots\" content=\"noindexing\"></head></html>"),
      (2L, "http://t.example/", "<html><head>" +
        "<meta name='robots' content='noindex,follow'></head></html>"))
      .toDF("id", "uri", "html")
      .select(col("id"),
        WebGraph.pageMeta(col("uri"), col("html")).getField("noindex").as("ni"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got2 === Map(1L -> false, 2L -> true))
  }

  test("per-quote alternation and bare <a> counting") {
    val got = links("http://q.example/p",
      """<a href="/o'brien">1</a><a>bare</a><a href='x"y'>3</a>""")
    // the bare <a> holds position 2 (provenance), extracted as no-href
    assert(got.keySet === Set(1L, 3L))
    // apostrophe inside a double-quoted value is NOT a terminator
    assert(got(1L)._1 === "/o'brien")
    assert(got(1L)._2 === "http://q.example/o'brien")
    // and a double quote inside a single-quoted value is data too
    assert(got(3L)._1 === "x\"y")
    assert(got(3L)._2 === "http://q.example/x\"y")
  }

  // HTML spec: `&` MUST be entity-escaped inside attribute values, so
  // `&amp;` is the normal spelling of a multi-parameter URL in real
  // pages. The %k fixtures carry one `&amp;` href; the decode-order
  // and numeric-form edges live here.
  test("character references in hrefs decode before resolution; raw href keeps the bytes") {
    val got = links("http://a.x/dir/p",
      """<a href="/p?a=1&amp;b=2">1</a>""" +
        """<a href='q?x=&#38;y'>2</a>""" +
        """<a href="/o&apos;brien">3</a>""" +
        """<a href="/h?u=&#x26;v">4</a>""" +
        """<a href="/p?x=&amp;amp;">5</a>""" +
        """<a href="/lt?a=&amp;lt;">6</a>""")
    assert(got(1L)._1 === "/p?a=1&amp;b=2") // provenance: raw bytes
    assert(got(1L)._2 === "http://a.x/p?a=1&b=2")
    assert(got(2L)._2 === "http://a.x/dir/q?x=&y") // numeric decimal
    assert(got(3L)._2 === "http://a.x/o'brien") // named apostrophe
    assert(got(4L)._2 === "http://a.x/h?u=&v") // numeric hex
    // double-escaped: ONE decode, never two (single-pass amp class)
    assert(got(5L)._2 === "http://a.x/p?x=&amp;")
    assert(got(6L)._2 === "http://a.x/lt?a=&lt;")
  }

  test("character references in base and canonical hrefs decode like any attribute value") {
    val s = spark
    import s.implicits._
    // entity in the base PATH (a query would be invisible to the
    // directory computation) rebases relatives under the decoded dir
    val got = links("http://a.x/dir/p",
      "<base href=\"http://b.y/a&amp;b/\"><a href='rel'>1</a>")
    assert(got(1L)._2 === "http://b.y/a&b/rel")
    val canon = Seq(
      ("http://a.x/p", "<head><link rel=\"canonical\" " +
        "href=\"/c?a=1&amp;b=2\"></head>"))
      .toDF("uri", "html")
    val expr = canon.select(WebGraph.pageMeta(col("uri"), col("html"))
      .getField("canonical_url")).collect().map(_.getString(0))
    val frame = WebGraph.pageMetaFrame(canon, col("uri"), col("html"))
      .select(col("meta.canonical_url")).collect().map(_.getString(0))
    assert(expr === Array("http://a.x/c?a=1&b=2"))
    assert(frame === expr)
  }

  test("pageMeta: title normalization, attribute order, absent elements, noindex token, canonical absolutization") {
    val s = spark
    import s.implicits._
    val pages = Seq(
      (1L, "http://s1.example/p/1",
        "<html lang=\"en\"><head><title>  A\n  Title  </title>" +
        "<meta content=\"d1\" name=\"description\">" +
        "<meta name=\"robots\" content=\"noindex, follow\">" +
        "<link href=\"http://c.example/x\" rel=\"canonical\">" +
        "</head><body></body></html>"),
      (2L, "http://s2.example/",
        "<html><head></head><body>no head metadata</body></html>"),
      (3L, "http://s3.example/a/b",
        "<html lang='de'><head>" +
        "<meta name=\"robots\" content=\"nofollow\"></head></html>"),
      (4L, "http://p.example/dir/page.html",
        "<html><head><meta name=\"description\" content=\"world's best\">" +
        "<link rel=\"canonical\" href=\"art.html\"></head></html>"),
      (5L, "http://r.example/x",
        "<html><head><link rel='canonical' href='/canon/5'></head></html>")
    ).toDF("id", "uri", "html")
    val got = pages
      .select(col("id"), WebGraph.pageMeta(col("uri"), col("html")).as("m"))
      .select(col("id"), col("m.*")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getBoolean(5)))).toMap
    // newline + space runs collapse; content-before-name meta matches;
    // an absolute canonical passes through unchanged
    assert(got(1L) === (("A Title", "d1", "http://c.example/x", "en", true)))
    assert(got(2L) === (("", "", "", "", false)))
    // robots present but no noindex token
    assert(got(3L) === (("", "", "", "de", false)))
    // path-relative canonical resolves against the page directory;
    // apostrophe inside the double-quoted description is data
    assert(got(4L) === (("", "world's best",
      "http://p.example/dir/art.html", "", false)))
    // root-relative, single-quoted canonical
    assert(got(5L) === (("", "", "http://r.example/canon/5", "", false)))
  }

  test("hostEdges: weighted census keeps self-edges") {
    val s = spark
    import s.implicits._
    val l = Seq(("a", "b"), ("a", "b"), ("a", "a"), ("b", "a"))
      .toDF("src_host", "dst_host")
    val got = WebGraph.hostEdges(l, col("src_host"), col("dst_host"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(("a", "b") -> 2L, ("a", "a") -> 1L, ("b", "a") -> 1L))
  }

  test("redirectChains: multi-hop, dangling, self-loop and 2-cycle exceed the budget") {
    val s = spark
    import s.implicits._
    val resp = Seq(
      ("http://x/a", 200, null.asInstanceOf[String]),
      ("http://x/b", 301, "http://x/a"),
      ("http://x/c", 302, "http://x/b"),
      ("http://x/d", 301, "http://x/gone"),
      ("http://x/e", 301, "http://x/e"),
      ("http://x/f", 301, "http://x/g"),
      ("http://x/g", 307, "http://x/f"),
      // 3xx with no Location is terminal, not a chain edge
      ("http://x/h", 301, "")
    ).toDF("url", "status", "location")
    val got = WebGraph.redirectChains(resp, "url", col("status"),
        col("location"), maxHops = 4)
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2),
        r.getString(3)))).toMap
    assert(got("http://x/a") === (("http://x/a", 0L, "ok")))
    assert(got("http://x/b") === (("http://x/a", 1L, "ok")))
    assert(got("http://x/c") === (("http://x/a", 2L, "ok")))
    assert(got("http://x/d") === (("http://x/gone", 1L, "dangling")))
    assert(got("http://x/e") === (("http://x/e", 4L, "exceeded")))
    assert(got("http://x/f")._3 === "exceeded")
    assert(got("http://x/g")._3 === "exceeded")
    assert(got("http://x/h") === (("http://x/h", 0L, "ok")))
  }

  test("redirectChains: conflicting duplicate fetches collapse to the bytewise-min target") {
    val s = spark
    import s.implicits._
    val resp = Seq(
      ("http://x/h", 301, "http://x/zz"),
      ("http://x/h", 301, "http://x/aa"),
      ("http://x/aa", 200, null.asInstanceOf[String])
    ).toDF("url", "status", "location")
    val got = WebGraph.redirectChains(resp, "url", col("status"),
        col("location"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3)))
    // output grain = input rows: both h fetches resolve identically,
    // through the min target aa (in corpus -> ok)
    assert(got.count(_ == (("http://x/h", "http://x/aa", 1L, "ok"))) === 2)
    assert(got.contains(("http://x/aa", "http://x/aa", 0L, "ok")))
  }

  test("redirectChains: perm_url follows the longest all-permanent prefix (RFC 9110 §15.4)") {
    val s = spark
    import s.implicits._
    val resp = Seq(
      // a 301-> b 302-> c: identity stops at b, routing reaches c
      ("http://x/a", 301, "http://x/b"),
      ("http://x/b", 302, "http://x/c"),
      ("http://x/c", 200, null.asInstanceOf[String]),
      // all-permanent 308+301 chain: identity == routing
      ("http://x/p", 308, "http://x/q"),
      ("http://x/q", 301, "http://x/c"),
      // temporary from the first hop: identity stays put
      ("http://x/t", 307, "http://x/c")
    ).toDF("url", "status", "location")
    val got = WebGraph.redirectChains(resp, "url", col("status"),
        col("location"))
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(4)))).toMap
    assert(got("http://x/a") === (("http://x/c", "http://x/b")))
    assert(got("http://x/b") === (("http://x/c", "http://x/b")))
    assert(got("http://x/c") === (("http://x/c", "http://x/c")))
    assert(got("http://x/p") === (("http://x/c", "http://x/c")))
    assert(got("http://x/q") === (("http://x/c", "http://x/c")))
    assert(got("http://x/t") === (("http://x/c", "http://x/t")))
  }

  test("redirectChains: conflicting permanence for one collapsed edge reads temporary") {
    val s = spark
    import s.implicits._
    // one URL fetched twice, same min target, 301 once and 302 once:
    // never permanent identity on conflicting evidence
    val resp = Seq(
      ("http://x/h", 301, "http://x/aa"),
      ("http://x/h", 302, "http://x/aa"),
      ("http://x/aa", 200, null.asInstanceOf[String])
    ).toDF("url", "status", "location")
    val got = WebGraph.redirectChains(resp, "url", col("status"),
        col("location"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(4)))
    assert(got.count(_ == (("http://x/h", "http://x/aa", "http://x/h"))) === 2)
    assert(got.contains(("http://x/aa", "http://x/aa", "http://x/aa")))
  }

  // HTML spec: the <base> element's href rebases every RELATIVE
  // reference in the document; only the FIRST base is honored, and
  // the base href may itself be relative (resolved against the
  // document URI). The %k fixture only synthesizes absolute same-
  // grammar bases — the edges live here.
  test("outlinks: <base href> rebases relative links; first base wins; src_host stays the page host") {
    val s = spark
    import s.implicits._
    val pages = Seq(
      // absolute base on another host: root-/path-relative rebase,
      // absolute links untouched
      (1L, "http://a.x/dir/page",
        "<head><base href=\"http://b.y/bd/\"></head>" +
          "<a href=\"/root\">r</a><a href=\"rel\">p</a>" +
          "<a href=\"http://c.z/abs\">a</a>"),
      // RELATIVE base href: resolved against the document URI first
      // (HTML allows it), so links rebase under a.x/sub/
      (2L, "http://a.x/dir/page", "<base href='sub/'><a href='rel'>p</a>"),
      // two base tags: the FIRST wins (regexp_extract's first match)
      (3L, "http://a.x/p",
        "<base href=\"http://one.x/d/\"><base href=\"http://two.x/d/\">" +
          "<a href=\"rel\">p</a>"),
      // out-of-grammar base (non-http scheme): falls back to the URI
      (4L, "http://a.x/dir/p", "<base href=\"ftp://f.x/\"><a href='rel'>p</a>"),
      // no base at all: the document URI is the base
      (5L, "http://a.x/dir/p", "<a href='rel'>p</a>")
    ).toDF("id", "uri", "html")
    val got = WebGraph.outlinks(pages, "id", col("uri"), col("html"))
      .collect()
      .map(r => (r.getLong(0), r.getString(2)) ->
        ((r.getString(3), r.getString(5), r.getString(6)))).toMap
    assert(got((1L, "/root")) === (("http://b.y/root", "a.x", "b.y")))
    assert(got((1L, "rel")) === (("http://b.y/bd/rel", "a.x", "b.y")))
    assert(got((1L, "http://c.z/abs")) === (("http://c.z/abs", "a.x", "c.z")))
    assert(got((2L, "rel")) === (("http://a.x/dir/sub/rel", "a.x", "a.x")))
    assert(got((3L, "rel")) === (("http://one.x/d/rel", "a.x", "one.x")))
    assert(got((4L, "rel")) === (("http://a.x/dir/rel", "a.x", "a.x")))
    assert(got((5L, "rel")) === (("http://a.x/dir/rel", "a.x", "a.x")))
  }

  test("pageMeta: a relative canonical rebases through <base href> like any relative reference") {
    val s = spark
    import s.implicits._
    val got = Seq(
      ("http://a.x/dir/p",
        "<head><base href=\"http://b.y/bd/\">" +
          "<link rel=\"canonical\" href=\"canon.html\"></head>"),
      ("http://a.x/dir/p",
        "<head><link rel=\"canonical\" href=\"canon.html\"></head>")
    ).toDF("uri", "html")
      .select(WebGraph.pageMeta(col("uri"), col("html"))
        .getField("canonical_url"))
      .collect().map(_.getString(0))
    assert(got === Array("http://b.y/bd/canon.html",
      "http://a.x/dir/canon.html"))
  }

  test("pageMeta forms agree: the expression and frame forms produce identical structs") {
    val s = spark
    import s.implicits._
    // every field populated, base-bearing AND base-less, relative and
    // absolute canonicals — the exact surface the frame form's
    // materialized projections must reproduce byte-for-byte
    val pages = Seq(
      (1L, "http://a.x/dir/p",
        "<html lang=\"en\"><head><base href='http://b.y/bd/'>" +
          "<title> T \n 1 </title>" +
          "<meta name=\"description\" content=\"d's 1\">" +
          "<meta content=\"noindex\" name=\"robots\">" +
          "<link rel=\"canonical\" href=\"c.html\"></head></html>"),
      (2L, "http://a.x/dir/p",
        "<html><head><link rel='canonical' href='/c/2'></head></html>"),
      (3L, "http://a.x/p", "<html><body>nothing</body></html>"),
      (4L, "http://a.x/p",
        "<base href=\"sub/\"><link rel=\"canonical\" href=\"c4\">")
    ).toDF("id", "uri", "html")
    val expr = pages.select(col("id"),
        WebGraph.pageMeta(col("uri"), col("html")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getStruct(1).toSeq).toMap
    val frame = WebGraph.pageMetaFrame(pages, col("uri"), col("html"))
      .select(col("id"), col("meta"))
      .collect().map(r => r.getLong(0) -> r.getStruct(1).toSeq).toMap
    assert(frame === expr)
    assert(frame(1L) === Seq("T 1", "d's 1", "http://b.y/bd/c.html", "en", true))
    assert(frame(4L) === Seq("", "", "http://a.x/sub/c4", "", false))
  }

  // RFC 7231 §7.1.2: "The Location header field value... can be a
  // relative reference" — the forms the %k fixture cannot synthesize
  // per-row without arithmetic, asserted here explicitly.
  test("redirectChains: relative Location forms absolutize against the source URL") {
    val s = spark
    import s.implicits._
    val resp = Seq(
      // root-relative (RFC 3986 §4.2 absolute-path reference)
      ("http://a.example/old/page", 301, "/new/page"),
      ("http://a.example/new/page", 200, null.asInstanceOf[String]),
      // protocol-relative (RFC 3986 §4.2 network-path reference)
      ("http://b.example/x", 302, "//a.example/new/page"),
      // path-relative: resolved against the base DIRECTORY
      ("http://a.example/old/alias", 303, "page"),
      // query-only: path-relative per the documented RFC-3986-lite
      // contract (no query-merge semantics; dot segments DO
      // normalize — §5.2.4 — see the dot-segment spec below)
      ("http://a.example/old/q", 301, "?v=2"),
      // fragment-only Location is outside the grammar -> non-redirect
      ("http://c.example/frag", 301, "#sec"),
      // non-http scheme -> non-redirect (the chain only follows http)
      ("http://c.example/ftp", 301, "ftp://c.example/file")
    ).toDF("url", "status", "location")
    val got = WebGraph.redirectChains(resp, "url", col("status"),
        col("location"), maxHops = 4)
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2),
        r.getString(3)))).toMap
    assert(got("http://a.example/old/page") ===
      (("http://a.example/new/page", 1L, "ok")))
    assert(got("http://b.example/x") ===
      (("http://a.example/new/page", 1L, "ok")))
    // "page" against base dir /old/ -> /old/page, a redirect itself
    assert(got("http://a.example/old/alias") ===
      (("http://a.example/new/page", 2L, "ok")))
    assert(got("http://a.example/old/q") ===
      (("http://a.example/old/?v=2", 1L, "dangling")))
    assert(got("http://c.example/frag") ===
      (("http://c.example/frag", 0L, "ok")))
    assert(got("http://c.example/ftp") ===
      (("http://c.example/ftp", 0L, "ok")))
  }

  // RFC 3986 §5.2.4: since the resolve chain feeds URL-grain
  // equi-joins (redirect chains, alias collapse, frontier merge),
  // `http://h/a/../p` must normalize to the fetched `/p` spelling.
  test("dot segments in resolved targets normalize per RFC 3986 §5.2.4") {
    val got = links("http://a.x/d1/d2/page",
      """<a href="../up">1</a>""" +
        """<a href="./same">2</a>""" +
        """<a href="../../root">3</a>""" +
        """<a href="../../../over">4</a>""" +
        """<a href="http://b.y/a/../abs">5</a>""" +
        """<a href="/.well-known/x">6</a>""" +
        """<a href="x/..">7</a>""" +
        """<a href="/p/../q?r=/s/../t">8</a>""")
    assert(got(1L)._2 === "http://a.x/d1/up")
    assert(got(2L)._2 === "http://a.x/d1/d2/same")
    assert(got(3L)._2 === "http://a.x/root")
    // over-pop: a leading ../ beyond the root drops (§5.2.4 rule 2C)
    assert(got(4L)._2 === "http://a.x/over")
    // absolute targets normalize too (§5.2.2 applies the removal to
    // every target path, not only relative references)
    assert(got(5L)._2 === "http://b.y/abs")
    // a dot-PREFIXED segment is not a dot segment
    assert(got(6L)._2 === "http://a.x/.well-known/x")
    // trailing pair cancels to the directory
    assert(got(7L)._2 === "http://a.x/d1/d2/")
    // the QUERY is never touched by path normalization
    assert(got(8L)._2 === "http://a.x/q?r=/s/../t")
  }

  test("dot segments normalize under a mixed-case scheme (r14 ADVICE)") {
    val s = spark
    import s.implicits._
    // resolve() passes absolute hrefs through under a CASE-INSENSITIVE
    // scheme match, so HTTP://… reaches the dot-segment fold verbatim;
    // case-sensitive origin anchors would cancel THROUGH the authority
    // and emit the corrupted host HTTP://p
    val got = Seq(
      "HTTP://a.x/../p",
      "Http://A.x/d/../q",
      "HTTPS://b.y/./r",
      "HTTP://c.z/keep")
      .toDF("u")
      .select(col("u"), WebGraph.normalizeDotSegments(col("u")).as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("HTTP://a.x/../p") === "HTTP://a.x/p")
    assert(got("Http://A.x/d/../q") === "Http://A.x/q")
    assert(got("HTTPS://b.y/./r") === "HTTPS://b.y/r")
    assert(got("HTTP://c.z/keep") === "HTTP://c.z/keep")
  }

  test("uppercase-spelled ampersand references decode (legacy named set is case-insensitive)") {
    val got = links("http://a.x/dir/p",
      """<a href="/p?a=1&AMP;b=2">1</a>""" +
        """<a href="/q?x=&#X26;y">2</a>""" +
        """<a href="/r?u=&Amp;v">3</a>""")
    assert(got(1L)._2 === "http://a.x/p?a=1&b=2")
    assert(got(2L)._2 === "http://a.x/q?x=&y")
    assert(got(3L)._2 === "http://a.x/r?u=&v")
  }

  test("redirectChains: a dot-segment Location settles on the fetched spelling") {
    val s = spark
    import s.implicits._
    val resp = Seq(
      ("http://h.x/a/q", 301, "../p"),
      ("http://h.x/p", 200, null.asInstanceOf[String])
    ).toDF("url", "status", "location")
    val got = WebGraph.redirectChains(resp, "url", col("status"),
        col("location"), maxHops = 2)
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2),
        r.getString(3)))).toMap
    // without §5.2.4 this would dangle at http://h.x/a/../p
    assert(got("http://h.x/a/q") === (("http://h.x/p", 1L, "ok")))
  }

  test("redirectChains: two relative spellings of one destination are no conflict") {
    val s = spark
    import s.implicits._
    // same source fetched twice: Location differs as TEXT but resolves
    // to one target -> the collapse (on the RESOLVED target) keeps the
    // chain deterministic without treating it as a conflict
    val resp = Seq(
      ("http://a.example/dir/x", 301, "/dir/dest"),
      ("http://a.example/dir/x", 301, "dest"),
      ("http://a.example/dir/dest", 200, null.asInstanceOf[String])
    ).toDF("url", "status", "location")
    val got = WebGraph.redirectChains(resp, "url", col("status"),
        col("location"), maxHops = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3)))
    assert(got.count(_ ==
      (("http://a.example/dir/x", "http://a.example/dir/dest", 1L, "ok"))) === 2)
  }

  test("redirectChains: a chain settling at exactly maxHops is settled, not exceeded") {
    val s = spark
    import s.implicits._
    val resp = Seq(
      ("http://x/1", 301, "http://x/2"),
      ("http://x/2", 301, "http://x/3"),
      ("http://x/3", 200, null.asInstanceOf[String]),
      // and one hop DEEPER than the budget: a real remaining edge
      ("http://x/0", 301, "http://x/1"),
      // exactly-maxHops landing on a NEVER-FETCHED url: dangling
      ("http://x/d1", 301, "http://x/d2"),
      ("http://x/d2", 301, "http://x/gone")
    ).toDF("url", "status", "location")
    val got = WebGraph.redirectChains(resp, "url", col("status"),
        col("location"), maxHops = 2)
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2),
        r.getString(3)))).toMap
    // 1 -> 2 -> 3: two hops, budget is two, no edge out of 3: settled
    assert(got("http://x/1") === (("http://x/3", 2L, "ok")))
    // 0 -> 1 -> 2: budget exhausted with 2 -> 3 still pending
    assert(got("http://x/0")._3 === "exceeded")
    // d1 -> d2 -> gone: exactly maxHops, no edge out: dangling not exceeded
    assert(got("http://x/d1") === (("http://x/gone", 2L, "dangling")))
  }
}
