package graft.queries

import graft.Tables
import graft.operators.{Graphs, WebGraph}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gate queries for the WAT side of the crawl pipeline
  * ([[graft.operators.WebGraph]]): outlink extraction from HTML
  * payloads (through a real WARC write/read cycle), the host→host
  * link census, and host-level PageRank / HITS over the mined graph —
  * the composition that turns the WARC family (q219–q234) and the
  * graph family (q116/q232) into the actual Common Crawl ranking
  * pipeline.
  *
  * The synthetic web: page d lives at
  * `http://h{d%19}.example.org/p/{d}` and carries eight anchors
  * covering every branch of the resolution contract — absolute http,
  * root-relative, protocol-relative, path-relative (single-quoted),
  * fragment-only (dropped), mailto (dropped), absolute https with a
  * fragment (stripped), and a rel="nofollow" link (kept in the
  * census, excluded from the rank graph — the real-world link-graph
  * semantic). Link targets are doc_id arithmetic, so the
  * DuckDB oracle rebuilds the identical HTML from `documents` alone
  * and replays the same RE2-compatible regex + resolution CASE —
  * extraction, not expected values, is what the gate compares.
  */
object WebGraphQueries {

  /** The synthetic crawl pages: (doc_id, uri, html). The anchors cover
    * every branch of the resolution contract PLUS the tag/quote syntax
    * edges: a bare `<a>` (counted in link_no, extracted as no-href)
    * and a double-quoted href containing an apostrophe (the per-quote
    * alternation fix — a single-quote-terminating regex would
    * truncate it at the `'`).
    */
  private def pages(s: SparkSession, d: String): DataFrame = {
    def h(n: Column): Column =
      concat(lit("h"), n.cast("string"), lit(".example.org"))
    val did = col("doc_id")
    val ds = did.cast("string")
    Tables.documents(s, d).select(did,
      concat(lit("http://"), h(pmod(did, lit(19))), lit("/p/"), ds).as("uri"),
      concat(
        lit("<html>"),
        // %23==0 pages carry a <base href> (single-quoted): the HTML
        // element that rebases every RELATIVE reference on the page —
        // root-/path-relative anchors land on the base's host/dir,
        // absolute and protocol-relative-host anchors are untouched,
        // and src_host provenance stays the page's own authority
        when(pmod(did, lit(23)) === 0, concat(
          lit("<head><base href='http://"),
          h(pmod(did * 3 + 7, lit(19))),
          lit("/bdir/'></head>"))).otherwise(lit("")),
        lit("<body><p>"), col("text"), lit("</p>"),
        lit("<a href=\"http://"), h(pmod(did * 7 + 3, lit(19))),
        lit("/x/"), ds, lit("\">a</a>"),
        // entity-escaped ampersand: the spec-correct spelling of a
        // multi-parameter URL in an attribute value — href stays raw,
        // url decodes (the r13 verdict's blind-by-construction gap)
        lit("<a class=\"n\" href=\"/p/"), (did + 1).cast("string"),
        lit("?a=1&amp;b=2\">b</a>"),
        lit("<a href=\"//"), h(pmod(did * 5 + 1, lit(19))),
        lit("/y/"), ds, lit("\">c</a>"),
        // dot-segment path-relative: /p/N's base dir is /p/, so
        // ../p/r/N normalizes to the pre-r14 /p/r/N value — same
        // census, §5.2.4 exercised in the q244/q248 hashes
        lit("<a href='../p/r/"), ds, lit("'>d</a>"),
        lit("<a>plain</a>"),
        lit("<a href=\"#sec\">e</a><a href=\"mailto:x@example.com\">f</a>"),
        lit("<a href=\"https://"), h(pmod(did * 11 + 2, lit(19))),
        lit("/z/"), ds, lit("#frag\">g</a>"),
        lit("<a rel=\"nofollow\" href=\"http://"),
        h(pmod(did * 13 + 5, lit(19))), lit("/nf/"), ds, lit("\">h</a>"),
        lit("<a href=\"/o'brien/"), ds, lit("\">i</a>"),
        lit("</body></html>")).as("html"))
  }

  /** The [[WebGraph]] resolution contract (RFC-3986-lite) as oracle
    * SQL over a raw reference column `v`, expecting `sch`/`hst`/`pth`
    * (the base URL's scheme, host, path) in scope — shared VERBATIM by
    * the href chain ([[linksCtes]]' `res`) and the redirect chain
    * ([[redirectCtes]]' `red`), so link-target and Location-target
    * resolution semantics cannot diverge between the two families.
    */
  /** Oracle twin of [[graft.operators.WebGraph.htmlUnescape]]: the
    * five named references decode first (their replacements cannot
    * form another reference), then ONE global regex pass decodes the
    * ampersand class — single-pass, so `&amp;lt;` decodes once to the
    * literal `&lt;`, exactly like the engine's chain.
    */
  private def unescapeSql(v: String): String =
    "regexp_replace(replace(replace(replace(replace(replace(" + v +
      ", '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&apos;', ''''), " +
      "'&#39;', ''''), '(?i)&(amp|#38|#x26);', '&', 'g')"

  /** Oracle twin of [[graft.operators.WebGraph.normalizeDotSegments]]
    * — RFC 3986 §5.2.4 over the path, the identical bounded fold (8
    * `/./` passes, then 8 × (pair-cancel, trailing pair-cancel,
    * root over-pop) passes). Built with plain concatenation, NOT an
    * interpolator: the regex texts carry `$` anchors. `v` must be a
    * COLUMN REFERENCE (it is spliced several times).
    */
  private def dotNormSql(v: String): String = {
    def rep(e: String, pat: String) =
      "regexp_replace(" + e + ", '" + pat + "', '/', 'g')"
    val path = "regexp_extract(regexp_replace(" + v +
      ", '(?i)^https?://[^/?#]*', ''), '^([^?]*)', 1)"
    val noDot = rep((1 to 8).foldLeft(path)((p, _) => rep(p, "/\\./")),
      "/\\.$")
    val folded = (1 to 8).foldLeft(noDot)((p, _) =>
      rep(rep(rep(p, "/[^/]+/\\.\\./"), "/[^/]+/\\.\\.$"),
        "^/\\.\\.(/|$)"))
    "CASE WHEN " + v + " IS NULL THEN NULL ELSE " +
      "regexp_extract(" + v + ", '(?i)^(https?://[^/?#]*)', 1) || " + folded +
      " || regexp_replace(regexp_replace(" + v +
      ", '(?i)^https?://[^/?#]*', ''), '^[^?]*', '') END"
  }

  private def resolveSql(v: String): String =
    s"""regexp_replace(CASE
       |      WHEN regexp_matches(trim($v), '^(?i)https?://') THEN trim($v)
       |      WHEN regexp_matches(trim($v), '^//')
       |        THEN sch || ':' || trim($v)
       |      WHEN regexp_matches(trim($v), '^/')
       |        THEN sch || '://' || hst || trim($v)
       |      WHEN trim($v) = '' OR regexp_matches(trim($v), '^#')
       |           OR regexp_matches(trim($v), '^[A-Za-z][A-Za-z0-9+.-]*:')
       |        THEN NULL
       |      ELSE sch || '://' || hst ||
       |           (CASE WHEN pth = '' THEN '/'
       |                 ELSE regexp_replace(pth, '[^/]*$$', '') END) ||
       |           trim($v) END,
       |      '#.*', '')""".stripMargin

  /** Oracle CTE chain `pages`→`ext`→`exa`→`res`→`links`: the same page
    * synthesis, tag/href/rel regexes, and resolution CASE as the Spark
    * side, ending in (doc_id, link_no, href, url, nofollow, src_host,
    * dst_host).
    */
  private lazy val linksCtes: String =
    raw"""pages AS MATERIALIZED (
      |  SELECT doc_id,
      |    'http://h' || (doc_id % 19) || '.example.org/p/' || doc_id AS uri,
      |    '<html>' ||
      |    CASE WHEN doc_id % 23 = 0 THEN '<head><base href=''http://h' ||
      |      ((doc_id * 3 + 7) % 19) || '.example.org/bdir/''></head>'
      |      ELSE '' END ||
      |    '<body><p>' || text || '</p>' ||
      |    '<a href="http://h' || ((doc_id * 7 + 3) % 19) ||
      |      '.example.org/x/' || doc_id || '">a</a>' ||
      |    '<a class="n" href="/p/' || (doc_id + 1) || '?a=1&amp;b=2">b</a>' ||
      |    '<a href="//h' || ((doc_id * 5 + 1) % 19) ||
      |      '.example.org/y/' || doc_id || '">c</a>' ||
      |    '<a href=''../p/r/' || doc_id || '''>d</a>' ||
      |    '<a>plain</a>' ||
      |    '<a href="#sec">e</a><a href="mailto:x@example.com">f</a>' ||
      |    '<a href="https://h' || ((doc_id * 11 + 2) % 19) ||
      |      '.example.org/z/' || doc_id || '#frag">g</a>' ||
      |    '<a rel="nofollow" href="http://h' || ((doc_id * 13 + 5) % 19) ||
      |      '.example.org/nf/' || doc_id || '">h</a>' ||
      |    '<a href="/o''brien/' || doc_id || '">i</a>' ||
      |    '</body></html>' AS html
      |  FROM documents),
      |ext AS (
      |  SELECT doc_id, uri, bas,
      |    unnest(generate_series(1, len(tags))) AS link_no,
      |    unnest(tags) AS tag
      |  FROM (SELECT doc_id, uri,
      |          regexp_replace(regexp_extract(regexp_extract(html,
      |            '(?i)<base(\s[^>]*)?>', 0),
      |            '(?i)\bhref\s*=\s*("[^">]*"|''[^''>]*'')', 1),
      |            '^["'']|["'']$$', '', 'g') AS bas,
      |          regexp_extract_all(html, '(?i)<a(\s[^>]*)?>', 0) AS tags
      |        FROM pages) x),
      |exa AS (
      |  SELECT doc_id, uri, bas, link_no,
      |    regexp_replace(regexp_extract(tag,
      |      '(?i)\bhref\s*=\s*("[^">]*"|''[^''>]*'')', 1),
      |      '^["'']|["'']$$', '', 'g') AS href,
      |    regexp_matches(tag,
      |      '(?i)\brel\s*=\s*("[^">]*\bnofollow\b|''[^''>]*\bnofollow\b)') AS nofollow
      |  FROM ext),
      |exd AS (
      |  SELECT *, ${unescapeSql("href")} AS hd, ${unescapeSql("bas")} AS bd
      |  FROM exa),
      |resb AS (
      |  SELECT y.*, ${resolveSql("bd")} AS baseurl
      |  FROM (SELECT e.*,
      |          regexp_extract(uri, '^(https?)://', 1) AS sch,
      |          regexp_extract(uri, '^https?://([^/?#]+)', 1) AS hst,
      |          regexp_extract(uri, '^https?://[^/?#]+(/[^?#]*)', 1) AS pth
      |        FROM exd e) y),
      |rese AS (
      |  SELECT doc_id, link_no, href, hd, nofollow, hst AS src_host,
      |    CASE WHEN baseurl IS NOT NULL THEN
      |      regexp_extract(baseurl, '^(?i)(https?)://', 1) ELSE sch END AS sch2,
      |    CASE WHEN baseurl IS NOT NULL THEN
      |      regexp_extract(baseurl, '^(?i)https?://([^/?#]+)', 1)
      |      ELSE hst END AS hst2,
      |    CASE WHEN baseurl IS NOT NULL THEN
      |      regexp_extract(baseurl, '^(?i)https?://[^/?#]+(/[^?#]*)', 1)
      |      ELSE pth END AS pth2
      |  FROM resb),
      |res AS (
      |  SELECT doc_id, link_no, href, nofollow,
      |    ${resolveSql("hd")} AS url,
      |    src_host
      |  FROM (SELECT doc_id, link_no, href, hd, nofollow, src_host,
      |          sch2 AS sch, hst2 AS hst, pth2 AS pth FROM rese) z),
      |resn AS (
      |  SELECT doc_id, link_no, href, nofollow, src_host,
      |    ${dotNormSql("url")} AS url
      |  FROM res),
      |links AS MATERIALIZED (
      |  SELECT doc_id, CAST(link_no AS BIGINT) AS link_no, href, url,
      |         nofollow, src_host,
      |         regexp_extract(url, '^https?://([^/?#]+)', 1) AS dst_host
      |  FROM resn WHERE url IS NOT NULL)""".stripMargin

  /** Inter-host simple graph with numeric node ids (`h{k}` → k). */
  private val hostEdgeCtes: String =
    s"""$linksCtes,
       |hedges AS MATERIALIZED (
       |  SELECT DISTINCT
       |    CAST(regexp_extract(src_host, '^h(\\d+)', 1) AS BIGINT) AS src,
       |    CAST(regexp_extract(dst_host, '^h(\\d+)', 1) AS BIGINT) AS dst
       |  FROM links WHERE src_host <> dst_host AND NOT nofollow),
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM hedges UNION SELECT dst FROM hedges)""".stripMargin

  /** The Spark twin of `hedges`: distinct inter-host (src, dst) ids. */
  private def hostEdges(s: SparkSession, d: String): DataFrame =
    WebGraph.outlinks(pages(s, d), "doc_id", col("uri"), col("html"))
      .filter(col("src_host") =!= col("dst_host") && !col("nofollow"))
      .select(
        regexp_extract(col("src_host"), "^h(\\d+)", 1).cast("long").as("src"),
        regexp_extract(col("dst_host"), "^h(\\d+)", 1).cast("long").as("dst"))
      .distinct()

  private def hostName(node: Column): Column =
    concat(lit("h"), node.cast("string"), lit(".example.org"))

  /** Oracle CTE chain for [[graft.operators.Graphs.pageRankMicro]]
    * over `hedges`/`nodes` (requires [[hostEdgeCtes]] upstream):
    * st/outdeg/r0 then `iters` unrolled iterations, ending in
    * `r{iters}`. Shared by q246 and q262 — the shared-CTE discipline:
    * rank semantics cannot diverge between the rank report and the
    * crawl-budget consumer.
    */
  private def hostRankCtes(iters: Int): String = {
    def it(i: Int): String =
      s"""r${i + 1} AS (
         |  SELECT n.node, st.base + (85 * coalesce(inf.s, 0)) // 100 AS r
         |  FROM nodes n CROSS JOIN st
         |  LEFT JOIN (
         |    SELECT e.dst AS node, sum(r$i.r // od.c) AS s
         |    FROM hedges e JOIN r$i ON e.src = r$i.node
         |    JOIN outdeg od ON e.src = od.src
         |    GROUP BY e.dst) inf ON n.node = inf.node)""".stripMargin
    s"""st AS (SELECT (15 * (1000000000000 // count(*))) // 100 AS base,
       |              1000000000000 // count(*) AS r0 FROM nodes),
       |outdeg AS (SELECT src, count(*) AS c FROM hedges GROUP BY src),
       |r0 AS (SELECT node, st.r0 AS r FROM nodes CROSS JOIN st),
       |${(0 until iters).map(it).mkString(",\n")}""".stripMargin
  }

  /** Oracle CTE chain `hosts`→`rob0`→`rob`→`lines`→…→`dirs` shared by
    * q250 and the q251 composition: the synthetic per-host robots
    * bodies (all three RFC 9309 selection tiers represented — see
    * q250's comment; k%7==3 hosts ship BOM-prefixed CRLF bodies, the
    * Windows-served form) and the full parse/group/select/compile
    * funnel, ending in the effective (host, rule, path, pattern)
    * directive set for the `graftbot` product token. The `lines` CTE
    * mirrors the engine's full line-delimiter contract
    * (`Robots.scala` — BOM strip, CRLF/CR/LF split), not the LF-only
    * fixture subset (the r13 ADVICE item).
    */
  private val robotsDirsCtes: String =
    """hosts AS (SELECT DISTINCT (doc_id % 19) AS k FROM documents),
      |rob0 AS (
      |  SELECT 'h' || k || '.example.org' AS host,
      |    '# robots for h' || k || chr(10) ||
      |    CASE WHEN k % 2 = 0 THEN 'Sitemap: http://h' || k ||
      |      '.example.org/sitemap.xml' || chr(10) ELSE '' END ||
      |    CASE WHEN k % 3 <> 2 THEN 'User-agent: graftbot' || chr(10) ||
      |      'Disallow: /private' || k || '/' || chr(10) ||
      |      'Allow: /private' || k || '/ok/' || chr(10) ||
      |      'Disallow: /*.tmp$' || chr(10) ||
      |      CASE WHEN k % 4 = 0 THEN 'Crawl-delay: 2.5' || chr(10)
      |           ELSE '' END || chr(10) ELSE '' END ||
      |    CASE WHEN k % 3 <> 2 OR k % 2 = 1 THEN
      |      'User-agent: graft' || chr(10) ||
      |      'Disallow: /graftonly/' || chr(10) || chr(10) ELSE '' END ||
      |    CASE WHEN k % 5 = 0 THEN
      |      'User-agent: graftbot-news' || chr(10) ||
      |      'Disallow: /' || chr(10) || chr(10) ELSE '' END ||
      |    'User-agent: *' || chr(10) ||
      |    'Disallow: /all/' || chr(10) ||
      |    CASE WHEN k % 4 = 2 THEN 'Crawl-delay: 10' || chr(10)
      |         ELSE '' END ||
      |    CASE WHEN k % 4 = 1 THEN 'Disallow: /a.b/' || chr(10)
      |         ELSE '' END AS body0, k
      |  FROM hosts),
      |rob AS (
      |  SELECT host,
      |    CASE WHEN k % 7 = 3
      |      THEN chr(65279) || replace(body0, chr(10), chr(13) || chr(10))
      |      ELSE body0 END AS body
      |  FROM rob0),
      |lines AS (
      |  SELECT host,
      |    unnest(generate_series(1, len(ln))) AS pos,
      |    unnest(ln) AS line
      |  FROM (SELECT host, regexp_split_to_array(
      |          regexp_replace(body, '^\x{FEFF}', ''),
      |          '\r\n|\r|\n') AS ln
      |        FROM rob) x),
      |kv AS (
      |  SELECT host, pos,
      |    lower(trim(regexp_extract(regexp_replace(line, '#.*', ''),
      |      '^\s*([A-Za-z-]+)\s*:', 1))) AS key,
      |    trim(regexp_extract(regexp_replace(line, '#.*', ''),
      |      '^\s*[A-Za-z-]+\s*:(.*)$', 1)) AS val
      |  FROM lines),
      |kept AS (SELECT * FROM kv
      |         WHERE key IN ('user-agent', 'allow', 'disallow',
      |                       'crawl-delay')),
      |marks AS (
      |  SELECT *, CASE WHEN key = 'user-agent' AND NOT coalesce(
      |      lag(key = 'user-agent') OVER (PARTITION BY host ORDER BY pos),
      |      false) THEN 1 ELSE 0 END AS st
      |  FROM kept),
      |grps AS (
      |  SELECT *, sum(st) OVER (PARTITION BY host ORDER BY pos) AS g
      |  FROM marks),
      |agents AS (SELECT host, g, lower(val) AS agent FROM grps
      |           WHERE key = 'user-agent' AND g >= 1),
      |rules0 AS (SELECT host, g, key AS rule, val AS path FROM grps
      |           WHERE key IN ('allow', 'disallow') AND val <> ''
      |             AND g >= 1),
      |mt AS (SELECT host, g, length(agent) AS alen FROM agents
      |       WHERE agent <> '' AND starts_with('graftbot', agent)),
      |mx AS (SELECT host, max(alen) AS m FROM mt GROUP BY host),
      |sel AS (
      |  SELECT DISTINCT mt.host, mt.g FROM mt
      |  JOIN mx ON mt.host = mx.host AND mt.alen = mx.m
      |  UNION
      |  SELECT DISTINCT a.host, a.g FROM agents a
      |  WHERE a.agent = '*' AND a.host NOT IN (SELECT host FROM mt)),
      |dirs AS (
      |  SELECT r.host, r.rule, r.path,
      |    '^' || regexp_replace(regexp_replace(regexp_replace(r.path,
      |        '([.\\+?*()\[\]{}|^$])', '\\\1', 'g'),
      |        '\\\*', '.*', 'g'),
      |        '\\\$$', '$') AS pattern
      |  FROM rules0 r JOIN sel ON sel.host = r.host AND sel.g = r.g)""".stripMargin

  /** The SQL twin of [[urlPath]] — the per-doc decision path (q250's
    * residue classes; %6==5 splits into /graftonly/ and the ?q=1
    * query-string case on %12).
    */
  private val urlPathSql: String =
    """CASE doc_id % 6
      |        WHEN 0 THEN '/private' || (doc_id % 19) || '/doc' || doc_id
      |        WHEN 1 THEN '/private' || (doc_id % 19) || '/ok/doc' || doc_id
      |        WHEN 2 THEN '/tmp/doc' || doc_id || '.tmp'
      |        WHEN 3 THEN '/all/doc' || doc_id
      |        WHEN 4 THEN '/a.b/doc' || doc_id
      |        ELSE CASE WHEN doc_id % 12 = 5
      |          THEN '/graftonly/doc' || doc_id
      |          ELSE '/clean/doc' || doc_id || '?q=1' END END""".stripMargin

  /** The synthetic per-host robots table (host, body) — Spark twin of
    * the `hosts`→`rob` CTEs in [[robotsDirsCtes]].
    */
  private def robotsFixture(s: SparkSession, d: String): DataFrame = {
    val nl = lit("\n")
    Tables.documents(s, d).select(pmod(col("doc_id"), lit(19)).as("__k"))
      .distinct()
      .select(
        concat(lit("h"), col("__k").cast("string"), lit(".example.org"))
          .as("host"),
        concat(
          lit("# robots for h"), col("__k").cast("string"), nl,
          when(pmod(col("__k"), lit(2)) === 0, concat(
            lit("Sitemap: http://h"), col("__k").cast("string"),
            lit(".example.org/sitemap.xml"), nl)).otherwise(lit("")),
          when(pmod(col("__k"), lit(3)) =!= 2, concat(
            lit("User-agent: graftbot"), nl,
            lit("Disallow: /private"), col("__k").cast("string"),
            lit("/"), nl,
            lit("Allow: /private"), col("__k").cast("string"),
            lit("/ok/"), nl,
            lit("Disallow: /*.tmp$"), nl,
            when(pmod(col("__k"), lit(4)) === 0,
              concat(lit("Crawl-delay: 2.5"), nl)).otherwise(lit("")),
            nl)).otherwise(lit("")),
          when(pmod(col("__k"), lit(3)) =!= 2 ||
            pmod(col("__k"), lit(2)) === 1, concat(
            lit("User-agent: graft"), nl,
            lit("Disallow: /graftonly/"), nl, nl)).otherwise(lit("")),
          when(pmod(col("__k"), lit(5)) === 0, concat(
            lit("User-agent: graftbot-news"), nl,
            lit("Disallow: /"), nl, nl)).otherwise(lit("")),
          lit("User-agent: *"), nl,
          lit("Disallow: /all/"), nl,
          when(pmod(col("__k"), lit(4)) === 2,
            concat(lit("Crawl-delay: 10"), nl)).otherwise(lit("")),
          when(pmod(col("__k"), lit(4)) === 1,
            concat(lit("Disallow: /a.b/"), nl)).otherwise(lit("")))
          .as("body0"))
      // k%7==3 hosts serve the Windows form: BOM-prefixed, CRLF line
      // ends — the engine's full RFC 9309 line-delimiter contract
      // (Robots.scala strips the BOM and splits \r\n|\r|\n), now
      // exercised by the fixture instead of LF-only (r13 ADVICE)
      .select(col("host"),
        when(pmod(regexp_extract(col("host"), "^h(\\d+)", 1).cast("int"),
          lit(7)) === 3,
          concat(lit("\uFEFF"),
            regexp_replace(col("body0"), "\n", "\r\n")))
          .otherwise(col("body0")).as("body"))
  }

  /** The crawl-delay extraction chain (`cd`→`dl`, expects
    * [[robotsDirsCtes]]' `grps`/`sel` upstream) — the oracle twin of
    * [[graft.operators.Robots.crawlDelay]], shared by every gate that
    * schedules with robots-declared delays (q254/q255/q265/q267) so
    * delay semantics cannot diverge across the scheduling family.
    * Ends in `dl(host, ms)`.
    */
  private lazy val crawlDelayCtes: String =
    raw"""cd AS (
       |  SELECT g.host, g.val
       |  FROM grps g JOIN sel ON sel.host = g.host AND sel.g = g.g
       |  WHERE g.key = 'crawl-delay' AND g.val <> ''
       |    AND regexp_matches(g.val, '^[0-9]+(\.[0-9]+)?$$')),
       |dl AS (
       |  SELECT host,
       |    CAST(max(least(CASE WHEN length(val) <= 12
       |        THEN CAST(val AS DECIMAL(18,3)) ELSE 3600 END, 3600) * 1000)
       |      AS BIGINT) AS ms
       |  FROM cd GROUP BY host)""".stripMargin

  /** The 200-slot largest-remainder apportionment over the mined host
    * rank (`rk`→`tw`→`fl`→`lo`→`al`, expects [[hostRankCtes]]' `r4`
    * upstream) — the oracle twin of
    * [[graft.operators.Frontier.allocateBudget]], shared by q262 and
    * the q267 unified wave so budget semantics cannot diverge between
    * the rank-capped schedule and its policy composition. Ends in
    * `al(host, w, slots)`.
    */
  private lazy val budgetAllocCtes: String =
    """rk AS (SELECT 'h' || node || '.example.org' AS host,
      |              CAST(sum(r) AS BIGINT) AS w FROM r4 GROUP BY 1),
      |tw AS (SELECT CAST(sum(w) AS BIGINT) AS tot FROM rk),
      |fl AS (SELECT host, w, (200 * w) // tot AS bs, (200 * w) % tot AS rem
      |       FROM rk CROSS JOIN tw),
      |lo AS (SELECT CAST(200 - sum(bs) AS BIGINT) AS leftover FROM fl),
      |al AS (SELECT host, w, CAST(bs + CASE WHEN row_number() OVER (
      |           ORDER BY rem DESC, host ASC NULLS LAST) <= leftover
      |         THEN 1 ELSE 0 END AS BIGINT) AS slots
      |       FROM fl CROSS JOIN lo)""".stripMargin

  /** Oracle CTEs `urls`→`hits`→`win` shared by q250 and q254: the
    * per-doc fixture URLs matched against `dirs` with the
    * longest-match winner window; a verdict row is `win WHERE rn = 1`.
    */
  private val robotsVerdictCtes: String =
    s"""urls AS (
       |  SELECT doc_id,
       |    'http://h' || (doc_id % 19) || '.example.org' || p AS url,
       |    'h' || (doc_id % 19) || '.example.org' AS host, p
       |  FROM (SELECT doc_id,
       |      $urlPathSql AS p
       |    FROM documents) y),
       |hits AS (
       |  SELECT u.doc_id, u.url, u.host, d.rule, d.path AS rpath,
       |    d.pattern IS NOT NULL AND regexp_matches(u.p, d.pattern) AS m,
       |    length(d.path) AS plen
       |  FROM urls u LEFT JOIN dirs d ON d.host = u.host),
       |win AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY
       |      CASE WHEN m THEN plen ELSE -1 END DESC,
       |      CASE WHEN rule = 'allow' THEN 1 ELSE 0 END DESC,
       |      rpath ASC NULLS LAST) AS rn
       |  FROM hits)""".stripMargin

  /** Oracle replay of [[graft.functions.TextFunctions.canonicalizeUrl]]
    * over `src.urlCol`, CTE-prefixed with `pfx` — ends in
    * `<pfx>cn(..., canon)`. Shared by the q255/q261 merge CTEs.
    */
  private def canonChain(pfx: String, src: String, urlCol: String): String =
    s"""${pfx}nf0 AS (SELECT *, regexp_replace($urlCol, '#.*$$', '') AS __nofrag0 FROM $src),
       |${pfx}nf AS (SELECT *, ${UrlOracleSql.pctNormSql("__nofrag0")} AS __nofrag FROM ${pfx}nf0),
       |${pfx}pt AS (
       |  SELECT *,
       |    lower(regexp_extract(__nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS __sch,
       |    lower(regexp_extract(__nofrag, '^[^:/?#]+://([^/?#]*)', 1)) AS __hp,
       |    regexp_extract(__nofrag, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS __rp,
       |    regexp_extract(__nofrag, '\\?([^#]*)', 1) AS __q
       |  FROM ${pfx}nf),
       |${pfx}cq AS (
       |  -- array_to_string of an EMPTY list is NULL in DuckDB, not
       |  -- '' — every no-query / all-tracking-params URL hits that
       |  SELECT *, coalesce(array_to_string(list_sort(list_filter(
       |      string_split(__q, '&'),
       |      p -> p <> '' AND NOT regexp_matches(p,
       |        '^(utm_[^=]*|fbclid|gclid)(=.*)?$$'))), '&'), '') AS __cq
       |  FROM ${pfx}pt),
       |${pfx}cn AS (
       |  SELECT *, __sch || '://' ||
       |    (CASE WHEN __sch = 'http' THEN regexp_replace(__hp, ':80$$', '')
       |          WHEN __sch = 'https' THEN regexp_replace(__hp, ':443$$', '')
       |          ELSE __hp END) ||
       |    (CASE WHEN __rp = '' THEN '/' ELSE __rp END) ||
       |    (CASE WHEN __cq = '' THEN '' ELSE '?' || __cq END)
       |    AS canon
       |  FROM ${pfx}cq)""".stripMargin

  /** q255/q261 shared fixture+merge CTE text (the q256/q258 shared-CTE
    * discipline — the two gates' merge semantics cannot diverge):
    * robots-allowed discovery canon-merged with sitemap seeds. Expects
    * [[robotsDirsCtes]] + [[robotsVerdictCtes]] upstream; ends in
    * `mg(canon, url, source, priority_milli)`.
    */
  private lazy val seedMergeCtes: String =
    s"""disc AS (
       |  SELECT url FROM win WHERE rn = 1 AND ((NOT m) OR rule = 'allow')),
       |${canonChain("d", "disc", "url")},
       |dc AS (SELECT canon, min(url) AS d_url FROM dcn GROUP BY canon),
       |seeds AS (
       |  SELECT CASE WHEN doc_id % 2 = 0 THEN
       |      'http://H' || (doc_id % 19) || '.EXAMPLE.ORG' || ($urlPathSql) ||
       |        '?utm_source=sm&utm_medium=x'
       |    ELSE 'http://h' || (doc_id % 19) || '.example.org/seed/doc' || doc_id
       |    END AS loc,
       |    CASE WHEN doc_id % 3 = 0
       |      THEN CAST((doc_id % 10) * 100 AS BIGINT) END AS pm
       |  FROM documents),
       |${canonChain("s", "seeds", "loc")},
       |sc AS (SELECT canon, min(loc) AS s_url, max(pm) AS priority_milli
       |       FROM scn GROUP BY canon),
       |mg AS (
       |  SELECT coalesce(dc.canon, sc.canon) AS canon,
       |    coalesce(sc.s_url, dc.d_url) AS url,
       |    CASE WHEN sc.canon IS NOT NULL AND dc.canon IS NOT NULL THEN 'both'
       |         WHEN sc.canon IS NOT NULL THEN 'sitemap'
       |         ELSE 'discovered' END AS source,
       |    sc.priority_milli
       |  FROM dc FULL OUTER JOIN sc ON dc.canon = sc.canon)""".stripMargin

  /** q256/q258 shared fixture SQL: the per-doc lastmod string (every
    * W3C datetime form + absent + an out-of-grammar RFC-822 date) and
    * changefreq (all seven values + absent + an unknown).
    */
  private val sitemapLastmodSql: String =
    """CASE CAST(doc_id % 8 AS INTEGER)
      |      WHEN 0 THEN '2024'
      |      WHEN 1 THEN '2024-03'
      |      WHEN 2 THEN '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
      |      WHEN 3 THEN '2024-03-15T10:30Z'
      |      WHEN 4 THEN '2024-03-15T10:30:45+02:00'
      |      WHEN 5 THEN '2024-03-15T10:30:45.5-05:30'
      |      WHEN 6 THEN ''
      |      ELSE '15 Mar 2024' END""".stripMargin

  private val sitemapFreqSql: String =
    """CASE CAST(doc_id % 9 AS INTEGER)
      |      WHEN 0 THEN 'always' WHEN 1 THEN 'hourly'
      |      WHEN 2 THEN 'daily' WHEN 3 THEN 'weekly'
      |      WHEN 4 THEN 'monthly' WHEN 5 THEN 'yearly'
      |      WHEN 6 THEN 'never' WHEN 7 THEN ''
      |      ELSE 'sometimes' END""".stripMargin

  /** The changefreq→period table ([[graft.operators.Sitemaps.recrawlDueMillis]]'
    * convention) as oracle SQL over a changefreq expression — shared
    * by [[sitemapDueCtes]] (q256/q258) and the q266 validator fold so
    * the period semantics cannot diverge between the hint-driven and
    * validator-driven recrawl paths.
    */
  private def changefreqPeriodSql(cf: String): String =
    s"""CASE lower($cf)
       |      WHEN 'always' THEN 0 WHEN 'hourly' THEN 3600000
       |      WHEN 'daily' THEN 86400000 WHEN 'weekly' THEN 604800000
       |      WHEN 'monthly' THEN 2592000000 WHEN 'yearly' THEN 31536000000
       |      END""".stripMargin

  /** The lastmod normalization + TRY_CAST + changefreq-period oracle
    * chain over a `blk(k, doc_id, loc, lm, cf)` CTE — shared verbatim
    * by q256 and q258 so their typed-lastmod semantics cannot diverge.
    * Ends in `due(host, entry_no, loc, lm, cf, lastmod_ms, due_at_ms)`.
    */
  private lazy val sitemapDueCtes: String =
    raw"""ent AS (
      |  SELECT 'h' || k || '.example.org' AS host,
      |    row_number() OVER (PARTITION BY k ORDER BY doc_id) AS entry_no,
      |    loc, lm, cf
      |  FROM blk),
      |nm AS (
      |  SELECT *, CASE
      |    WHEN regexp_matches(lm, '^[0-9]{4}$$') THEN lm || '-01-01T00:00:00Z'
      |    WHEN regexp_matches(lm, '^[0-9]{4}-[0-9]{2}$$') THEN lm || '-01T00:00:00Z'
      |    WHEN regexp_matches(lm, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$$') THEN lm || 'T00:00:00Z'
      |    WHEN regexp_matches(lm, '^[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}(Z|[+-][0-9]{2}:[0-9]{2})$$')
      |      THEN substr(lm, 1, 16) || ':00' || regexp_extract(lm, '(Z|[+-][0-9]{2}:[0-9]{2})$$', 1)
      |    WHEN regexp_matches(lm, '^[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}(\.[0-9]+)?(Z|[+-][0-9]{2}:[0-9]{2})$$')
      |      THEN lm
      |    END AS norm
      |  FROM ent),
      |due AS (
      |  SELECT host, entry_no, loc, lm, cf,
      |    epoch_ms(TRY_CAST(norm AS TIMESTAMPTZ)) AS lastmod_ms,
      |    epoch_ms(TRY_CAST(norm AS TIMESTAMPTZ)) +
      |      ${changefreqPeriodSql("cf")} AS due_at_ms
      |  FROM nm)""".stripMargin

  /** Spark twins of [[sitemapLastmodSql]]/[[sitemapFreqSql]]. */
  private def sitemapLastmod(did: Column): Column =
    when(pmod(did, lit(8)) === 0, lit("2024"))
      .when(pmod(did, lit(8)) === 1, lit("2024-03"))
      .when(pmod(did, lit(8)) === 2, concat(lit("2024-01-"),
        lpad((pmod(did, lit(28)) + 1).cast("string"), 2, "0")))
      .when(pmod(did, lit(8)) === 3, lit("2024-03-15T10:30Z"))
      .when(pmod(did, lit(8)) === 4, lit("2024-03-15T10:30:45+02:00"))
      .when(pmod(did, lit(8)) === 5, lit("2024-03-15T10:30:45.5-05:30"))
      .when(pmod(did, lit(8)) === 6, lit(""))
      .otherwise(lit("15 Mar 2024"))

  private def sitemapFreq(did: Column): Column =
    when(pmod(did, lit(9)) === 0, lit("always"))
      .when(pmod(did, lit(9)) === 1, lit("hourly"))
      .when(pmod(did, lit(9)) === 2, lit("daily"))
      .when(pmod(did, lit(9)) === 3, lit("weekly"))
      .when(pmod(did, lit(9)) === 4, lit("monthly"))
      .when(pmod(did, lit(9)) === 5, lit("yearly"))
      .when(pmod(did, lit(9)) === 6, lit("never"))
      .when(pmod(did, lit(9)) === 7, lit(""))
      .otherwise(lit("sometimes"))

  /** The q256/q258 sitemap urlset fixture: one block per doc with the
    * lastmod/changefreq residue walk, aggregated per host.
    */
  private def recrawlSitemapXmls(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id")
    val ks = pmod(did, lit(19)).cast("string")
    val lm = sitemapLastmod(did)
    val cf = sitemapFreq(did)
    val blk = concat(lit("<url><loc>http://h"), ks,
      lit(".example.org/r/"), did.cast("string"), lit("</loc>"),
      when(lm =!= "", concat(lit("<lastmod>"), lm, lit("</lastmod>")))
        .otherwise(lit("")),
      when(cf =!= "", concat(lit("<changefreq>"), cf,
        lit("</changefreq>"))).otherwise(lit("")),
      lit("</url>"))
    Tables.documents(s, d)
      .select(pmod(did, lit(19)).as("__k"),
        struct(did.as("i"), blk.as("b")).as("__e"))
      .groupBy("__k").agg(collect_list(col("__e")).as("__lst"))
      .select(concat(lit("h"), col("__k").cast("string"),
          lit(".example.org")).as("host"),
        concat(lit("<urlset>"),
          array_join(transform(sort_array(col("__lst")),
            x => x.getField("b")), ""),
          lit("</urlset>")).as("xml"))
  }

  /** The q259/q260 FETCHED-sitemap corpus (sitemap_url, xml): per host
    * a root sitemapindex referencing two part urlsets (both fetched),
    * a missing child on k%3==0 (not fetched — the expand work list), a
    * nested index on k%4==1 (fetched, its own deep child NOT — the
    * one-hop provenance case); the part urlsets carry the q250
    * decision paths (so q260's robots audit sees the full verdict
    * spread) plus lastmod/priority residues; an UNREFERENCED
    * standalone urlset on k%5==2 (top-level rows, entity-escaped
    * locs).
    */
  private def sitemapCorpus(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id")
    val ks = pmod(did, lit(19)).cast("string")
    val blk = concat(
      lit("<url><loc>http://h"), ks, lit(".example.org"), urlPath(did),
      lit("</loc>"),
      when(pmod(did, lit(4)) === 2, concat(lit("<lastmod>2024-03-"),
        lpad((pmod(did, lit(28)) + 1).cast("string"), 2, "0"),
        lit("</lastmod>"))).otherwise(lit("")),
      when(pmod(did, lit(3)) === 0, concat(lit("<priority>0."),
        pmod(did, lit(10)).cast("string"), lit("</priority>")))
        .otherwise(lit("")),
      lit("</url>"))
    val parts = Tables.documents(s, d)
      .select(pmod(did, lit(19)).as("__k"),
        pmod(floor(did / lit(19)), lit(2)).as("__p"),
        struct(did.as("i"), blk.as("b")).as("__e"))
      .groupBy("__k", "__p").agg(collect_list(col("__e")).as("__lst"))
      .select(concat(lit("http://h"), col("__k").cast("string"),
          lit(".example.org/sm/part"), col("__p").cast("string"),
          lit(".xml")).as("sitemap_url"),
        concat(lit("<urlset>"),
          array_join(transform(sort_array(col("__lst")),
            x => x.getField("b")), ""),
          lit("</urlset>")).as("xml"))
    val hosts = Tables.documents(s, d)
      .select(pmod(did, lit(19)).as("__k")).distinct()
    val kS = col("__k").cast("string")
    val hBase = concat(lit("http://h"), kS, lit(".example.org"))
    val root = hosts.select(
      concat(hBase, lit("/sitemap.xml")).as("sitemap_url"),
      concat(lit("<sitemapindex><sitemap><loc>"), hBase,
        lit("/sm/part0.xml</loc><lastmod>2024-01-15</lastmod></sitemap>" +
          "<sitemap><loc>"), hBase, lit("/sm/part1.xml</loc></sitemap>"),
        when(pmod(col("__k"), lit(3)) === 0, concat(lit("<sitemap><loc>"),
          hBase, lit("/sm/missing.xml</loc></sitemap>"))).otherwise(lit("")),
        when(pmod(col("__k"), lit(4)) === 1, concat(lit("<sitemap><loc>"),
          hBase, lit("/sm/nested.xml</loc></sitemap>"))).otherwise(lit("")),
        lit("</sitemapindex>")).as("xml"))
    val nested = hosts.filter(pmod(col("__k"), lit(4)) === 1).select(
      concat(hBase, lit("/sm/nested.xml")).as("sitemap_url"),
      concat(lit("<sitemapindex><sitemap><loc>"), hBase,
        lit("/sm/deep.xml</loc></sitemap></sitemapindex>")).as("xml"))
    val exBlk = concat(lit("<url><loc>http://h"), ks,
      lit(".example.org/x/doc"), did.cast("string"),
      lit("?a=1&amp;b=2</loc></url>"))
    val exAgg = Tables.documents(s, d).filter(pmod(did, lit(7)) === 0)
      .select(pmod(did, lit(19)).as("__k"),
        struct(did.as("i"), exBlk.as("b")).as("__e"))
      .groupBy("__k").agg(collect_list(col("__e")).as("__lst"))
      .select(col("__k"),
        array_join(transform(sort_array(col("__lst")),
          x => x.getField("b")), "").as("__body"))
    val extra = hosts.filter(pmod(col("__k"), lit(5)) === 2)
      .join(exAgg, Seq("__k"), "left_outer")
      .select(concat(hBase, lit("/extra.xml")).as("sitemap_url"),
        concat(lit("<urlset>"), coalesce(col("__body"), lit("")),
          lit("</urlset>")).as("xml"))
    root.unionByName(parts).unionByName(nested).unionByName(extra)
  }

  /** Oracle twin of [[sitemapCorpus]] + [[graft.operators.Sitemaps.expand]],
    * shared VERBATIM by q259 and q260 (the q256/q258 discipline — the
    * two gates' expansion semantics cannot diverge). Ends in
    * `sexp(sitemap_url, entry_no, loc, lastmod, changefreq,
    * priority_milli, via_index, resolved)`.
    */
  private val sitemapCorpusCtes: String =
    s"""hostsx AS (SELECT DISTINCT (doc_id % 19) AS k FROM documents),
       |pb AS (
       |  SELECT doc_id, (doc_id % 19) AS k, (doc_id // 19) % 2 AS p,
       |    '<url><loc>http://h' || (doc_id % 19) || '.example.org' ||
       |    ($urlPathSql) || '</loc>' ||
       |    CASE WHEN doc_id % 4 = 2 THEN '<lastmod>2024-03-' ||
       |      lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
       |      '</lastmod>' ELSE '' END ||
       |    CASE WHEN doc_id % 3 = 0 THEN '<priority>0.' || (doc_id % 10) ||
       |      '</priority>' ELSE '' END || '</url>' AS b
       |  FROM documents),
       |partsx AS (
       |  SELECT 'http://h' || k || '.example.org/sm/part' || p ||
       |      '.xml' AS su,
       |    '<urlset>' || string_agg(b, '' ORDER BY doc_id) ||
       |      '</urlset>' AS xml
       |  FROM pb GROUP BY k, p),
       |rootx AS (
       |  SELECT 'http://h' || k || '.example.org/sitemap.xml' AS su,
       |    '<sitemapindex><sitemap><loc>http://h' || k ||
       |    '.example.org/sm/part0.xml</loc><lastmod>2024-01-15</lastmod></sitemap>' ||
       |    '<sitemap><loc>http://h' || k ||
       |    '.example.org/sm/part1.xml</loc></sitemap>' ||
       |    CASE WHEN k % 3 = 0 THEN '<sitemap><loc>http://h' || k ||
       |      '.example.org/sm/missing.xml</loc></sitemap>' ELSE '' END ||
       |    CASE WHEN k % 4 = 1 THEN '<sitemap><loc>http://h' || k ||
       |      '.example.org/sm/nested.xml</loc></sitemap>' ELSE '' END ||
       |    '</sitemapindex>' AS xml
       |  FROM hostsx),
       |nestx AS (
       |  SELECT 'http://h' || k || '.example.org/sm/nested.xml' AS su,
       |    '<sitemapindex><sitemap><loc>http://h' || k ||
       |    '.example.org/sm/deep.xml</loc></sitemap></sitemapindex>' AS xml
       |  FROM hostsx WHERE k % 4 = 1),
       |exb AS (
       |  SELECT (doc_id % 19) AS k, doc_id,
       |    '<url><loc>http://h' || (doc_id % 19) ||
       |    '.example.org/x/doc' || doc_id ||
       |    '?a=1&amp;b=2</loc></url>' AS b
       |  FROM documents WHERE doc_id % 7 = 0),
       |extrax AS (
       |  SELECT 'http://h' || h.k || '.example.org/extra.xml' AS su,
       |    '<urlset>' ||
       |      coalesce(string_agg(e.b, '' ORDER BY e.doc_id), '') ||
       |      '</urlset>' AS xml
       |  FROM hostsx h LEFT JOIN exb e ON e.k = h.k
       |  WHERE h.k % 5 = 2 GROUP BY h.k),
       |corpusx AS (
       |  SELECT su, xml FROM rootx UNION ALL SELECT su, xml FROM partsx
       |  UNION ALL SELECT su, xml FROM nestx
       |  UNION ALL SELECT su, xml FROM extrax),
       |sextq AS (
       |  SELECT su, unnest(generate_series(1, len(bl))) AS entry_no,
       |    unnest(bl) AS blkx
       |  FROM (SELECT su, regexp_extract_all(xml,
       |          '(?is)<url\\s*>.*?</url\\s*>|<sitemap\\s*>.*?</sitemap\\s*>',
       |          0) AS bl
       |        FROM corpusx) x),
       |sent AS (
       |  SELECT * FROM (
       |    SELECT su AS sitemap_url, CAST(entry_no AS BIGINT) AS entry_no,
       |      replace(replace(replace(replace(replace(
       |        trim(regexp_extract(blkx, '(?is)<loc\\s*>(.*?)</loc\\s*>', 1)),
       |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
       |        '&amp;', '&') AS loc,
       |      trim(regexp_extract(blkx,
       |        '(?is)<lastmod\\s*>(.*?)</lastmod\\s*>', 1)) AS lastmod,
       |      trim(regexp_extract(blkx,
       |        '(?is)<changefreq\\s*>(.*?)</changefreq\\s*>', 1)) AS changefreq,
       |      CASE WHEN trim(regexp_extract(blkx,
       |          '(?is)<priority\\s*>(.*?)</priority\\s*>', 1)) <> ''
       |        THEN CAST(CAST(trim(regexp_extract(blkx,
       |          '(?is)<priority\\s*>(.*?)</priority\\s*>', 1))
       |          AS DECIMAL(10,3)) * 1000 AS BIGINT) END AS priority_milli,
       |      regexp_matches(blkx, '(?is)^<sitemap\\s*>') AS from_index
       |    FROM sextq) y
       |  WHERE loc <> ''),
       |refsx AS (SELECT loc AS child, min(sitemap_url) AS via_index
       |          FROM sent WHERE from_index GROUP BY loc),
       |docsx AS (SELECT DISTINCT su FROM corpusx),
       |sexp AS (
       |  SELECT e.sitemap_url, e.entry_no, e.loc, e.lastmod,
       |    e.changefreq, e.priority_milli, r.via_index,
       |    NOT e.from_index AS resolved
       |  FROM sent e LEFT JOIN refsx r ON r.child = e.sitemap_url
       |  WHERE (NOT e.from_index)
       |     OR NOT EXISTS (SELECT 1 FROM docsx c WHERE c.su = e.loc))""".stripMargin


  /** Spark twin of [[seedMergeCtes]] — the q255/q261 shared fixture:
    * robots-allowed discovered URLs canon-merged with per-host sitemap
    * seeds (even docs respell their discovered twin — uppercase host +
    * tracking params, entity-escaped as the sitemap spec requires; odd
    * docs declare new /seed/ URLs; priority on doc%3==0). Returns
    * [[graft.operators.Frontier.mergeSeeds]]' (canon, url, source,
    * priority_milli).
    */
  private def seedMerge(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id")
    val ks = pmod(did, lit(19)).cast("string")
    val docs = Tables.documents(s, d)
    val urls = docs.select(did,
      concat(lit("http://h"), ks, lit(".example.org"), urlPath(did))
        .as("url"))
    val robots = robotsFixture(s, d)
    val allowed = graft.operators.Robots.allowed(urls, "doc_id",
      col("url"), robots, "host", col("body"), agent = "graftbot")
      .filter(col("allowed"))
      .select(col("doc_id"), col("url"))
    // seed urlset XML per host: even docs respell their discovered
    // twin (uppercase host + tracking params, & entity-escaped as
    // the sitemap spec REQUIRES); odd docs declare new /seed/ URLs;
    // priority on doc%3==0
    val blk = concat(lit("<url><loc>"),
      when(pmod(did, lit(2)) === 0, concat(
        lit("http://H"), ks, lit(".EXAMPLE.ORG"), urlPath(did),
        lit("?utm_source=sm&amp;utm_medium=x")))
        .otherwise(concat(lit("http://h"), ks,
          lit(".example.org/seed/doc"), did.cast("string"))),
      lit("</loc>"),
      when(pmod(did, lit(3)) === 0, concat(lit("<priority>0."),
        pmod(did, lit(10)).cast("string"), lit("</priority>")))
        .otherwise(lit("")),
      lit("</url>"))
    val xmls = docs
      .select(pmod(did, lit(19)).as("__k"),
        struct(did.as("i"), blk.as("b")).as("__e"))
      .groupBy("__k").agg(collect_list(col("__e")).as("__lst"))
      .select(concat(lit("h"), col("__k").cast("string"),
          lit(".example.org")).as("host"),
        concat(lit("<urlset>"),
          array_join(transform(sort_array(col("__lst")),
            x => x.getField("b")), ""),
          lit("</urlset>")).as("xml"))
    val seeds = graft.operators.Sitemaps.entries(xmls, "host", col("xml"))
      .filter(!col("from_index"))
    val merged = graft.operators.Frontier.mergeSeeds(
      allowed, col("url"), seeds, col("loc"), col("priority_milli"))
    merged
  }


  /** Oracle replay of [[graft.operators.WebGraph.redirectChains]] over
    * the q263/q264 fetch fixture (the %11 residue walk): synthesis,
    * Location ABSOLUTIZATION against the source URL ([[resolveSql]] —
    * the same shared resolution text as the href chain; RFC 7231
    * §7.1.2 allows relative Location and the fixture synthesizes
    * root-relative, protocol-relative, and path-relative forms),
    * min-RESOLVED-target collapse, four unrolled hop joins, the settle
    * probe (`exceeded` only with a real remaining redirect edge — a
    * chain landing at exactly maxHops is settled), and the membership
    * verdict. Shared text (the q256/q258 discipline — chain semantics
    * cannot diverge between the resolution gate and its consumers);
    * ends in `rc(url, final_url, hops, outcome, perm_url)` —
    * `perm_url` the longest all-permanent (301/308) prefix landing,
    * tracked through the hops as (pcur, pstop) exactly like the
    * engine.
    */
  private lazy val redirectCtes: String = {
    def hop(i: Int): String =
      s"""c$i AS (
         |  SELECT url,
         |    CASE WHEN done OR r.dst IS NULL THEN cur ELSE r.dst END AS cur,
         |    hops + CASE WHEN NOT done AND r.dst IS NOT NULL
         |      THEN 1 ELSE 0 END AS hops,
         |    done OR r.dst IS NULL AS done,
         |    CASE WHEN NOT pstop AND NOT done AND r.dst IS NOT NULL
         |        AND r.permi = 1 THEN r.dst ELSE pcur END AS pcur,
         |    pstop OR done OR r.dst IS NULL OR r.permi <> 1 AS pstop
         |  FROM c${i - 1} LEFT JOIN red r
         |    ON NOT c${i - 1}.done AND r.src = c${i - 1}.cur)""".stripMargin
    def u(expr: String): String =
      s"'http://h' || (($expr) % 19) || '.example.org/r/doc' || ($expr)"
    s"""resp AS (
       |  SELECT ${u("doc_id")} AS url,
       |    CASE WHEN doc_id % 11 = 0 THEN 301
       |         WHEN doc_id % 11 = 1 THEN 302
       |         WHEN doc_id % 11 = 2 THEN 301
       |         WHEN doc_id % 11 = 3 THEN 301
       |         WHEN doc_id % 11 = 5 THEN 301
       |         WHEN doc_id % 11 = 6 THEN 302
       |         WHEN doc_id % 11 = 7 THEN 301
       |         WHEN doc_id % 11 = 8 THEN 307
       |         WHEN doc_id % 11 = 9 THEN 302
       |         WHEN doc_id % 11 = 10 THEN 303
       |         ELSE 200 END AS status,
       |    CASE WHEN doc_id % 11 = 0 THEN ${u("doc_id + 1")}
       |         WHEN doc_id % 11 = 1 THEN ${u("doc_id + 2")}
       |         WHEN doc_id % 11 = 2 THEN ${u("doc_id + 4")}
       |         WHEN doc_id % 11 = 3 THEN 'http://h' || (doc_id % 19) ||
       |           '.example.org/private' || (doc_id % 19) ||
       |           '/moved/doc' || doc_id
       |         WHEN doc_id % 11 = 5 THEN ${u("doc_id")}
       |         WHEN doc_id % 11 = 6 THEN ${u("doc_id + 2")}
       |         WHEN doc_id % 11 = 7 THEN '/r/doc' || (doc_id + 19)
       |         WHEN doc_id % 11 = 8 THEN ${u("doc_id + 1")}
       |         WHEN doc_id % 11 = 9 THEN '//h' || (doc_id % 19) ||
       |           '.example.org/r/doc' || (doc_id + 171)
       |         WHEN doc_id % 11 = 10 THEN '../r/doc' || (doc_id + 19)
       |         END AS location
       |  FROM documents),
       |red0 AS (
       |  -- (src,dst)-grain permanence first (conflicting duplicate
       |  -- fetches of one edge read temporary: min), THEN min-dst per
       |  -- src with arg_min carrying that dst's reading — the SQL twin
       |  -- of the engine's struct-min collapse
       |  SELECT src, dst, min(permi) AS permi FROM (
       |    SELECT src, ${dotNormSql("draw")} AS dst, permi FROM (
       |      SELECT url AS src, ${resolveSql("location")} AS draw,
       |        CASE WHEN status IN (301, 308) THEN 1 ELSE 0 END AS permi
       |      FROM (SELECT url, location, status,
       |              regexp_extract(url, '^(https?)://', 1) AS sch,
       |              regexp_extract(url, '^https?://([^/?#]+)', 1) AS hst,
       |              regexp_extract(url, '^https?://[^/?#]+(/[^?#]*)', 1) AS pth
       |            FROM resp
       |            WHERE status >= 300 AND status <= 399
       |              AND location IS NOT NULL) z) zz) y
       |  WHERE dst IS NOT NULL AND dst <> ''
       |  GROUP BY src, dst),
       |red AS (
       |  SELECT src, min(dst) AS dst, arg_min(permi, dst) AS permi
       |  FROM red0 GROUP BY src),
       |c1 AS (
       |  SELECT resp.url, coalesce(r.dst, resp.url) AS cur,
       |    CASE WHEN r.dst IS NULL THEN 0 ELSE 1 END AS hops,
       |    r.dst IS NULL AS done,
       |    CASE WHEN r.dst IS NOT NULL AND r.permi = 1 THEN r.dst
       |         ELSE resp.url END AS pcur,
       |    r.dst IS NULL OR r.permi <> 1 AS pstop
       |  FROM resp LEFT JOIN red r ON r.src = resp.url),
       |${(2 to 4).map(hop).mkString(",\n")},
       |cp AS (
       |  SELECT c4.url, c4.cur, c4.hops, c4.done, c4.pcur, r.dst AS nxt
       |  FROM c4 LEFT JOIN red r ON NOT c4.done AND r.src = c4.cur),
       |mem AS (SELECT DISTINCT url AS u FROM resp),
       |rc AS (
       |  SELECT cp.url, cp.cur AS final_url, CAST(cp.hops AS BIGINT) AS hops,
       |    CASE WHEN NOT cp.done AND cp.nxt IS NOT NULL THEN 'exceeded'
       |         WHEN m.u IS NULL THEN 'dangling'
       |         ELSE 'ok' END AS outcome,
       |    cp.pcur AS perm_url
       |  FROM cp LEFT JOIN mem m ON m.u = cp.cur)""".stripMargin
  }


  /** Spark twin of [[redirectCtes]] — the q263/q264 shared fixture:
    * the %11 residue fetch results resolved through
    * [[graft.operators.WebGraph.redirectChains]].
    */
  private def redirectResolved(s: SparkSession, d: String): DataFrame =
    graft.operators.WebGraph.redirectChains(redirectFixture(s, d), "url",
      col("status"), col("location"), maxHops = 4)

  /** The q263/q264/q265 fetch-result fixture (url, status, location) —
    * Spark twin of [[redirectCtes]]' `resp`. The %11 residue walk
    * covers every Location form the resolution contract names:
    * absolute chains (0→1→3: three hops into a robots-DISALLOWED
    * /private landing — dangling; 2→6→8→9: exactly-maxHops settled),
    * a self-loop (5 — exceeded), root-relative (7), protocol-relative
    * (9, same-host +171 ≡ 0 mod 19 so the landing IS a fetched URL),
    * and path-relative (10, resolved against the /r/ base directory).
    */
  private def redirectFixture(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id")
    val ks = pmod(did, lit(19)).cast("string")
    def u(x: Column): Column =
      concat(lit("http://h"), pmod(x, lit(19)).cast("string"),
        lit(".example.org/r/doc"), x.cast("string"))
    Tables.documents(s, d).select(
      u(did).as("url"),
      when(pmod(did, lit(11)) === 0, 301)
        .when(pmod(did, lit(11)) === 1, 302)
        .when(pmod(did, lit(11)) === 2, 301)
        .when(pmod(did, lit(11)) === 3, 301)
        .when(pmod(did, lit(11)) === 5, 301)
        .when(pmod(did, lit(11)) === 6, 302)
        .when(pmod(did, lit(11)) === 7, 301)
        .when(pmod(did, lit(11)) === 8, 307)
        .when(pmod(did, lit(11)) === 9, 302)
        .when(pmod(did, lit(11)) === 10, 303)
        .otherwise(200).as("status"),
      when(pmod(did, lit(11)) === 0, u(did + 1))
        .when(pmod(did, lit(11)) === 1, u(did + 2))
        .when(pmod(did, lit(11)) === 2, u(did + 4))
        .when(pmod(did, lit(11)) === 3, concat(lit("http://h"), ks,
          lit(".example.org/private"), ks,
          lit("/moved/doc"), did.cast("string")))
        .when(pmod(did, lit(11)) === 5, u(did))
        .when(pmod(did, lit(11)) === 6, u(did + 2))
        .when(pmod(did, lit(11)) === 7,
          concat(lit("/r/doc"), (did + 19).cast("string")))
        .when(pmod(did, lit(11)) === 8, u(did + 1))
        .when(pmod(did, lit(11)) === 9, concat(lit("//h"), ks,
          lit(".example.org/r/doc"), (did + 171).cast("string")))
        // path-relative WITH a dot segment: /r/docN's base dir is /r/,
        // so ../r/docM normalizes back to /r/docM — the same landing
        // as the pre-r14 plain 'docM' spelling, now exercising the
        // §5.2.4 fold through q263/q264/q265's hash gates
        .when(pmod(did, lit(11)) === 10,
          concat(lit("../r/doc"), (did + 19).cast("string")))
        .as("location"))
  }

  /** The per-doc decision path — Spark twin of [[urlPathSql]]. */
  private def urlPath(did: Column): Column = {
    val ks = pmod(did, lit(19)).cast("string")
    val ds = did.cast("string")
    when(pmod(did, lit(6)) === 0,
      concat(lit("/private"), ks, lit("/doc"), ds))
      .when(pmod(did, lit(6)) === 1,
        concat(lit("/private"), ks, lit("/ok/doc"), ds))
      .when(pmod(did, lit(6)) === 2,
        concat(lit("/tmp/doc"), ds, lit(".tmp")))
      .when(pmod(did, lit(6)) === 3, concat(lit("/all/doc"), ds))
      .when(pmod(did, lit(6)) === 4, concat(lit("/a.b/doc"), ds))
      .when(pmod(did, lit(12)) === 5, concat(lit("/graftonly/doc"), ds))
      .otherwise(concat(lit("/clean/doc"), ds, lit("?q=1")))
  }

  /** The q251 WARC crawl fixture, synthesized ONCE per (JVM, dataset)
    * and memoized: q251's lambda lazily reads the dir, so repeated
    * runs in one session (bench prepare + timed run, repeated
    * hand-measurement) reuse the materialized files instead of
    * re-exporting — the gzip/export I/O was the noise source that made
    * the q251 gate un-adjudicable (anchor 2.7 s, isolates 5–12 s,
    * r14 verdict). `Bench` invokes this through the QueryDef
    * `prepare` hook OUTSIDE the timed window; `Verify` and ad-hoc
    * callers pay it on their first lambda call, exactly as before.
    */
  private val crawlpolDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def crawlpolFixture(s: SparkSession, d: String): String =
    crawlpolDirs.computeIfAbsent(d, _ => {
      val docs = Tables.documents(s, d)
      val base = new java.io.File(d).getName
      val dir = graft.operators.Scratch.dir(s"graft_crawlpol_$base")
      Option(new java.io.File(dir).listFiles())
        .foreach(_.foreach(f =>
          if (f.getName.endsWith(".warc.gz")) f.delete()))
      val did = col("doc_id")
      val leaders = docs.select(did.as("lid"), col("text").as("ptext"))
      val src = docs.select(did)
        .join(leaders, (did - pmod(did, lit(3))) === col("lid"))
      val html = concat(lit("<html><head>"),
        when(pmod(did, lit(5)) === 0,
          lit("<meta content=\"noindex, follow\" name=\"robots\">"))
          .otherwise(lit("")),
        lit("</head><body><p>"), col("ptext"),
        lit("</p><script>var x = 1;</script></body></html>"))
      val staged = src.select(did,
        concat(lit("http://h"), pmod(did, lit(19)).cast("string"),
          lit(".example.org"), urlPath(did)).as("uri"),
        timestamp_seconds(lit(1704067200L)).as("dt"),
        concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nX-Doc-Id: "),
          did.cast("string"), lit("\r\n\r\n"), html).as("http"))
      // 32 shards = one gzip member per core on the read side: the
      // 4-shard layout gated decompression to 4 tasks, which both
      // slowed the timed read and let one busy core swing the gate
      // 1.5x run-to-run (content hashes are layout-independent — the
      // gate output is row-grain, the oracle replays from documents)
      graft.sources.Warc.export(staged, "doc_id", "uri", "dt", "http", dir,
        numShards = 32, compress = true, infoDateSecs = 0L,
        shardCol = Some(pmod(did, lit(32))),
        contentType = "application/http; msgtype=response")
      dir
    })

  val all: Seq[QueryDef] = Seq(

    // WAT OUTLINK EXTRACTION through a REAL WARC cycle: pages staged
    // as full HTTP responses, exported per-record-gzip (q219 sink),
    // read back through the DSv2 source, HTTP-parsed (q225), and the
    // href funnel run on the round-tripped body with the page's
    // WARC-Target-URI as the resolution base. The oracle replays
    // synthesis + regex + resolution from `documents` alone, so a
    // byte lost anywhere in the WARC cycle fails the hash too.
    QueryDef.sql("q244_wat_outlinks",
      s"""WITH $linksCtes
         |SELECT doc_id, link_no, href, url, nofollow, src_host, dst_host
         |FROM links""".stripMargin) {
      (s, d) => {
        val base = new java.io.File(d).getName
        val dir = graft.operators.Scratch.dir(s"graft_wat_$base")
        Option(new java.io.File(dir).listFiles())
          .foreach(_.foreach(f => if (f.getName.endsWith(".warc.gz")) f.delete()))
        val staged = pages(s, d).select(col("doc_id"), col("uri"),
          timestamp_seconds(lit(1704067200L)).as("dt"),
          concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
            col("html")).as("http"))
        graft.sources.Warc.export(staged, "doc_id", "uri", "dt", "http", dir,
          numShards = 4, compress = true, infoDateSecs = 0L,
          shardCol = Some(pmod(col("doc_id"), lit(4))),
          contentType = "application/http; msgtype=response")
        val resp = s.read.format("warc").load(dir)
          .filter(col("warc_type") === "response")
          .select(
            regexp_extract(col("target_uri"), "/p/(\\d+)$", 1).cast("long")
              .as("doc_id"),
            col("target_uri").as("uri"),
            graft.sources.Warc.httpMessage(col("payload"))
              .getField("body").as("html"))
        WebGraph.outlinks(resp, "doc_id", col("uri"), col("html"))
      }
    },

    // HOST-GRAPH CENSUS (the WAT aggregate a crawl publishes): the
    // weighted host→host link counts, self-edges INCLUDED — the
    // honest census; rank queries filter them. Relational build (no
    // WARC I/O): the extraction funnel is the same gated funnel as
    // q244, here feeding the one aggregate shuffle.
    QueryDef.sql("q245_host_graph",
      s"""WITH $linksCtes
         |SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
         |FROM links GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        WebGraph.hostEdges(
          WebGraph.outlinks(pages(s, d), "doc_id", col("uri"), col("html")),
          col("src_host"), col("dst_host"))
    },

    // HOST PAGERANK over the mined graph (q116's integer-exact 4
    // iterations on q244's edges — the Common Crawl host-rank
    // composition). All hosts output (19 nodes); the oracle unrolls
    // the same iterations over the same regex-mined edge CTE.
    QueryDef.sql("q246_host_pagerank",
      s"""WITH $hostEdgeCtes,
         |${hostRankCtes(4)}
         |SELECT 'h' || node || '.example.org' AS host,
         |       CAST(r AS BIGINT) AS rank_micro
         |FROM r4""".stripMargin) {
      (s, d) =>
        Graphs.pageRankMicro(hostEdges(s, d), iterations = 4)
          .select(hostName(col("node")).as("host"), col("rank_micro"))
    },

    // WAT PAGE METADATA (the other half of a WAT record next to the
    // outlink list): title (whitespace-normalized across a newline —
    // the (?s) path), meta description (value holds an apostrophe —
    // the per-quote alternation fix), canonical URL ABSOLUTIZED
    // against the page URI (residues: absolute / root-relative /
    // single-quoted path-relative / absent — the site's own dedup
    // hint must come out join-able cross-host), declared html lang,
    // robots-noindex verdict. The robots meta deliberately puts
    // content BEFORE name (attribute order is free); the oracle
    // replays extraction AND the resolution CASE.
    QueryDef.sql("q249_wat_page_meta",
      raw"""WITH m AS (
        |  SELECT doc_id,
        |    'http://h' || (doc_id % 19) || '.example.org/p/' || doc_id AS uri,
        |    '<html lang="' || lang || '"><head>' ||
        |    CASE WHEN doc_id % 7 = 5 THEN
        |      '<base href="http://canon-b.example/cb/">' ELSE '' END ||
        |    '<title>  Doc ' || doc_id ||
        |    chr(10) || ' - ' || source || '  </title>' ||
        |    CASE WHEN doc_id % 4 = 0 THEN
        |      '<meta name="description" content="doc ' ||
        |      doc_id || '''s summary">' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN
        |      '<meta content="noindex, follow" name="robots">' ELSE '' END ||
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      '<link rel="canonical" href="http://canon.example/c/' ||
        |      (doc_id - doc_id % 3) || '">'
        |    WHEN doc_id % 3 = 1 THEN
        |      '<link rel="canonical" href="/c/' || doc_id ||
        |      '?x=1&amp;y=2">'
        |    WHEN doc_id % 6 = 2 THEN
        |      '<link rel=''canonical'' href=''../c/c' || doc_id || '''>'
        |    ELSE '' END ||
        |    '</head><body><p>' || text || '</p></body></html>' AS html
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, html,
        |    regexp_extract(uri, '^(https?)://', 1) AS sch,
        |    regexp_extract(uri, '^https?://([^/?#]+)', 1) AS hst,
        |    regexp_extract(uri, '^https?://[^/?#]+(/[^?#]*)', 1) AS pth,
        |    regexp_replace(regexp_extract(regexp_extract(html,
        |      '(?i)<base(\s[^>]*)?>', 0),
        |      '(?i)\bhref\s*=\s*("[^">]*"|''[^''>]*'')', 1),
        |      '^["'']|["'']$$', '', 'g') AS bas,
        |    trim(regexp_replace(regexp_extract(regexp_extract(html,
        |      '(?i)<link\s[^>]*rel\s*=\s*("canonical"|''canonical'')[^>]*>', 0),
        |      '(?i)\bhref\s*=\s*("[^">]*"|''[^''>]*'')', 1),
        |      '^["'']|["'']$$', '', 'g')) AS canr
        |  FROM m),
        |xd AS (SELECT *, ${unescapeSql("bas")} AS bas_d,
        |         ${unescapeSql("canr")} AS canr_d FROM x),
        |xb AS (SELECT xd.*, ${resolveSql("bas_d")} AS baseurl FROM xd),
        |xe AS (
        |  SELECT doc_id, html, canr_d,
        |    CASE WHEN baseurl IS NOT NULL THEN
        |      regexp_extract(baseurl, '^(?i)(https?)://', 1) ELSE sch END AS sch2,
        |    CASE WHEN baseurl IS NOT NULL THEN
        |      regexp_extract(baseurl, '^(?i)https?://([^/?#]+)', 1)
        |      ELSE hst END AS hst2,
        |    CASE WHEN baseurl IS NOT NULL THEN
        |      regexp_extract(baseurl, '^(?i)https?://[^/?#]+(/[^?#]*)', 1)
        |      ELSE pth END AS pth2
        |  FROM xb),
        |xf AS (SELECT doc_id, html, canr_d,
        |         sch2 AS sch, hst2 AS hst, pth2 AS pth FROM xe),
        |xg AS (SELECT doc_id, html,
        |         ${resolveSql("canr_d")} AS canu FROM xf)
        |SELECT doc_id,
        |  trim(regexp_replace(regexp_extract(html,
        |    '(?is)<title[^>]*>(.*?)</title\s*>', 1), '\s+', ' ', 'g')) AS title,
        |  regexp_replace(regexp_extract(regexp_extract(html,
        |    '(?i)<meta\s[^>]*name\s*=\s*("description"|''description'')[^>]*>', 0),
        |    '(?i)\bcontent\s*=\s*("[^">]*"|''[^''>]*'')', 1),
        |    '^["'']|["'']$$', '', 'g') AS meta_description,
        |  coalesce(${dotNormSql("canu")}, '') AS canonical_url,
        |  regexp_replace(regexp_extract(html,
        |    '(?i)<html\s[^>]*\blang\s*=\s*("[^">]*"|''[^''>]*'')', 1),
        |    '^["'']|["'']$$', '', 'g') AS html_lang,
        |  regexp_matches(regexp_extract(html,
        |    '(?i)<meta\s[^>]*name\s*=\s*("robots"|''robots'')[^>]*>', 0),
        |    '(?i)\bcontent\s*=\s*("[^">]*\bnoindex\b|''[^''>]*\bnoindex\b)') AS noindex
        |FROM xg""".stripMargin) {
      (s, d) => {
        val did = col("doc_id")
        val ds = did.cast("string")
        val uri = concat(lit("http://h"), pmod(did, lit(19)).cast("string"),
          lit(".example.org/p/"), ds)
        val html = concat(
          lit("<html lang=\""), col("lang"), lit("\"><head>"),
          when(pmod(did, lit(7)) === 5,
            lit("<base href=\"http://canon-b.example/cb/\">"))
            .otherwise(lit("")),
          lit("<title>  Doc "),
          ds, lit("\n - "), col("source"), lit("  </title>"),
          when(pmod(did, lit(4)) === 0,
            concat(lit("<meta name=\"description\" content=\"doc "),
              ds, lit("'s summary\">"))).otherwise(lit("")),
          when(pmod(did, lit(5)) === 0,
            lit("<meta content=\"noindex, follow\" name=\"robots\">"))
            .otherwise(lit("")),
          when(pmod(did, lit(3)) === 0,
            concat(lit("<link rel=\"canonical\" href=\"http://canon.example/c/"),
              (did - pmod(did, lit(3))).cast("string"), lit("\">")))
            .when(pmod(did, lit(3)) === 1,
              concat(lit("<link rel=\"canonical\" href=\"/c/"), ds,
                lit("?x=1&amp;y=2\">")))
            // dot-segment relative canonical: /p/N's base dir + ../c/
            // normalizes to /c/cN — §5.2.4 through the q249 hash
            .when(pmod(did, lit(6)) === 2,
              concat(lit("<link rel='canonical' href='../c/c"), ds, lit("'>")))
            .otherwise(lit("")),
          lit("</head><body><p>"), col("text"), lit("</p></body></html>"))
        // frame form: the full struct (canonical_url included) is
        // consumed, so the base/canonical scans must materialize once
        // per page — the r13 base-regression fix
        WebGraph.pageMetaFrame(Tables.documents(s, d), uri, html, out = "m")
          .select(col("doc_id"), col("m.title"), col("m.meta_description"),
            col("m.canonical_url"), col("m.html_lang"), col("m.noindex"))
      }
    },

    // STREAMING WAT MINING (q229's live two-wave ingest composed with
    // q244's extraction): crawl files land in two waves against a LIVE
    // readStream.format("warc") query; each micro-batch HTTP-parses
    // its records and mines outlinks INSIDE the trigger — the
    // incremental link-graph build a continuously-crawling pipeline
    // runs. The gate pins that batch 1 mined exactly the even docs'
    // links and batch 2 the odd ones (no reprocessing, no holes), with
    // the full resolution funnel applied to round-tripped bytes; the
    // trigger-internal extraction plan is fingerprinted.
    QueryDef.sql("q248_stream_wat_links",
      s"""WITH $linksCtes
         |SELECT doc_id, link_no, url, nofollow,
         |       CAST(doc_id % 2 AS BIGINT) AS wave
         |FROM links""".stripMargin) {
      (s, d) => {
        import s.implicits._
        val base = new java.io.File(d).getName
        val dir = graft.operators.Scratch.dir(s"graft_wstream_wat_$base")
        Option(new java.io.File(dir).listFiles())
          .foreach(_.foreach(f => if (f.getName.endsWith(".warc.gz")) f.delete()))
        val staged = pages(s, d).select(col("doc_id"), col("uri"),
          timestamp_seconds(lit(1704067200L)).as("dt"),
          concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
            col("html")).as("http"))
        def wave(parity: Int, shardBase: Int): Unit =
          graft.sources.Warc.export(
            staged.filter(pmod(col("doc_id"), lit(2)) === parity),
            "doc_id", "uri", "dt", "http", dir, numShards = 4,
            compress = true, infoDateSecs = 0L,
            shardCol = Some(pmod(col("doc_id"), lit(4)) + lit(shardBase)),
            contentType = "application/http; msgtype=response")
        wave(0, 0)
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, String, Boolean)]
        val q = s.readStream.format("warc").load(dir)
          .filter(col("warc_type") === "response")
          .writeStream.foreachBatch {
            (b: org.apache.spark.sql.DataFrame, id: Long) =>
              val withId = b.select(
                regexp_extract(col("target_uri"), "/p/(\\d+)$", 1)
                  .cast("long").as("doc_id"),
                col("target_uri").as("uri"),
                graft.sources.Warc.httpMessage(col("payload"))
                  .getField("body").as("html"))
              val mined = WebGraph.outlinks(withId, "doc_id",
                col("uri"), col("html"))
                .select(col("doc_id"), col("link_no"), col("url"),
                  col("nofollow"))
              graft.TriggerPlanProbe.record("q248_stream_wat_links", mined)
              val rows = mined.collect()
              buf.synchronized {
                buf ++= rows.map(r => (id, r.getLong(0), r.getLong(1),
                  r.getString(2), r.getBoolean(3)))
              }
              ()
          }.start()
        // wave boundary = the max batch id OBSERVED between the two
        // processAllAvailable calls — correct even if the source ever
        // splits a wave across several micro-batches (labeling by
        // "bid == min" would silently mislabel a second wave-0 batch)
        val wave0MaxBid =
          try {
            q.processAllAvailable()
            val b = buf.synchronized { if (buf.isEmpty) -1L else buf.map(_._1).max }
            wave(1, 4); q.processAllAvailable()
            b
          } finally q.stop()
        val snapshot = buf.synchronized { buf.toList }
        snapshot.map { case (bid, docId, linkNo, url, nf) =>
          (docId, linkNo, url, nf, if (bid <= wave0MaxBid) 0L else 1L) }
          .toDF("doc_id", "link_no", "url", "nofollow", "wave")
      }
    },

    // ROBOTS.TXT EVALUATION (RFC 9309 core — the crawl politeness
    // filter): per-host robots bodies are parsed relationally (line
    // split → key/value → consecutive-User-agent grouping →
    // longest-prefix-else-* group selection → wildcard/anchor pattern
    // compilation), then every URL gets its longest-match verdict
    // (allow beats disallow on ties). All three RFC selection tiers
    // are exercised: k%3!=2 hosts carry the exact `graftbot` group
    // (longest possible prefix — beats the `graft` group where both
    // exist); k%3==2 ∧ k odd hosts carry only the `graft` PREFIX
    // group (beats *); k%3==2 ∧ k even hosts fall through to *.
    // k%5==0 hosts also carry a `graftbot-news` group with
    // `Disallow: /` — NOT a prefix of the product token `graftbot`,
    // so selecting it anywhere flips every verdict on those hosts:
    // the negative control. The /a.b/ rule exercises literal-dot
    // escaping, /*.tmp$ the wildcard+anchor compile, and the ?q=1
    // path the path+query decision input. The oracle replays the
    // ENTIRE funnel — parse windows, selection, regex compile, match,
    // winner window — in SQL.
    QueryDef.sql("q250_robots_eval",
      s"""WITH $robotsDirsCtes,
         |$robotsVerdictCtes
         |SELECT doc_id, url, host,
         |  (NOT m) OR rule = 'allow' AS allowed,
         |  CASE WHEN m THEN rule END AS rule,
         |  CASE WHEN m THEN rpath END AS rule_path
         |FROM win WHERE rn = 1""".stripMargin) {
      (s, d) => {
        val did = col("doc_id")
        val urls = Tables.documents(s, d).select(did,
          concat(lit("http://h"), pmod(did, lit(19)).cast("string"),
            lit(".example.org"), urlPath(did)).as("url"))
        graft.operators.Robots.allowed(urls, "doc_id", col("url"),
          robotsFixture(s, d), "host", col("body"), agent = "graftbot")
      }
    },

    // HOST HITS over the same mined graph (q232's max-normalized
    // integer iterations): hubs = hosts that link out to important
    // hosts, authorities = hosts linked from good hubs — on a real
    // crawl these separate directories/aggregators from content
    // hosts, which PageRank alone conflates. Full 19-host output,
    // both scores per host.
    QueryDef.sql("q247_host_hits", {
      def it(i: Int): String =
        s"""ra$i AS MATERIALIZED (
           |  SELECT n.node, coalesce(x.s, 0) AS r FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, sum(h${i - 1}.h) AS s FROM hedges e
           |    JOIN h${i - 1} ON e.src = h${i - 1}.node GROUP BY e.dst) x
           |  ON n.node = x.node),
           |a$i AS MATERIALIZED (
           |  SELECT node, (1000000 * r) // (SELECT max(r) FROM ra$i) AS a
           |  FROM ra$i),
           |rh$i AS MATERIALIZED (
           |  SELECT n.node, coalesce(x.s, 0) AS r FROM nodes n LEFT JOIN (
           |    SELECT e.src AS node, sum(a$i.a) AS s FROM hedges e
           |    JOIN a$i ON e.dst = a$i.node GROUP BY e.src) x
           |  ON n.node = x.node),
           |h$i AS MATERIALIZED (
           |  SELECT node, (1000000 * r) // (SELECT max(r) FROM rh$i) AS h
           |  FROM rh$i)""".stripMargin
      s"""WITH $hostEdgeCtes,
         |h0 AS (SELECT node, 1000000 AS h FROM nodes),
         |${(1 to 4).map(it).mkString(",\n")}
         |SELECT 'h' || a4.node || '.example.org' AS host,
         |       CAST(a4.a AS BIGINT) AS authority_micro,
         |       CAST(h4.h AS BIGINT) AS hub_micro
         |FROM a4 JOIN h4 ON a4.node = h4.node""".stripMargin
    }) {
      (s, d) =>
        Graphs.hitsMicro(hostEdges(s, d), iterations = 4)
          .select(hostName(col("node")).as("host"),
            col("authority_micro"), col("hub_micro"))
    },

    // CRAWL PIPELINE WITH THE POLITENESS LAYER (q234's funnel gated by
    // q250's robots verdicts and q249's noindex — the composition a
    // real pipeline runs): pages with q250's residue-class URLs and
    // q234's duplication groups land as full HTTP responses in WARC,
    // are read back and HTTP-parsed (doc_id via the X-Doc-Id header),
    // then (1) the ROUND-TRIPPED target URI gets its robots verdict
    // against the per-host dimension, (2) the round-tripped body gets
    // its noindex verdict, (3) only indexable docs (allowed ∧
    // ¬noindex) enter the markup-strip → token-gate → exact-dedup
    // funnel — so the census min-id keep rule SHIFTS when a dup
    // group's leader is excluded by politeness: the part q234 alone
    // cannot see. Per-doc verdicts all hash-gated; the oracle replays
    // the entire composition from `documents` alone.
    QueryDef.sqlPrepared("q251_crawl_politeness",
      s"""WITH $robotsDirsCtes,
         |src AS (
         |  SELECT d.doc_id, l.text AS ptext
         |  FROM documents d
         |  JOIN documents l ON l.doc_id = d.doc_id - d.doc_id % 3),
         |pg AS (
         |  SELECT doc_id,
         |    'h' || (doc_id % 19) || '.example.org' AS host,
         |    $urlPathSql AS p,
         |    '<html><head>' ||
         |    CASE WHEN doc_id % 5 = 0 THEN
         |      '<meta content="noindex, follow" name="robots">' ELSE '' END ||
         |    '</head><body><p>' || ptext ||
         |    '</p><script>var x = 1;</script></body></html>' AS raw
         |  FROM src),
         |rhits AS (
         |  SELECT g.doc_id, d.rule, d.path AS rpath,
         |    d.pattern IS NOT NULL AND regexp_matches(g.p, d.pattern) AS m,
         |    length(d.path) AS plen
         |  FROM pg g LEFT JOIN dirs d ON d.host = g.host),
         |win AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY
         |      CASE WHEN m THEN plen ELSE -1 END DESC,
         |      CASE WHEN rule = 'allow' THEN 1 ELSE 0 END DESC,
         |      rpath ASC NULLS LAST) AS rn
         |  FROM rhits),
         |verd AS (SELECT doc_id, (NOT m) OR rule = 'allow' AS allowed
         |         FROM win WHERE rn = 1),
         |ni AS (
         |  SELECT doc_id, regexp_matches(regexp_extract(raw,
         |    '(?i)<meta\\s[^>]*name\\s*=\\s*("robots"|''robots'')[^>]*>', 0),
         |    '(?i)\\bcontent\\s*=\\s*("[^">]*\\bnoindex\\b|''[^''>]*\\bnoindex\\b)')
         |    AS noindex
         |  FROM pg),
         |s1 AS (SELECT doc_id, regexp_replace(raw, '(?s)<!--.*?-->', ' ', 'g') AS t FROM pg),
         |s2 AS (SELECT doc_id,
         |         regexp_replace(t, '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g') AS t FROM s1),
         |s3 AS (SELECT doc_id,
         |         regexp_replace(t, '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g') AS t FROM s2),
         |s4 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s3),
         |s5 AS (SELECT doc_id,
         |         replace(replace(replace(replace(replace(replace(t,
         |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
         |           '&nbsp;', ' '), '&amp;', '&') AS t FROM s4),
         |c AS (SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS clean FROM s5),
         |sc AS (SELECT doc_id, clean,
         |         CASE WHEN length(trim(clean)) = 0 THEN 0
         |              ELSE len(list_filter(regexp_split_to_array(clean, '\\s+'),
         |                                   x -> x <> '')) END AS n_tokens
         |       FROM c),
         |idx AS (
         |  SELECT v.doc_id, v.allowed, ni.noindex,
         |         v.allowed AND NOT ni.noindex AS indexable
         |  FROM verd v JOIN ni ON v.doc_id = ni.doc_id),
         |cen AS (
         |  SELECT md5(sc.clean) AS dig, min(sc.doc_id) AS keep
         |  FROM sc JOIN idx ON sc.doc_id = idx.doc_id
         |  WHERE idx.indexable GROUP BY 1)
         |SELECT i.doc_id, i.allowed, i.noindex,
         |  CAST(sc.n_tokens AS BIGINT) AS n_tokens,
         |  CASE WHEN i.indexable THEN sc.doc_id <> cen.keep
         |       ELSE false END AS is_dup,
         |  CASE WHEN i.indexable
         |       THEN sc.doc_id = cen.keep AND sc.n_tokens >= 30
         |       ELSE false END AS kept
         |FROM idx i
         |JOIN sc ON i.doc_id = sc.doc_id
         |LEFT JOIN cen ON md5(sc.clean) = cen.dig AND i.indexable""".stripMargin)(
      (s, d) => { crawlpolFixture(s, d); () }) {
      (s, d) => {
        val dir = crawlpolFixture(s, d)
        // the parsed crawl is consumed three ways (robots verdict,
        // noindex verdict, strip funnel) — persist the ONE scan
        val parsed = graft.operators.CacheRegistry.persist(
          s.read.format("warc").load(dir)
            .filter(col("warc_type") === "response")
            .select(col("target_uri"),
              graft.sources.Warc.httpMessage(col("payload")).as("m"))
            .select(
              get(filter(col("m.headers"),
                h => h.getField("name") === lit("x-doc-id")), lit(0))
                .getField("value").cast("long").as("doc_id"),
              col("target_uri").as("url"), col("m.body").as("raw")))
        val verd = graft.operators.Robots.allowed(
          parsed.select(col("doc_id"), col("url")), "doc_id", col("url"),
          robotsFixture(s, d), "host", col("body"), agent = "graftbot")
          .select(col("doc_id"), col("allowed"))
        val scored = parsed.select(col("doc_id"),
          WebGraph.pageMeta(col("url"), col("raw")).getField("noindex")
            .as("noindex"),
          graft.functions.TextFunctions.stripMarkup(col("raw")).as("clean"))
          .withColumn("n_tokens",
            graft.functions.TextFunctions.tokenCount(col("clean")))
        val joined = scored.join(verd, Seq("doc_id"))
          .withColumn("indexable", col("allowed") && !col("noindex"))
        val census = joined.filter(col("indexable"))
          .groupBy(md5(col("clean")).as("__dig"))
          .agg(min("doc_id").as("__keep"))
        joined.join(census,
            md5(col("clean")) === col("__dig") && col("indexable"),
            "left_outer")
          .select(col("doc_id"), col("allowed"), col("noindex"),
            col("n_tokens"),
            when(col("indexable"), col("doc_id") =!= col("__keep"))
              .otherwise(lit(false)).as("is_dup"),
            when(col("indexable"),
              col("doc_id") === col("__keep") && col("n_tokens") >= 30)
              .otherwise(lit(false)).as("kept"))
      }
    },

    // SITEMAPS (sitemaps.org + the robots `Sitemap:` extension — the
    // third leg of the politeness/discovery family: what the SITE
    // ITSELF asks to have crawled): declarations are mined from the
    // shared robots fixture (k%2==0 hosts declare one, placed BEFORE
    // any group — the field is file-wide, not group-scoped; the rule
    // funnel ignores it as an unknown key, which q250/q251 gate), and
    // each declaring host's sitemap document is parsed — k%6==0 hosts
    // serve a <sitemapindex> (two child sitemaps, the recursion edge),
    // the rest a <urlset> with lastmod/changefreq/priority on residue
    // classes, entity-escaped &amp; in every loc (the spec REQUIRES
    // URL entity-escaping — decode is gated), and priority_milli in
    // exact DECIMAL promille. The oracle replays synthesis, block
    // regexes, field extraction, entity decode, and the decimal cast.
    QueryDef.sql("q252_sitemaps",
      """WITH hosts AS (SELECT DISTINCT (doc_id % 19) AS k FROM documents),
        |decl AS (SELECT k, 'h' || k || '.example.org' AS host
        |         FROM hosts WHERE k % 2 = 0),
        |blk AS (
        |  SELECT doc_id, (doc_id % 19) AS k,
        |    '<url><loc>http://h' || (doc_id % 19) || '.example.org/p/' ||
        |    doc_id || '?a=1&amp;b=2</loc>' ||
        |    CASE WHEN doc_id % 2 = 0 THEN '<lastmod>2024-01-' ||
        |      lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
        |      '</lastmod>' ELSE '' END ||
        |    CASE WHEN doc_id % 9 = 0 THEN '<changefreq>daily</changefreq>'
        |         WHEN doc_id % 9 = 3 THEN '<changefreq>weekly</changefreq>'
        |         WHEN doc_id % 9 = 6 THEN '<changefreq>monthly</changefreq>'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN '<priority>0.' || (doc_id % 10) ||
        |      '</priority>' ELSE '' END || '</url>' AS b
        |  FROM documents),
        |us AS (
        |  SELECT k, '<urlset>' || string_agg(b, '' ORDER BY doc_id) ||
        |         '</urlset>' AS xml
        |  FROM blk GROUP BY k),
        |xmls AS (
        |  SELECT d.host,
        |    CASE WHEN d.k % 6 = 0 THEN
        |      '<sitemapindex><sitemap><loc>http://' || d.host ||
        |      '/sitemap-1.xml</loc><lastmod>2024-02-01</lastmod></sitemap>' ||
        |      '<sitemap><loc>http://' || d.host ||
        |      '/sitemap-2.xml</loc><lastmod>2024-02-02</lastmod></sitemap>' ||
        |      '</sitemapindex>'
        |    ELSE us.xml END AS xml
        |  FROM decl d JOIN us ON us.k = d.k),
        |ext AS (
        |  SELECT host,
        |    unnest(generate_series(1, len(bl))) AS entry_no,
        |    unnest(bl) AS blkx
        |  FROM (SELECT host, regexp_extract_all(xml,
        |          '(?is)<url\s*>.*?</url\s*>|<sitemap\s*>.*?</sitemap\s*>',
        |          0) AS bl
        |        FROM xmls) x)
        |SELECT * FROM (
        |  SELECT host, CAST(entry_no AS BIGINT) AS entry_no,
        |    replace(replace(replace(replace(replace(
        |      trim(regexp_extract(blkx, '(?is)<loc\s*>(.*?)</loc\s*>', 1)),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
        |      '&amp;', '&') AS loc,
        |    trim(regexp_extract(blkx,
        |      '(?is)<lastmod\s*>(.*?)</lastmod\s*>', 1)) AS lastmod,
        |    trim(regexp_extract(blkx,
        |      '(?is)<changefreq\s*>(.*?)</changefreq\s*>', 1)) AS changefreq,
        |    CASE WHEN trim(regexp_extract(blkx,
        |        '(?is)<priority\s*>(.*?)</priority\s*>', 1)) <> ''
        |      THEN CAST(CAST(trim(regexp_extract(blkx,
        |        '(?is)<priority\s*>(.*?)</priority\s*>', 1))
        |        AS DECIMAL(10,3)) * 1000 AS BIGINT) END AS priority_milli,
        |    regexp_matches(blkx, '(?is)^<sitemap\s*>') AS from_index
        |  FROM ext) y
        |WHERE loc <> ''""".stripMargin) {
      (s, d) => {
        val decl = graft.operators.Sitemaps.declarations(
          robotsFixture(s, d), "host", col("body"))
        val did = col("doc_id")
        val ds = did.cast("string")
        val ks = pmod(did, lit(19)).cast("string")
        val blk = concat(
          lit("<url><loc>http://h"), ks, lit(".example.org/p/"), ds,
          lit("?a=1&amp;b=2</loc>"),
          when(pmod(did, lit(2)) === 0, concat(lit("<lastmod>2024-01-"),
            lpad((pmod(did, lit(28)) + 1).cast("string"), 2, "0"),
            lit("</lastmod>"))).otherwise(lit("")),
          when(pmod(did, lit(9)) === 0, lit("<changefreq>daily</changefreq>"))
            .when(pmod(did, lit(9)) === 3, lit("<changefreq>weekly</changefreq>"))
            .when(pmod(did, lit(9)) === 6, lit("<changefreq>monthly</changefreq>"))
            .otherwise(lit("")),
          when(pmod(did, lit(4)) === 0, concat(lit("<priority>0."),
            pmod(did, lit(10)).cast("string"), lit("</priority>")))
            .otherwise(lit("")),
          lit("</url>"))
        val us = Tables.documents(s, d)
          .select(pmod(did, lit(19)).as("__k"),
            struct(did.as("i"), blk.as("b")).as("__e"))
          .groupBy("__k").agg(collect_list(col("__e")).as("__lst"))
          .select(col("__k"),
            concat(lit("<urlset>"),
              array_join(transform(sort_array(col("__lst")),
                x => x.getField("b")), ""),
              lit("</urlset>")).as("__uxml"))
        val kStr = col("__k").cast("string")
        val xmls = us.select(
          concat(lit("h"), kStr, lit(".example.org")).as("host"),
          when(pmod(col("__k"), lit(6)) === 0, concat(
            lit("<sitemapindex><sitemap><loc>http://h"), kStr,
            lit(".example.org/sitemap-1.xml</loc>" +
              "<lastmod>2024-02-01</lastmod></sitemap>" +
              "<sitemap><loc>http://h"), kStr,
            lit(".example.org/sitemap-2.xml</loc>" +
              "<lastmod>2024-02-02</lastmod></sitemap></sitemapindex>")))
            .otherwise(col("__uxml")).as("xml"))
        val declared = xmls.join(decl.select("host"), Seq("host"), "left_semi")
        graft.operators.Sitemaps.entries(declared, "host", col("xml"))
      }
    },

    // CRAWL-DELAY (the de-facto robots extension Bing/Yandex honor —
    // RFC 9309 files it under "other records", which per the grammar
    // are GROUP MEMBERS): extracted through the identical
    // parse/group/tier-select funnel as the rules, max-of-selected
    // wins, fractional seconds in exact DECIMAL millis. The fixture
    // places 2.5 s inside the graftbot group (k%4==0 — surfaces only
    // on exact-tier hosts) and 10 s inside the * group (k%4==2 —
    // surfaces only on hosts that actually FALL to *: k%3==2 ∧ k even;
    // on graftbot/graft-tier hosts the star delay must NOT leak).
    // Hosts whose selected group declares none are absent.
    QueryDef.sql("q253_crawl_delay",
      s"""WITH $robotsDirsCtes,
         |cd AS (
         |  SELECT g.host, g.val
         |  FROM grps g JOIN sel ON sel.host = g.host AND sel.g = g.g
         |  WHERE g.key = 'crawl-delay' AND g.val <> ''
         |    AND regexp_matches(g.val, '^[0-9]+(\\.[0-9]+)?$$'))
         |SELECT host,
         |  CAST(max(least(CASE WHEN length(val) <= 12
         |      THEN CAST(val AS DECIMAL(18,3)) ELSE 3600 END, 3600) * 1000)
         |    AS BIGINT) AS crawl_delay_ms
         |FROM cd GROUP BY host""".stripMargin) {
      (s, d) =>
        graft.operators.Robots.crawlDelay(
          robotsFixture(s, d), "host", col("body"), agent = "graftbot")
    },

    // FRONTIER SCHEDULING (the operator that CONSUMES the politeness
    // family: robots verdicts q250 + crawl delays q253 → a per-host
    // fetch timetable): allowed URLs are sequenced per host and spaced
    // by the host's delay (1 s default), fetch_at_ms = t0 + seq·delay;
    // the 20-URL horizon cap defers the tail with a NULL timestamp
    // (frontier accounting balances — nothing silently dropped). The
    // oracle replays verdicts, delay extraction, the per-host
    // sequencing window, and the horizon arithmetic end-to-end.
    QueryDef.sql("q254_fetch_schedule",
      s"""WITH $robotsDirsCtes,
         |$robotsVerdictCtes,
         |verd AS (
         |  SELECT doc_id, url, host, (NOT m) OR rule = 'allow' AS allowed
         |  FROM win WHERE rn = 1),
         |$crawlDelayCtes,
         |sq AS (
         |  SELECT doc_id, url, host,
         |    row_number() OVER (PARTITION BY host ORDER BY doc_id) - 1 AS seq
         |  FROM verd WHERE allowed)
         |SELECT sq.doc_id, sq.url, sq.host, CAST(sq.seq AS BIGINT) AS seq,
         |  CASE WHEN sq.seq < 20
         |    THEN 1704067200000 + sq.seq * coalesce(dl.ms, 1000)
         |  END AS fetch_at_ms
         |FROM sq LEFT JOIN dl ON dl.host = sq.host""".stripMargin) {
      (s, d) => {
        val did = col("doc_id")
        val urls = Tables.documents(s, d).select(did,
          concat(lit("http://h"), pmod(did, lit(19)).cast("string"),
            lit(".example.org"), urlPath(did)).as("url"))
        val robots = robotsFixture(s, d)
        val allowed = graft.operators.Robots.allowed(urls, "doc_id",
          col("url"), robots, "host", col("body"), agent = "graftbot")
          .filter(col("allowed"))
          .select(col("doc_id"), col("url"))
        val delays = graft.operators.Robots.crawlDelay(
          robots, "host", col("body"), agent = "graftbot")
        graft.operators.Frontier.fetchSchedule(allowed, "doc_id",
          col("url"), delays, t0Ms = 1704067200000L, maxPerHost = 20)
      }
    },

    // FRONTIER SEED MERGE (the politeness loop CLOSED — the frontier
    // consumes what the family produces): q252-style sitemap seeds are
    // entity-decoded by Sitemaps.entries, merged with the
    // robots-allowed discovered URL set by CANONICAL form (q138's
    // canonicalizer: even-doc seeds respell their discovered twin with
    // an uppercase host + utm tracking params — same fetch, so the
    // merge must unify them, seed spelling winning), and scheduled
    // per host ordered by sitemap priority desc (the field exists
    // precisely to order a crawl) then canon. Disallowed discovered
    // URLs never enter; a seed whose twin was disallowed surfaces as
    // sitemap-only. The oracle replays verdicts, seed synthesis,
    // canonicalization, the full-outer merge, delay extraction, and
    // the priority window end-to-end from `documents` alone.
    QueryDef.sql("q255_frontier_seed_merge",
      s"""WITH $robotsDirsCtes,
         |$robotsVerdictCtes,
         |$seedMergeCtes,
         |$crawlDelayCtes,
         |sq AS (
         |  SELECT canon, url, source, priority_milli,
         |    lower(regexp_extract(url, '(?i)^https?://([^/?#]+)', 1)) AS host,
         |    row_number() OVER (
         |      PARTITION BY lower(regexp_extract(url, '(?i)^https?://([^/?#]+)', 1))
         |      ORDER BY priority_milli DESC NULLS LAST, canon) - 1 AS seq
         |  FROM mg)
         |SELECT sq.canon, sq.url, sq.host, CAST(sq.seq AS BIGINT) AS seq,
         |  CASE WHEN sq.seq < 25
         |    THEN 1704067200000 + sq.seq * coalesce(dl.ms, 1000)
         |  END AS fetch_at_ms,
         |  sq.source, sq.priority_milli
         |FROM sq LEFT JOIN dl ON dl.host = sq.host""".stripMargin) {
      (s, d) => {
        val merged = seedMerge(s, d)
        val delays = graft.operators.Robots.crawlDelay(
          robotsFixture(s, d), "host", col("body"), agent = "graftbot")
        graft.operators.Frontier.fetchSchedule(merged, "canon", col("url"),
          delays, t0Ms = 1704067200000L, defaultDelayMs = 1000L,
          maxPerHost = 25, priorityCol = Some("priority_milli"))
      }
    },

    // TYPED LASTMOD + RECRAWL DUE (the parse q252 leaves to the
    // consumer, here AS the consumer): every W3C datetime form the
    // sitemaps grammar names — year, year-month, date, minute-precision
    // with mandatory TZD, second precision, fractional second, across
    // Z and ±hh:mm offsets — normalized to one ISO instant and parsed
    // to exact epoch millis; out-of-grammar values (doc%8==7 plants an
    // RFC-822 date) yield NULL, never an error. due_at_ms composes the
    // changefreq period table (doc%9 walks all seven values + absent +
    // an unknown) onto the typed lastmod — the recrawl timetable the
    // frontier consumes. The oracle replays synthesis, extraction,
    // normalization (same regex tiers), TRY_CAST, and the period join.
    QueryDef.sql("q256_sitemap_recrawl",
      s"""WITH blk AS (
         |  SELECT (doc_id % 19) AS k, doc_id,
         |    'http://h' || (doc_id % 19) || '.example.org/r/' || doc_id AS loc,
         |    $sitemapLastmodSql AS lm,
         |    $sitemapFreqSql AS cf
         |  FROM documents),
         |$sitemapDueCtes
         |SELECT host, CAST(entry_no AS BIGINT) AS entry_no, loc,
         |  lm AS lastmod, lastmod_ms, due_at_ms
         |FROM due""".stripMargin) {
      (s, d) => {
        val ents = graft.operators.Sitemaps.entries(
          recrawlSitemapXmls(s, d), "host", col("xml"))
        val lms = graft.operators.Sitemaps.lastmodMillis(col("lastmod"))
        ents.select(col("host"), col("entry_no"), col("loc"),
          col("lastmod"), lms.as("lastmod_ms"),
          graft.operators.Sitemaps.recrawlDueMillis(lms, col("changefreq"))
            .as("due_at_ms"))
      }
    },

    // RECRAWL-DRIVEN FRONTIER (q256's due_at actually CONSUMED — the
    // last politeness output that fed nothing): each URL's grant must
    // satisfy THREE constraints at once — not before t0, not before
    // its own recrawl due time, and at least delay(host) after the
    // previous grant on that host. The per-host recurrence
    // fetch_i = max(t0, nb_i, fetch_{i-1}+d) is solved RELATIONALLY as
    // a running-max window over the same frame the sequencing already
    // shuffles on (fetch_i = seq_i·d + max_{j≤i}(coalesce(nb_j,t0) −
    // seq_j·d)) — no iteration, no extra exchange. The oracle replays
    // the q256 typed-lastmod chain (shared CTE text — the semantics
    // CANNOT diverge between the two gates) plus the same two-window
    // recurrence; a wrong running-max frame, a nb/delay mixup, or a
    // deferral leak all break the hash.
    QueryDef.sql("q258_frontier_recrawl",
      s"""WITH blk AS (
         |  SELECT (doc_id % 19) AS k, doc_id,
         |    'http://h' || (doc_id % 19) || '.example.org/r/' || doc_id AS loc,
         |    $sitemapLastmodSql AS lm,
         |    $sitemapFreqSql AS cf
         |  FROM documents),
         |$sitemapDueCtes,
         |dd AS (
         |  SELECT *, CASE WHEN CAST(substr(host, 2, length(host) - 13) AS INTEGER) % 2 = 0
         |      THEN 500 * (CAST(substr(host, 2, length(host) - 13) AS INTEGER) % 5) + 500
         |      ELSE 1000 END AS d
         |  FROM due),
         |sq AS (
         |  SELECT *, row_number() OVER (PARTITION BY host ORDER BY loc) - 1 AS seq
         |  FROM dd),
         |rm AS (
         |  SELECT *, max(greatest(coalesce(due_at_ms, 1706745600000),
         |        1706745600000) - seq * d) OVER (
         |      PARTITION BY host ORDER BY loc
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS base
         |  FROM sq)
         |SELECT loc, host, CAST(seq AS BIGINT) AS seq, due_at_ms,
         |  CASE WHEN seq < 15 THEN base + seq * d END AS fetch_at_ms
         |FROM rm""".stripMargin) {
      (s, d) => {
        import s.implicits._
        val ents = graft.operators.Sitemaps.entries(
          recrawlSitemapXmls(s, d), "host", col("xml"))
        val lms = graft.operators.Sitemaps.lastmodMillis(col("lastmod"))
        val urls = ents.select(col("loc"),
          graft.operators.Sitemaps.recrawlDueMillis(lms, col("changefreq"))
            .as("due_at_ms"))
        val delays = (0 until 19).filter(_ % 2 == 0)
          .map(k => (s"h$k.example.org", 500L * (k % 5) + 500L))
          .toDF("host", "crawl_delay_ms")
        // t0 = 2024-02-01: the January dues are STALE (they must clamp
        // to t0 — the bug class FrontierRecurrencePropertySpec caught),
        // the March dues are future deferrals that dominate successors
        graft.operators.Frontier.fetchSchedule(urls, "loc", col("loc"),
          delays, t0Ms = 1706745600000L, defaultDelayMs = 1000L,
          maxPerHost = 15, notBeforeCol = Some("due_at_ms"))
          .select(col("loc"), col("host"), col("seq"), col("due_at_ms"),
            col("fetch_at_ms"))
      }
    },

    // SITEMAP EXPANSION (the recursion edge q252 only MARKS, followed:
    // a sitemapindex's <sitemap> entries resolved against the fetched
    // corpus). Page-URL rows carry one-hop provenance (via_index = the
    // referencing index; the protocol allows exactly one index level,
    // so one hop IS full depth), followed index entries are REPLACED
    // by their child's rows, and index entries whose child was never
    // fetched surface as resolved=false — exactly the fetch loop's
    // work list. The fixture exercises every edge: followed children
    // (part0/part1), a missing child (k%3==0), a nested index whose
    // own child is unfetched (k%4==1 — surfaces unresolved WITH the
    // root as provenance), an unreferenced standalone urlset (k%5==2,
    // null via_index, entity-escaped locs). The oracle replays
    // synthesis, block regex, field extraction, the reference census,
    // and the corpus anti-join end-to-end.
    QueryDef.sql("q259_sitemap_expand",
      s"""WITH $sitemapCorpusCtes
         |SELECT sitemap_url, entry_no, loc, lastmod, changefreq,
         |  priority_milli, via_index, resolved
         |FROM sexp""".stripMargin) {
      (s, d) =>
        graft.operators.Sitemaps.expand(sitemapCorpus(s, d),
          "sitemap_url", col("xml"))
    },

    // SITEMAP-SEED AUTHORIZATION (sitemaps DISCOVER, robots AUTHORIZE
    // — the composition q255's merge does not exercise: its seeds
    // entered the frontier ungated): every expanded page URL gets its
    // RFC 9309 verdict, so a site-declared URL its own robots.txt
    // disallows — Search Console's "submitted URL blocked by
    // robots.txt" — is visible per entry. The part urlsets reuse the
    // q250 decision paths, so the full verdict spread (exact-tier
    // allow/disallow, wildcard $ pattern, *-tier fall-through) lands
    // on sitemap-declared URLs; provenance (via_index) rides along so
    // a blocked entry is attributable to the index that declared it.
    QueryDef.sql("q260_seed_robots_audit",
      s"""WITH $robotsDirsCtes,
         |$sitemapCorpusCtes,
         |seedsx AS (SELECT loc, via_index FROM sexp WHERE resolved),
         |spathx AS (
         |  SELECT loc, via_index,
         |    lower(regexp_extract(loc, '(?i)^https?://([^/?#]+)', 1)) AS host,
         |    CASE WHEN regexp_extract(loc,
         |        '(?i)^https?://[^/?#]+([^#]*)', 1) = '' THEN '/'
         |      ELSE regexp_extract(loc,
         |        '(?i)^https?://[^/?#]+([^#]*)', 1) END AS p
         |  FROM seedsx),
         |hitsx AS (
         |  SELECT s.loc, s.via_index, s.host, d.rule, d.path AS rpath,
         |    d.pattern IS NOT NULL AND regexp_matches(s.p, d.pattern) AS m,
         |    length(d.path) AS plen
         |  FROM spathx s LEFT JOIN dirs d ON d.host = s.host),
         |winx AS (
         |  SELECT *, row_number() OVER (PARTITION BY loc ORDER BY
         |      CASE WHEN m THEN plen ELSE -1 END DESC,
         |      CASE WHEN rule = 'allow' THEN 1 ELSE 0 END DESC,
         |      rpath ASC NULLS LAST) AS rn
         |  FROM hitsx)
         |SELECT loc, host, via_index,
         |  (NOT m) OR rule = 'allow' AS allowed
         |FROM winx WHERE rn = 1""".stripMargin) {
      (s, d) => {
        val ex = graft.operators.Sitemaps.expand(sitemapCorpus(s, d),
            "sitemap_url", col("xml"))
          .filter(col("resolved")).select(col("loc"), col("via_index"))
        val v = graft.operators.Robots.allowed(ex.select("loc"), "loc",
          col("loc"), robotsFixture(s, d), "host", col("body"),
          agent = "graftbot")
        v.join(ex, Seq("loc"))
          .select(col("loc"), col("host"), col("via_index"), col("allowed"))
      }
    },

    // SITEMAP COVERAGE CENSUS (the consumer of mergeSeeds' `source`
    // provenance — the crawl-ops report next to q260's per-entry
    // audit): per host, how much of what the crawl DISCOVERS does the
    // site also declare (coverage), and how much of what the site
    // declares was never discovered by links (orphan pages — the
    // stale-sitemap / unlinked-section signal). The fixture makes the
    // buckets non-trivial: even docs' seeds are canonical respellings
    // of discovered URLs (-> both), odd docs' /seed/ URLs are declared
    // but never linked (-> sitemap-only), and robots-disallowed
    // discovered URLs never reach the merge at all. One hash-aggregate
    // shuffle on the host key; promille in exact integer division.
    // Oracle: the SAME merge CTE text as q255 (shared — the census and
    // the schedule cannot disagree about what merged), then the census
    // fold.
    QueryDef.sql("q261_sitemap_coverage",
      s"""WITH $robotsDirsCtes,
         |$robotsVerdictCtes,
         |$seedMergeCtes,
         |cov AS (
         |  SELECT nullif(lower(regexp_extract(url,
         |      '(?i)^https?://([^/?#]+)', 1)), '') AS host,
         |    count(*) AS n_urls,
         |    count(CASE WHEN source = 'both' THEN 1 END) AS n_both,
         |    count(CASE WHEN source = 'sitemap' THEN 1 END)
         |      AS n_sitemap_only,
         |    count(CASE WHEN source = 'discovered' THEN 1 END)
         |      AS n_discovered_only
         |  FROM mg GROUP BY 1)
         |SELECT host, n_urls, n_both, n_sitemap_only, n_discovered_only,
         |  CASE WHEN n_both + n_discovered_only > 0
         |    THEN (1000 * n_both) // (n_both + n_discovered_only)
         |  END AS coverage_milli,
         |  CASE WHEN n_sitemap_only + n_both > 0
         |    THEN (1000 * n_sitemap_only) // (n_sitemap_only + n_both)
         |  END AS orphan_milli
         |FROM cov""".stripMargin) {
      (s, d) =>
        graft.operators.Frontier.coverageCensus(seedMerge(s, d), col("url"))
    },

    // CRAWL-BUDGET SCHEDULING (q246's mined host rank actually
    // CONSUMED by the frontier — importance-ordered crawling, the
    // operational "crawl budget"): a 200-fetch wave is apportioned
    // across hosts proportional to PageRank over the WAT-mined host
    // graph by largest-remainder (exact integers, Σslots = budget),
    // then the robots-allowed URL set schedules under PER-HOST
    // horizons — an important host gets a deep schedule, a low-rank
    // host defers early (NULL fetch_at_ms, accounting balances). The
    // oracle replays the WHOLE chain: page synthesis → link mining →
    // host graph → the q246 rank CTEs (SHARED text — rank semantics
    // cannot diverge between report and consumer) → floor+remainder
    // apportionment → robots verdicts → capped schedule windows.
    QueryDef.sql("q262_budget_schedule",
      s"""WITH $robotsDirsCtes,
         |$robotsVerdictCtes,
         |$hostEdgeCtes,
         |${hostRankCtes(4)},
         |$budgetAllocCtes,
         |au AS (SELECT doc_id, url, host FROM win
         |       WHERE rn = 1 AND ((NOT m) OR rule = 'allow')),
         |bq AS (SELECT doc_id, url, host, row_number() OVER (
         |           PARTITION BY host ORDER BY doc_id) - 1 AS seq
         |       FROM au)
         |SELECT bq.doc_id, bq.url, bq.host, CAST(bq.seq AS BIGINT) AS seq,
         |  CASE WHEN bq.seq < al.slots
         |    THEN 1704067200000 + bq.seq * 1000 END AS fetch_at_ms,
         |  al.slots, al.w AS rank_micro
         |FROM bq LEFT JOIN al ON al.host = bq.host""".stripMargin) {
      (s, d) => {
        import s.implicits._
        val ranks = Graphs.pageRankMicro(hostEdges(s, d), iterations = 4)
          .select(hostName(col("node")).as("host"), col("rank_micro"))
        // the allocation is consumed twice (schedule caps + the final
        // slots/rank join); pin the host-count-sized frame so the WAT
        // mining + rank funnel upstream runs ONCE (the q251 discipline)
        val alloc = graft.operators.CacheRegistry.persist(
          graft.operators.Frontier.allocateBudget(
            ranks, "host", col("rank_micro"), budget = 200L))
        val did = col("doc_id")
        val urls = Tables.documents(s, d).select(did,
          concat(lit("http://h"), pmod(did, lit(19)).cast("string"),
            lit(".example.org"), urlPath(did)).as("url"))
        val allowed = graft.operators.Robots.allowed(urls, "doc_id",
          col("url"), robotsFixture(s, d), "host", col("body"),
          agent = "graftbot")
          .filter(col("allowed"))
          .select(col("doc_id"), col("url"))
        val noDelays = Seq.empty[(String, Long)]
          .toDF("host", "crawl_delay_ms")
        val sched = graft.operators.Frontier.fetchSchedule(allowed,
          "doc_id", col("url"), noDelays, t0Ms = 1704067200000L,
          defaultDelayMs = 1000L, maxPerHost = 1000,
          caps = Some(alloc.select(col("host"), col("slots"))))
        sched.join(alloc.select(col("host"), col("slots"),
            col("weight").as("rank_micro")), Seq("host"), "left_outer")
          .select(col("doc_id"), col("url"), col("host"), col("seq"),
            col("fetch_at_ms"), col("slots"), col("rank_micro"))
      }
    },

    // REDIRECT-CHAIN RESOLUTION (the 3xx half of crawl URL identity,
    // next to q249's canonical hints and q138's crawl keys): every
    // fetched URL follows Location links WITHIN the fetch set to its
    // final destination in maxHops bounded relational hops, Location
    // ABSOLUTIZED against the source URL first (RFC 7231 §7.1.2 —
    // relative Location is the most common real-world form; the
    // fixture synthesizes root-relative %11==7, protocol-relative
    // %11==9, and path-relative %11==10 hops). Residues: %11==0
    // starts a 3-hop chain into a never-fetched /private landing
    // (dangling); %11==2 starts a chain that settles at EXACTLY
    // maxHops (2→6→8→9→200 — settled, NOT exceeded: the settle probe
    // reserves `exceeded` for a real remaining redirect edge);
    // %11==5 self-loops (exceeded); the rest are suffixes or 200s.
    // The oracle replays the shared resolution CASE, the
    // min-RESOLVED-target collapse, all four unrolled hop joins, the
    // settle probe, and the membership verdict.
    QueryDef.sql("q263_redirect_chains",
      s"""WITH $redirectCtes
         |SELECT url, final_url, hops, outcome, perm_url FROM rc""".stripMargin) {
      (s, d) => redirectResolved(s, d)
    },

    // URL-ALIAS DEDUP (q263's final_url actually CONSUMED — the reason
    // redirect resolution exists in a crawl pipeline: URLs that LAND
    // on the same place are one page): dedup key = the resolved final
    // destination (an unresolvable `exceeded` loop keys by its own
    // URL — never merged on a guess), keep rule = bytewise-min URL per
    // key (the q24 exact-dedup discipline). The %11 fixture makes
    // 3-alias groups by construction: the d%11==0 chain, its 1- and
    // 2-hop suffixes, and the dangling target they all share. The
    // oracle replays the SAME chain CTE text as q263 plus the census —
    // one hash-aggregate shuffle on the key, one key-equi join back.
    QueryDef.sql("q264_redirect_dedup",
      s"""WITH $redirectCtes,
         |ky AS (SELECT url, CASE WHEN outcome = 'exceeded' THEN url
         |         ELSE final_url END AS dedup_key FROM rc),
         |grp AS (SELECT dedup_key, min(url) AS kept_url,
         |          count(*) AS n_aliases
         |        FROM ky GROUP BY dedup_key)
         |SELECT ky.url, ky.dedup_key, g.kept_url,
         |  CAST(g.n_aliases AS BIGINT) AS n_aliases,
         |  ky.url = g.kept_url AS is_kept
         |FROM ky JOIN grp g ON g.dedup_key = ky.dedup_key""".stripMargin) {
      (s, d) => {
        val rc = redirectResolved(s, d)
        // the keyed frame feeds BOTH the group census and the final
        // join-back: pin it so the five-join chain funnel upstream
        // runs once (the q262/q265 discipline)
        val ky = graft.operators.CacheRegistry.persist(
          rc.select(col("url"),
            when(col("outcome") === "exceeded", col("url"))
              .otherwise(col("final_url")).as("dedup_key")))
        val grp = ky.groupBy("dedup_key")
          .agg(min("url").as("kept_url"), count(lit(1)).as("n_aliases"))
        ky.join(grp, Seq("dedup_key"))
          .select(col("url"), col("dedup_key"), col("kept_url"),
            col("n_aliases"),
            (col("url") === col("kept_url")).as("is_kept"))
      }
    },

    // REDIRECT-AWARE FRONTIER (q263/q264's redirect identity actually
    // CONSUMED by scheduling — r12's last "parallel products that
    // never meet" edge): sitemap seeds respelling fetched URLs
    // (uppercase host + utm params, even docs) canon-merge with the
    // discovered fetch set (mergeSeeds), each merged entry maps
    // through its redirect chain to the LANDING key, and alias groups
    // collapse to ONE schedulable row carrying the max declared
    // priority and the group census. The landing URL — not the source
    // — is then robots-checked (the %11==3 chains land in /private
    // paths, DISALLOWED on graftbot-tier hosts: a redirect into a
    // forbidden area must not be fetched just because its source was
    // clean) and politeness-scheduled at the landing host. The oracle
    // replays the whole composition from `documents`: the shared
    // redirect chain text, both canon chains, the merge, the alias
    // fold, the q250 verdict funnel on landing URLs, delay extraction,
    // and the priority-ordered capped windows.
    QueryDef.sql("q265_frontier_redirect_merge",
      s"""WITH $robotsDirsCtes,
         |$redirectCtes,
         |disc AS (SELECT url FROM resp),
         |${canonChain("d", "disc", "url")},
         |dc AS (SELECT canon, min(url) AS d_url FROM dcn GROUP BY canon),
         |seeds AS (
         |  -- %6F is an ENCODED unreserved 'o': the seed spelling
         |  -- merges with the discovered fetch set only through RFC
         |  -- 3986 §6.2.2.2 decode — the previously-split alias proof
         |  SELECT 'http://H' || (doc_id % 19) || '.EXAMPLE.ORG/r/d%6Fc' ||
         |      doc_id || '?utm_source=sm' AS loc,
         |    CASE WHEN doc_id % 3 = 0
         |      THEN CAST((doc_id % 10) * 100 AS BIGINT) END AS pm
         |  FROM documents WHERE doc_id % 2 = 0),
         |${canonChain("s", "seeds", "loc")},
         |sc AS (SELECT canon, min(loc) AS s_url, max(pm) AS priority_milli
         |       FROM scn GROUP BY canon),
         |mg AS (
         |  SELECT coalesce(dc.canon, sc.canon) AS canon,
         |    coalesce(sc.s_url, dc.d_url) AS url,
         |    CASE WHEN sc.canon IS NOT NULL AND dc.canon IS NOT NULL THEN 'both'
         |         WHEN sc.canon IS NOT NULL THEN 'sitemap'
         |         ELSE 'discovered' END AS source,
         |    sc.priority_milli
         |  FROM dc FULL OUTER JOIN sc ON dc.canon = sc.canon),
         |chd AS (SELECT url, CASE WHEN outcome = 'exceeded' THEN url
         |          ELSE final_url END AS dest FROM rc),
         |${canonChain("c", "chd", "url")},
         |ch AS (SELECT canon, min(dest) AS dest FROM ccn GROUP BY canon),
         |tg AS (SELECT coalesce(ch.dest, mg.url) AS target, mg.source,
         |         mg.priority_milli
         |       FROM mg LEFT JOIN ch ON ch.canon = mg.canon),
         |${canonChain("t", "tg", "target")},
         |fo AS (
         |  SELECT canon, min(target) AS url,
         |    max(priority_milli) AS priority_milli,
         |    CAST(count(*) AS BIGINT) AS n_aliases,
         |    max(CASE WHEN source IN ('sitemap', 'both') THEN 1 ELSE 0 END) AS sm,
         |    max(CASE WHEN source IN ('discovered', 'both') THEN 1 ELSE 0 END) AS dv
         |  FROM tcn GROUP BY canon),
         |fa AS (SELECT canon, url,
         |    CASE WHEN sm = 1 AND dv = 1 THEN 'both'
         |         WHEN sm = 1 THEN 'sitemap' ELSE 'discovered' END AS source,
         |    priority_milli, n_aliases FROM fo),
         |fpath AS (
         |  SELECT canon, url,
         |    lower(regexp_extract(url, '(?i)^https?://([^/?#]+)', 1)) AS host,
         |    CASE WHEN regexp_extract(url, '(?i)^https?://[^/?#]+([^#]*)', 1) = ''
         |      THEN '/' ELSE regexp_extract(url, '(?i)^https?://[^/?#]+([^#]*)', 1)
         |      END AS p
         |  FROM fa),
         |fhits AS (
         |  SELECT f.canon, f.host, d.rule, d.path AS rpath,
         |    d.pattern IS NOT NULL AND regexp_matches(f.p, d.pattern) AS m,
         |    length(d.path) AS plen
         |  FROM fpath f LEFT JOIN dirs d ON d.host = f.host),
         |fwin AS (
         |  SELECT *, row_number() OVER (PARTITION BY canon ORDER BY
         |      CASE WHEN m THEN plen ELSE -1 END DESC,
         |      CASE WHEN rule = 'allow' THEN 1 ELSE 0 END DESC,
         |      rpath ASC NULLS LAST) AS rn
         |  FROM fhits),
         |fv AS (SELECT canon, host, (NOT m) OR rule = 'allow' AS allowed
         |       FROM fwin WHERE rn = 1),
         |$crawlDelayCtes,
         |alw AS (SELECT fa.*, fv.host FROM fa
         |        JOIN fv ON fv.canon = fa.canon WHERE fv.allowed),
         |sqx AS (SELECT *, row_number() OVER (PARTITION BY host
         |          ORDER BY priority_milli DESC NULLS LAST, canon) - 1 AS seq
         |        FROM alw)
         |SELECT sqx.canon, sqx.url, sqx.host, sqx.source,
         |  sqx.priority_milli, sqx.n_aliases, true AS allowed,
         |  CAST(sqx.seq AS BIGINT) AS seq,
         |  CASE WHEN sqx.seq < 15
         |    THEN 1704067200000 + sqx.seq * coalesce(dl.ms, 1000)
         |  END AS fetch_at_ms
         |FROM sqx LEFT JOIN dl ON dl.host = sqx.host
         |UNION ALL
         |SELECT fa.canon, fa.url, fv.host, fa.source, fa.priority_milli,
         |  fa.n_aliases, false AS allowed, CAST(NULL AS BIGINT) AS seq,
         |  CAST(NULL AS BIGINT) AS fetch_at_ms
         |FROM fa JOIN fv ON fv.canon = fa.canon
         |WHERE NOT fv.allowed""".stripMargin) {
      (s, d) => {
        val did = col("doc_id")
        val ks = pmod(did, lit(19)).cast("string")
        val fx = redirectFixture(s, d)
        val discovered = fx.select(col("url"))
        val seeds = Tables.documents(s, d)
          .filter(pmod(did, lit(2)) === 0)
          .select(concat(lit("http://H"), ks, lit(".EXAMPLE.ORG/r/d%6Fc"),
              did.cast("string"), lit("?utm_source=sm")).as("loc"),
            when(pmod(did, lit(3)) === 0,
              (pmod(did, lit(10)) * 100).cast("long")).as("pm"))
        val merged = graft.operators.Frontier.mergeSeeds(
          discovered, col("url"), seeds, col("loc"), col("pm"))
        // the collapsed frame feeds the robots verdict AND the full
        // join's left side; unpinned, the verdict's column pruning
        // rewrites its copy of the redirect+merge funnel into a
        // different subtree, so exchange reuse misses and the 4-hop
        // chain resolution runs twice (r16 measured: the funnel is the
        // gate's dominant cost) — pin at the landing-key grain
        val collapsed = graft.operators.CacheRegistry.persist(
          graft.operators.Frontier.resolveAliases(
              merged, redirectResolved(s, d)))
        val robots = robotsFixture(s, d)
        val verd = graft.operators.Robots.allowed(
          collapsed.select("canon", "url"), "canon", col("url"),
          robots, "host", col("body"), agent = "graftbot")
          .select(col("canon"), col("host"), col("allowed"))
        // the verdict-annotated frame feeds BOTH the scheduled branch
        // and the blocked branch: pin the landing-key-grain frame so
        // the redirect + merge + verdict funnel runs once (the q262
        // discipline)
        val full = graft.operators.CacheRegistry.persist(
          collapsed.join(verd, Seq("canon")))
        val delays = graft.operators.Robots.crawlDelay(
          robots, "host", col("body"), agent = "graftbot")
        val sched = graft.operators.Frontier.fetchSchedule(
          full.filter(col("allowed")).drop("host", "allowed"),
          "canon", col("url"), delays, t0Ms = 1704067200000L,
          defaultDelayMs = 1000L, maxPerHost = 15,
          priorityCol = Some("priority_milli"))
        sched.withColumn("allowed", lit(true))
          .unionByName(full.filter(!col("allowed"))
            .select(col("canon"), col("url"), col("host"),
              lit(null).cast("long").as("seq"),
              lit(null).cast("long").as("fetch_at_ms"),
              col("source"), col("priority_milli"), col("n_aliases"),
              lit(false).as("allowed")))
          .select(col("canon"), col("url"), col("host"), col("source"),
            col("priority_milli"), col("n_aliases"), col("allowed"),
            col("seq"), col("fetch_at_ms"))
      }
    },

    // CONDITIONAL RECRAWL FROM HTTP VALIDATORS (the q225 header parse
    // actually CONSUMED by the recrawl family — RFC 9110 §8.8: the
    // origin's own ETag/Last-Modified beat the sitemap's declared
    // lastmod, which the spec itself calls a hint): fetch observations
    // are synthesized as REAL HTTP responses, parsed through the q225
    // httpMessage chain, Last-Modified typed through the IMF-fixdate
    // parser, the LATEST observation per URL wins (a %7==0 stale
    // refetch with a March validator is superseded by the fresh June
    // one — and where the fresh fetch carries no validator, the URL
    // falls BACK to the sitemap hint: observation recency, not
    // validator recency), and due_at = base + period(changefreq) —
    // so a fresh validator DEFERS a sitemap-due URL. The loop CLOSES
    // on its own output: the %3==0 July wave replays the conditional
    // fetches coming back 304 Not Modified (RFC 9111 §4.3.4) — the
    // freshness base moves to the revalidation time while the stored
    // validators (and the conditional verdict) stay. The oracle
    // replays the q256 typed-lastmod chain (shared CTE text), the
    // observation synthesis with engine-derived epochs, the
    // latest-wins window, and the precedence fold; a byte lost in the
    // header parse or a wrong precedence breaks the hash.
    QueryDef.sql("q266_conditional_recrawl",
      s"""WITH blk AS (
         |  SELECT (doc_id % 19) AS k, doc_id,
         |    'http://h' || (doc_id % 19) || '.example.org/r/' || doc_id AS loc,
         |    $sitemapLastmodSql AS lm,
         |    $sitemapFreqSql AS cf
         |  FROM documents),
         |$sitemapDueCtes,
         |fob AS (
         |  SELECT 'http://h' || (doc_id % 19) || '.example.org/r/' ||
         |      doc_id AS u,
         |    1717243200000 AS t, 200 AS st,
         |    CASE WHEN doc_id % 5 = 0 THEN '"v' || doc_id || '"' END AS etag,
         |    CASE WHEN doc_id % 4 = 0
         |      THEN epoch_ms(TIMESTAMP '2024-06-01 12:00:00') END AS flm
         |  FROM documents
         |  UNION ALL
         |  SELECT 'http://h' || (doc_id % 19) || '.example.org/r/' || doc_id,
         |    1709251200000, 200, CAST(NULL AS VARCHAR),
         |    epoch_ms(TIMESTAMP '2024-03-01 00:00:00')
         |  FROM documents WHERE doc_id % 7 = 0
         |  UNION ALL
         |  -- the July revalidation wave: conditional fetches coming
         |  -- back 304 — recency refreshes, stored validators stay
         |  SELECT 'http://h' || (doc_id % 19) || '.example.org/r/' || doc_id,
         |    1719835200000, 304, CAST(NULL AS VARCHAR),
         |    CAST(NULL AS BIGINT)
         |  FROM documents WHERE doc_id % 3 = 0),
         |fl AS (
         |  SELECT u, t AS ft, etag, flm FROM (
         |    SELECT *, row_number() OVER (PARTITION BY u ORDER BY t DESC,
         |        flm DESC NULLS LAST, etag DESC NULLS LAST) AS rn
         |    FROM fob WHERE st <> 304) x WHERE rn = 1),
         |rv AS (SELECT u, max(t) AS rt FROM fob WHERE st = 304 GROUP BY u),
         |crb AS (
         |  SELECT d.loc, d.cf, f.etag, f.flm,
         |    CASE WHEN rv.rt IS NOT NULL AND (f.ft IS NULL OR rv.rt > f.ft)
         |         THEN 'revalidated'
         |         WHEN f.flm IS NOT NULL THEN 'validator'
         |         WHEN d.lastmod_ms IS NOT NULL THEN 'sitemap' END AS basis,
         |    CASE WHEN rv.rt IS NOT NULL AND (f.ft IS NULL OR rv.rt > f.ft)
         |         THEN rv.rt
         |         ELSE coalesce(f.flm, d.lastmod_ms) END AS base_ms
         |  FROM due d LEFT JOIN fl f ON f.u = d.loc
         |    LEFT JOIN rv ON rv.u = d.loc)
         |SELECT loc, basis, base_ms,
         |  base_ms + ${changefreqPeriodSql("cf")} AS due_at_ms,
         |  etag,
         |  (etag IS NOT NULL OR flm IS NOT NULL) AS conditional
         |FROM crb""".stripMargin) {
      (s, d) => {
        val did = col("doc_id")
        val ks = pmod(did, lit(19)).cast("string")
        val ds = did.cast("string")
        val ents = graft.operators.Sitemaps.entries(
          recrawlSitemapXmls(s, d), "host", col("xml"))
        val hints = ents.select(col("loc"),
          graft.operators.Sitemaps.lastmodMillis(col("lastmod")).as("slm"),
          col("changefreq"))
        val docs = Tables.documents(s, d)
        val urlc = concat(lit("http://h"), ks, lit(".example.org/r/"), ds)
        // fresh observations (June): validators on the %4/%5 residues
        val fresh = docs.select(urlc.as("furl"),
          lit(1717243200000L).as("fms"),
          concat(lit("HTTP/1.1 200 OK\r\n"),
            when(pmod(did, lit(4)) === 0,
              lit("Last-Modified: Sat, 01 Jun 2024 12:00:00 GMT\r\n"))
              .otherwise(lit("")),
            when(pmod(did, lit(5)) === 0,
              concat(lit("ETag: \"v"), ds, lit("\"\r\n")))
              .otherwise(lit("")),
            lit("Content-Type: text/html\r\n\r\nok")).as("payload"))
        // a stale March refetch on %7==0 the latest-wins window must
        // supersede
        val stale = docs.filter(pmod(did, lit(7)) === 0)
          .select(urlc.as("furl"), lit(1709251200000L).as("fms"),
            lit("HTTP/1.1 200 OK\r\nLast-Modified: " +
              "Fri, 01 Mar 2024 00:00:00 GMT\r\n\r\nok").as("payload"))
        // the July revalidation wave on %3==0: the loop's own
        // conditional fetches coming back 304 (no body, no new
        // validators) — recency refreshes, stored validators stay
        val reval = docs.filter(pmod(did, lit(3)) === 0)
          .select(urlc.as("furl"), lit(1719835200000L).as("fms"),
            lit("HTTP/1.1 304 Not Modified\r\n" +
              "Date: Mon, 01 Jul 2024 12:00:00 GMT\r\n\r\n").as("payload"))
        val msg = graft.sources.Warc.httpMessage(col("payload"))
        def hv(n: String) = get(filter(msg.getField("headers"),
          h => h.getField("name") === n), lit(0)).getField("value")
        val parsed = fresh.unionByName(stale).unionByName(reval).select(
          col("furl"), col("fms"), hv("etag").as("etag"),
          graft.sources.Warc.httpDateMillis(hv("last-modified")).as("flm"),
          msg.getField("status_code").cast("int").as("hstatus"))
        graft.operators.Frontier.conditionalRecrawl(hints, "loc",
          col("slm"), col("changefreq"), parsed, col("furl"), col("fms"),
          col("etag"), col("flm"), col("hstatus"))
      }
    },

    // EXPLICIT HTTP FRESHNESS over the heuristic tiers (RFC 9111 —
    // when the ORIGIN ITSELF declares staleness, that beats every
    // lastmod heuristic): Cache-Control no-cache/no-store -> stale at
    // fetch (always revalidate), max-age -> fetch + N s (and MUST
    // shadow Expires, §5.2.2.1 — the %18==0 overlap plants exactly
    // that conflict), Expires -> the typed HTTP-date; only URLs with
    // NO freshness info fall back to q266's validator/sitemap tiers.
    // Headers parsed from real synthesized responses (httpMessage);
    // the oracle replays synthesis, the freshness precedence CASE on
    // the header value, engine-derived epochs, and the fallback fold.
    QueryDef.sql("q268_http_freshness",
      s"""WITH blk AS (
         |  SELECT (doc_id % 19) AS k, doc_id,
         |    'http://h' || (doc_id % 19) || '.example.org/r/' || doc_id AS loc,
         |    $sitemapLastmodSql AS lm,
         |    $sitemapFreqSql AS cf
         |  FROM documents),
         |$sitemapDueCtes,
         |fob AS (
         |  SELECT 'http://h' || (doc_id % 19) || '.example.org/r/' ||
         |      doc_id AS u,
         |    1719835200000 AS t,
         |    CASE WHEN doc_id % 5 = 0 THEN '"v' || doc_id || '"' END AS etag,
         |    CASE WHEN doc_id % 4 = 0
         |      THEN epoch_ms(TIMESTAMP '2024-06-01 12:00:00') END AS flm,
         |    CASE WHEN doc_id % 30 = 12 THEN 'max-age=99999999999999999'
         |         WHEN doc_id % 6 = 0 THEN 'public, max-age=86400'
         |         WHEN doc_id % 6 = 3 THEN 'no-store' END AS cc,
         |    CASE WHEN doc_id % 9 = 0
         |      THEN epoch_ms(TIMESTAMP '2024-08-01 00:00:00') END AS expms,
         |    CASE WHEN doc_id % 12 = 0 THEN '86000'
         |         WHEN doc_id % 12 = 6 THEN '0000012'
         |         WHEN doc_id % 20 = 4 THEN '3600' END AS ageh
         |  FROM documents),
         |crx AS (
         |  SELECT d.loc, f.etag, f.t, f.cc, f.expms, f.flm,
         |    lower(coalesce(f.cc, '')) AS lcc,
         |    regexp_replace(regexp_extract(lower(coalesce(f.cc, '')),
         |      '(^|[,\\s])max-age\\s*=\\s*"?([0-9]+)', 2),
         |      '^0+([0-9])', '\\1') AS mat,
         |    CASE WHEN regexp_matches(regexp_replace(trim(coalesce(f.ageh,
         |        '')), '^0+([0-9])', '\\1'), '^[0-9]{1,15}$$')
         |      THEN CAST(regexp_replace(trim(f.ageh), '^0+([0-9])', '\\1')
         |        AS BIGINT) * 1000
         |      WHEN regexp_matches(regexp_replace(trim(coalesce(f.ageh,
         |        '')), '^0+([0-9])', '\\1'), '^[0-9]{16,}$$')
         |      THEN 999999999999999 * 1000
         |      ELSE 0 END AS agems,
         |    CASE WHEN f.flm IS NOT NULL THEN 'validator'
         |         WHEN d.lastmod_ms IS NOT NULL THEN 'sitemap' END AS hbasis,
         |    coalesce(f.flm, d.lastmod_ms) +
         |      ${changefreqPeriodSql("d.cf")} AS hdue,
         |    (f.etag IS NOT NULL OR f.flm IS NOT NULL) AS conditional
         |  FROM due d LEFT JOIN fob f ON f.u = d.loc)
         |SELECT loc,
         |  CASE WHEN regexp_matches(lcc,
         |        '(^|[,\\s])(no-cache|no-store)\\s*(,|$$)')
         |         THEN regexp_extract(lcc,
         |           '(^|[,\\s])(no-cache|no-store)\\s*(,|$$)', 2)
         |       WHEN mat <> '' THEN 'max-age'
         |       WHEN expms IS NOT NULL THEN 'expires'
         |       WHEN hdue IS NOT NULL THEN hbasis
         |       WHEN flm IS NOT NULL AND t >= flm THEN 'heuristic'
         |       ELSE hbasis END AS basis,
         |  CASE WHEN regexp_matches(lcc,
         |        '(^|[,\\s])(no-cache|no-store)\\s*(,|$$)') THEN t
         |       WHEN regexp_matches(mat, '^[0-9]{1,15}$$')
         |         THEN t + CAST(mat AS BIGINT) * 1000 - agems
         |       WHEN regexp_matches(mat, '^[0-9]{16,}$$')
         |         THEN t + 999999999999999 * 1000
         |       WHEN expms IS NOT NULL THEN expms
         |       WHEN hdue IS NOT NULL THEN hdue
         |       WHEN flm IS NOT NULL AND t >= flm
         |         THEN t + least((t - flm) // 10, 86400000) - agems
         |       END AS due_at_ms,
         |  etag, conditional
         |FROM crx""".stripMargin) {
      (s, d) => {
        val did = col("doc_id")
        val ks = pmod(did, lit(19)).cast("string")
        val ds = did.cast("string")
        val ents = graft.operators.Sitemaps.entries(
          recrawlSitemapXmls(s, d), "host", col("xml"))
        val hints = ents.select(col("loc"),
          graft.operators.Sitemaps.lastmodMillis(col("lastmod")).as("slm"),
          col("changefreq"))
        val urlc = concat(lit("http://h"), ks, lit(".example.org/r/"), ds)
        // observation time 2024-07-01T12:00Z: 30 days after the June 1
        // Last-Modified, so the §4.2.2 heuristic tier (10% of age) is
        // a REAL 3-day lifetime, not a degenerate zero
        val raw = Tables.documents(s, d).select(urlc.as("furl"),
          lit(1719835200000L).as("fms"),
          concat(lit("HTTP/1.1 200 OK\r\n"),
            when(pmod(did, lit(4)) === 0,
              lit("Last-Modified: Sat, 01 Jun 2024 12:00:00 GMT\r\n"))
              .otherwise(lit("")),
            when(pmod(did, lit(5)) === 0,
              concat(lit("ETag: \"v"), ds, lit("\"\r\n")))
              .otherwise(lit("")),
            // %30==12 (⊂ %6==0): a 17-digit max-age SATURATES at the
            // 15-digit horizon, never truncates to its first 15 digits
            when(pmod(did, lit(30)) === 12,
              lit("Cache-Control: max-age=99999999999999999\r\n"))
              .when(pmod(did, lit(6)) === 0,
                lit("Cache-Control: public, max-age=86400\r\n"))
              .when(pmod(did, lit(6)) === 3,
                lit("Cache-Control: no-store\r\n"))
              .otherwise(lit("")),
            when(pmod(did, lit(9)) === 0,
              lit("Expires: Thu, 01 Aug 2024 00:00:00 GMT\r\n"))
              .otherwise(lit("")),
            // RFC 9111 §4.2.3 Age rows: %12==0 near-stale under its
            // max-age (due = t+400 s), %12==6 ZERO-PADDED seconds,
            // %20==4 spans both the max-age and heuristic tiers
            when(pmod(did, lit(12)) === 0, lit("Age: 86000\r\n"))
              .when(pmod(did, lit(12)) === 6, lit("Age: 0000012\r\n"))
              .when(pmod(did, lit(20)) === 4, lit("Age: 3600\r\n"))
              .otherwise(lit("")),
            lit("\r\nok")).as("payload"))
        val msg = graft.sources.Warc.httpMessage(col("payload"))
        def hv(n: String) = get(filter(msg.getField("headers"),
          h => h.getField("name") === n), lit(0)).getField("value")
        // the parsed observation frame feeds BOTH the heuristic tier
        // (conditionalRecrawl) and the freshness overlay: pin it so
        // the header parse runs once (the q262/q264/q265 discipline)
        val parsed = graft.operators.CacheRegistry.persist(
          raw.select(col("furl"), col("fms"), hv("etag").as("etag"),
            graft.sources.Warc.httpDateMillis(hv("last-modified"))
              .as("flm"),
            hv("cache-control").as("cc"),
            graft.sources.Warc.httpDateMillis(hv("expires")).as("expms"),
            hv("age").as("ageh")))
        val cr = graft.operators.Frontier.conditionalRecrawl(hints, "loc",
          col("slm"), col("changefreq"), parsed, col("furl"), col("fms"),
          col("etag"), col("flm"))
        val fr = parsed.select(col("furl"),
          graft.sources.Warc.freshnessDue(col("fms"), col("cc"),
            col("expms"), col("flm"), col("ageh")).as("fr"))
        // precedence: explicit freshness (no-cache/no-store/max-age/
        // expires) > typed validator/sitemap due > RFC 9111 §4.2.2
        // heuristic (lowest — it fills only where no typed due exists)
        val explicitFr = col("fr").isNotNull &&
          col("fr").getField("basis") =!= "heuristic"
        cr.join(fr, cr("loc") === fr("furl"), "left_outer")
          .select(col("loc"),
            when(explicitFr, col("fr").getField("basis"))
              .when(col("due_at_ms").isNotNull, col("basis"))
              .when(col("fr").isNotNull, col("fr").getField("basis"))
              .otherwise(col("basis")).as("basis"),
            when(explicitFr, col("fr").getField("due_ms"))
              .when(col("due_at_ms").isNotNull, col("due_at_ms"))
              .when(col("fr").isNotNull, col("fr").getField("due_ms"))
              .as("due_at_ms"),
            col("etag"), col("conditional"))
      }
    },

    // UNIFIED SCHEDULING POLICY (the three scheduling products — the
    // q262 rank budget, the q255 priority order, the q256/q258
    // recrawl-due — in ONE frontier wave, the last unconsumed edge in
    // the family): PageRank over the WAT-mined host graph apportions
    // the 200-slot budget across hosts (rank picks HOSTS); within a
    // host, declared sitemap priority orders the wave and each URL's
    // typed recrawl-due rides the running-max recurrence as its
    // not-before (priority + due order WITHIN the host); robots
    // crawl-delays space the grants. t0 = 2024-02-01: January dues
    // are stale (clamp to t0), March dues defer their successors. The
    // oracle reuses the four families' shared CTE texts verbatim —
    // rank (q246), allocation (q262), delays (q254/q255), typed
    // lastmod (q256/q258) — plus the priority-ordered two-window
    // recurrence and the least(scalar, slots) horizon.
    QueryDef.sql("q267_unified_schedule",
      s"""WITH $robotsDirsCtes,
         |$hostEdgeCtes,
         |${hostRankCtes(4)},
         |$budgetAllocCtes,
         |$crawlDelayCtes,
         |blk AS (
         |  SELECT (doc_id % 19) AS k, doc_id,
         |    'http://h' || (doc_id % 19) || '.example.org/r/' || doc_id AS loc,
         |    $sitemapLastmodSql AS lm,
         |    $sitemapFreqSql AS cf
         |  FROM documents),
         |$sitemapDueCtes,
         |pr AS (
         |  SELECT loc, host, due_at_ms,
         |    CASE WHEN CAST(regexp_extract(loc, '([0-9]+)$$', 1) AS BIGINT)
         |        % 3 = 0
         |      THEN CAST((CAST(regexp_extract(loc, '([0-9]+)$$', 1) AS BIGINT)
         |        % 10) * 100 AS BIGINT)
         |    END AS priority_milli
         |  FROM due),
         |sq AS (
         |  SELECT pr.*, coalesce(dl.ms, 1000) AS d,
         |    row_number() OVER (PARTITION BY pr.host
         |      ORDER BY pr.priority_milli DESC NULLS LAST, pr.loc) - 1 AS seq
         |  FROM pr LEFT JOIN dl ON dl.host = pr.host),
         |rm AS (
         |  SELECT *, max(greatest(coalesce(due_at_ms, 1706745600000),
         |        1706745600000) - seq * d) OVER (
         |      PARTITION BY host ORDER BY priority_milli DESC NULLS LAST, loc
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS base
         |  FROM sq)
         |SELECT rm.loc, rm.host, CAST(rm.seq AS BIGINT) AS seq,
         |  rm.priority_milli, rm.due_at_ms, al.slots, al.w AS rank_micro,
         |  CASE WHEN rm.seq < least(20, coalesce(al.slots, 20))
         |    THEN rm.base + rm.seq * rm.d END AS fetch_at_ms
         |FROM rm LEFT JOIN al ON al.host = rm.host""".stripMargin) {
      (s, d) => {
        import s.implicits._
        val ents = graft.operators.Sitemaps.entries(
          recrawlSitemapXmls(s, d), "host", col("xml"))
        val didFromLoc =
          regexp_extract(col("loc"), "([0-9]+)$", 1).cast("long")
        val urls = ents.select(col("loc"),
          graft.operators.Sitemaps.recrawlDueMillis(
            graft.operators.Sitemaps.lastmodMillis(col("lastmod")),
            col("changefreq")).as("due_at_ms"),
          when(pmod(didFromLoc, lit(3)) === 0,
            (pmod(didFromLoc, lit(10)) * 100).cast("long"))
            .as("priority_milli"))
        val ranks = Graphs.pageRankMicro(hostEdges(s, d), iterations = 4)
          .select(hostName(col("node")).as("host"), col("rank_micro"))
        // the allocation feeds BOTH the schedule caps and the final
        // slots/rank join: pin the host-count-sized frame so the WAT
        // mining + rank funnel runs once (the q262 discipline)
        val alloc = graft.operators.CacheRegistry.persist(
          graft.operators.Frontier.allocateBudget(
            ranks, "host", col("rank_micro"), budget = 200L))
        val delays = graft.operators.Robots.crawlDelay(
          robotsFixture(s, d), "host", col("body"), agent = "graftbot")
        val sched = graft.operators.Frontier.fetchSchedule(urls, "loc",
          col("loc"), delays, t0Ms = 1706745600000L,
          defaultDelayMs = 1000L, maxPerHost = 20,
          priorityCol = Some("priority_milli"),
          notBeforeCol = Some("due_at_ms"),
          caps = Some(alloc.select(col("host"), col("slots"))))
        sched.join(alloc.select(col("host"), col("slots"),
            col("weight").as("rank_micro")), Seq("host"), "left_outer")
          .select(col("loc"), col("host"), col("seq"),
            col("priority_milli"), col("due_at_ms"), col("slots"),
            col("rank_micro"), col("fetch_at_ms"))
      }
    },

    // RETRY-AFTER HOST BACKOFF (RFC 9110 §10.2.3 — the politeness
    // signal a 429/503 carries: do not come back before this; an
    // EVENT, not a standing spacing rule, so the whole host schedule
    // must shift past it): both RFC forms live in the fixture —
    // delay-seconds scaled per host ((k+1)·60 s on %13==0) and an
    // HTTP-date (600 s past t0 on %13==1), so low-k hosts are
    // dominated by the date form and high-k hosts by the delta form;
    // a malformed value (%13==2, 'soon') contributes nothing, never
    // an error; several throttled responses fold to the MAX horizon.
    // The backoff dimension then rides fetchSchedule's not-before
    // axis: every grant on a backed-off host is >= its horizon AND
    // >= prev + delay. The oracle replays synthesis, both parse
    // forms (strptime on the same normalized text), the max fold,
    // and the running-max recurrence.
    QueryDef.sql("q269_retry_after_backoff",
      s"""WITH resp AS (
         |  SELECT 'http://h' || (doc_id % 19) || '.example.org/r/' ||
         |      doc_id AS u,
         |    (doc_id % 19) AS k, doc_id,
         |    CASE WHEN doc_id % 247 = 3 THEN 503
         |         WHEN doc_id % 247 = 16 THEN 503
         |         WHEN doc_id % 13 = 0 THEN 503
         |         WHEN doc_id % 13 = 1 THEN 429
         |         WHEN doc_id % 13 = 2 THEN 503 ELSE 200 END AS status,
         |    CASE WHEN doc_id % 247 = 3 THEN '99999999999999999999'
         |         WHEN doc_id % 247 = 16 THEN '0000000000000060'
         |         WHEN doc_id % 13 = 0
         |           THEN CAST((doc_id % 19 + 1) * 60 AS VARCHAR)
         |         WHEN doc_id % 13 = 1
         |           THEN 'Thu, 01 Feb 2024 00:10:00 GMT'
         |         WHEN doc_id % 13 = 2 THEN 'soon' END AS ra
         |  FROM documents),
         |bo AS (
         |  SELECT 'h' || k || '.example.org' AS host,
         |    max(untl) AS backoff_until_ms
         |  FROM (
         |    SELECT k,
         |      CASE WHEN regexp_matches(tra, '^[0-9]{1,15}$$')
         |        THEN 1706745600000 + CAST(tra AS BIGINT) * 1000
         |        WHEN regexp_matches(tra, '^[0-9]{16,}$$')
         |        THEN 1706745600000 + 999999999999999 * 1000
         |        ELSE epoch_ms(try_strptime(
         |          CASE WHEN regexp_matches(tra,
         |            '^[A-Za-z]{3}, [0-9]{2} [A-Za-z]{3} [0-9]{4} [0-9]{2}:[0-9]{2}:[0-9]{2} GMT$$')
         |            THEN substr(tra, 6, 20) END,
         |          '%d %b %Y %H:%M:%S'))
         |        END AS untl
         |    FROM (SELECT k, regexp_replace(trim(ra), '^0+([0-9])', '\\1') AS tra
         |          FROM resp WHERE status IN (429, 503) AND ra IS NOT NULL) x0) x
         |  WHERE untl IS NOT NULL GROUP BY k),
         |sq AS (
         |  SELECT r.doc_id, r.u,
         |    'h' || r.k || '.example.org' AS host, b.backoff_until_ms,
         |    row_number() OVER (PARTITION BY r.k ORDER BY r.doc_id) - 1 AS seq
         |  FROM resp r
         |  LEFT JOIN bo b ON b.host = 'h' || r.k || '.example.org'),
         |rm AS (
         |  SELECT *, max(greatest(coalesce(backoff_until_ms, 1706745600000),
         |      1706745600000) - seq * 1000) OVER (
         |    PARTITION BY host ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS base
         |  FROM sq)
         |SELECT doc_id, u AS url, host, CAST(seq AS BIGINT) AS seq,
         |  backoff_until_ms,
         |  CASE WHEN seq < 30 THEN base + seq * 1000 END AS fetch_at_ms
         |FROM rm""".stripMargin) {
      (s, d) => {
        import s.implicits._
        val did = col("doc_id")
        val ks = pmod(did, lit(19)).cast("string")
        val ds = did.cast("string")
        val urlc = concat(lit("http://h"), ks, lit(".example.org/r/"), ds)
        val docs = Tables.documents(s, d)
        // %247==3 (one host: k=3, since 247 = 13·19) carries a 20-digit
        // delay-seconds — syntactically valid, absurd: SATURATES at the
        // 15-digit horizon instead of dropping to no-backoff (r13
        // ADVICE); contained to one host so the other hosts keep the
        // delta-vs-date dominance design
        // %247==16 (host k=16): a ZERO-PADDED 16-digit delay-seconds —
        // legally 60 s, which must strip to the arithmetic branch, not
        // saturate to the 15-digit horizon (r14 ADVICE)
        val resp = docs.select(did, urlc.as("rurl"),
          when(pmod(did, lit(247)) === 3, 503)
            .when(pmod(did, lit(247)) === 16, 503)
            .when(pmod(did, lit(13)) === 0, 503)
            .when(pmod(did, lit(13)) === 1, 429)
            .when(pmod(did, lit(13)) === 2, 503)
            .otherwise(200).as("status"),
          when(pmod(did, lit(247)) === 3, lit("99999999999999999999"))
            .when(pmod(did, lit(247)) === 16, lit("0000000000000060"))
            .when(pmod(did, lit(13)) === 0,
              ((pmod(did, lit(19)) + 1) * 60).cast("string"))
            .when(pmod(did, lit(13)) === 1,
              lit("Thu, 01 Feb 2024 00:10:00 GMT"))
            .when(pmod(did, lit(13)) === 2, lit("soon"))
            .as("retry_after"))
        val backoff = graft.operators.Frontier.hostBackoff(resp,
          col("rurl"), col("status"), col("retry_after"),
          lit(1706745600000L))
        val urls = docs.select(did, urlc.as("u"))
          .withColumn("__bh",
            lower(regexp_extract(col("u"), "(?i)^https?://([^/?#]+)", 1)))
          .join(broadcast(backoff.withColumnRenamed("host", "__bh")),
            Seq("__bh"), "left_outer")
          .drop("__bh")
        val noDelays = Seq.empty[(String, Long)]
          .toDF("host", "crawl_delay_ms")
        graft.operators.Frontier.fetchSchedule(urls, "doc_id", col("u"),
          noDelays, t0Ms = 1706745600000L, defaultDelayMs = 1000L,
          maxPerHost = 30, notBeforeCol = Some("backoff_until_ms"))
          .select(col("doc_id"), col("url"), col("host"), col("seq"),
            col("backoff_until_ms"), col("fetch_at_ms"))
      }
    },

    // THE COMPLETE RECRAWL WAVE (every recrawl signal the family
    // produces, consumed in ONE schedule — the q267 pattern applied
    // to the conditional-recrawl side): per URL, the due time fuses
    // RFC 9111 explicit freshness over RFC 9110 validators over
    // sitemap hints (q268's precedence); per HOST, Retry-After
    // backoff (q269) floors every grant; robots crawl-delays space
    // them. nb = greatest(due, backoff) — both engines' greatest
    // skips nulls, so a URL with either signal alone still defers.
    // t0 = 2024-06-02T00:00Z makes every class live: no-cache and
    // hourly-validator dues are STALE (clamp to t0), max-age/daily/
    // Expires dues DEFER, delta backoffs are dead below host k=5 and
    // live above, the date-form backoff is live everywhere it
    // dominates. All signals parse from ONE real response per URL
    // (status line + headers through httpMessage), the parse pinned
    // once for its three consumers.
    QueryDef.sql("q270_recrawl_wave",
      s"""WITH $robotsDirsCtes,
         |$crawlDelayCtes,
         |blk AS (
         |  SELECT (doc_id % 19) AS k, doc_id,
         |    'http://h' || (doc_id % 19) || '.example.org/r/' || doc_id AS loc,
         |    $sitemapLastmodSql AS lm,
         |    $sitemapFreqSql AS cf
         |  FROM documents),
         |$sitemapDueCtes,
         |fob AS (
         |  SELECT 'http://h' || (doc_id % 19) || '.example.org/r/' ||
         |      doc_id AS u,
         |    (doc_id % 19) AS k, 1717243200000 AS t,
         |    CASE WHEN doc_id % 13 = 0 THEN 503
         |         WHEN doc_id % 13 = 1 THEN 429
         |         WHEN doc_id % 13 = 2 THEN 503 ELSE 200 END AS status,
         |    CASE WHEN doc_id % 13 = 0
         |           THEN CAST((doc_id % 19 + 1) * 7200 AS VARCHAR)
         |         WHEN doc_id % 13 = 1
         |           THEN 'Sun, 02 Jun 2024 06:00:00 GMT'
         |         WHEN doc_id % 13 = 2 THEN 'soon' END AS ra,
         |    CASE WHEN doc_id % 5 = 0 THEN '"v' || doc_id || '"' END AS etag,
         |    CASE WHEN doc_id % 4 = 0
         |      THEN epoch_ms(TIMESTAMP '2024-06-01 12:00:00') END AS flm,
         |    CASE WHEN doc_id % 6 = 0 THEN 'public, max-age=86400'
         |         WHEN doc_id % 6 = 3 THEN 'no-store' END AS cc,
         |    CASE WHEN doc_id % 9 = 0
         |      THEN epoch_ms(TIMESTAMP '2024-08-01 00:00:00') END AS expms,
         |    CASE WHEN doc_id % 12 = 0 THEN '86000'
         |         WHEN doc_id % 12 = 6 THEN '0000012'
         |         WHEN doc_id % 20 = 4 THEN '3600' END AS ageh
         |  FROM documents),
         |fx AS (
         |  SELECT d.loc, d.host, f.t, lower(coalesce(f.cc, '')) AS lcc,
         |    regexp_replace(regexp_extract(lower(coalesce(f.cc, '')),
         |      '(^|[,\\s])max-age\\s*=\\s*"?([0-9]+)', 2),
         |      '^0+([0-9])', '\\1') AS mat,
         |    CASE WHEN regexp_matches(regexp_replace(trim(coalesce(f.ageh,
         |        '')), '^0+([0-9])', '\\1'), '^[0-9]{1,15}$$')
         |      THEN CAST(regexp_replace(trim(f.ageh), '^0+([0-9])', '\\1')
         |        AS BIGINT) * 1000
         |      WHEN regexp_matches(regexp_replace(trim(coalesce(f.ageh,
         |        '')), '^0+([0-9])', '\\1'), '^[0-9]{16,}$$')
         |      THEN 999999999999999 * 1000
         |      ELSE 0 END AS agems,
         |    f.expms, f.etag, f.flm,
         |    CASE WHEN f.flm IS NOT NULL THEN 'validator'
         |         WHEN d.lastmod_ms IS NOT NULL THEN 'sitemap' END AS hbasis,
         |    coalesce(f.flm, d.lastmod_ms) +
         |      ${changefreqPeriodSql("d.cf")} AS hdue
         |  FROM due d LEFT JOIN fob f ON f.u = d.loc),
         |fz AS (
         |  SELECT loc, host,
         |    CASE WHEN regexp_matches(lcc,
         |          '(^|[,\\s])(no-cache|no-store)\\s*(,|$$)')
         |           THEN regexp_extract(lcc,
         |             '(^|[,\\s])(no-cache|no-store)\\s*(,|$$)', 2)
         |         WHEN mat <> '' THEN 'max-age'
         |         WHEN expms IS NOT NULL THEN 'expires'
         |         WHEN hdue IS NOT NULL THEN hbasis
         |         WHEN flm IS NOT NULL AND t >= flm THEN 'heuristic'
         |         ELSE hbasis END AS basis,
         |    CASE WHEN regexp_matches(lcc,
         |          '(^|[,\\s])(no-cache|no-store)\\s*(,|$$)') THEN t
         |         WHEN regexp_matches(mat, '^[0-9]{1,15}$$')
         |           THEN t + CAST(mat AS BIGINT) * 1000 - agems
         |         WHEN regexp_matches(mat, '^[0-9]{16,}$$')
         |           THEN t + 999999999999999 * 1000
         |         WHEN expms IS NOT NULL THEN expms
         |         WHEN hdue IS NOT NULL THEN hdue
         |         WHEN flm IS NOT NULL AND t >= flm
         |           THEN t + least((t - flm) // 10, 86400000) - agems
         |         END AS due_ms
         |  FROM fx),
         |bo AS (
         |  SELECT 'h' || k || '.example.org' AS host,
         |    max(untl) AS backoff_until_ms
         |  FROM (
         |    SELECT k,
         |      CASE WHEN regexp_matches(tra, '^[0-9]{1,15}$$')
         |        THEN t + CAST(tra AS BIGINT) * 1000
         |        WHEN regexp_matches(tra, '^[0-9]{16,}$$')
         |        THEN t + 999999999999999 * 1000
         |        ELSE epoch_ms(try_strptime(
         |          CASE WHEN regexp_matches(tra,
         |            '^[A-Za-z]{3}, [0-9]{2} [A-Za-z]{3} [0-9]{4} [0-9]{2}:[0-9]{2}:[0-9]{2} GMT$$')
         |            THEN substr(tra, 6, 20) END,
         |          '%d %b %Y %H:%M:%S'))
         |        END AS untl
         |    FROM (SELECT k, t, regexp_replace(trim(ra), '^0+([0-9])', '\\1') AS tra
         |          FROM fob WHERE status IN (429, 503) AND ra IS NOT NULL) x0) x
         |  WHERE untl IS NOT NULL GROUP BY k),
         |uw AS (
         |  SELECT fz.loc, fz.host, fz.basis, fz.due_ms, b.backoff_until_ms,
         |    greatest(fz.due_ms, b.backoff_until_ms) AS nb
         |  FROM fz LEFT JOIN bo b ON b.host = fz.host),
         |sq AS (
         |  SELECT uw.*, coalesce(dl.ms, 1000) AS dd,
         |    row_number() OVER (PARTITION BY uw.host ORDER BY uw.loc) - 1 AS seq
         |  FROM uw LEFT JOIN dl ON dl.host = uw.host),
         |rm AS (
         |  SELECT *, max(greatest(coalesce(nb, 1717286400000),
         |      1717286400000) - seq * dd) OVER (
         |    PARTITION BY host ORDER BY loc
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS base
         |  FROM sq)
         |SELECT loc, host, basis, due_ms, backoff_until_ms,
         |  CAST(seq AS BIGINT) AS seq,
         |  CASE WHEN seq < 25 THEN base + seq * dd END AS fetch_at_ms
         |FROM rm""".stripMargin) {
      (s, d) => {
        val did = col("doc_id")
        val ks = pmod(did, lit(19)).cast("string")
        val ds = did.cast("string")
        val ents = graft.operators.Sitemaps.entries(
          recrawlSitemapXmls(s, d), "host", col("xml"))
        val hints = ents.select(col("loc"),
          graft.operators.Sitemaps.lastmodMillis(col("lastmod")).as("slm"),
          col("changefreq"))
        val urlc = concat(lit("http://h"), ks, lit(".example.org/r/"), ds)
        val raw = Tables.documents(s, d).select(urlc.as("furl"),
          lit(1717243200000L).as("fms"),
          concat(
            when(pmod(did, lit(13)) === 0,
              lit("HTTP/1.1 503 Service Unavailable\r\n"))
              .when(pmod(did, lit(13)) === 1,
                lit("HTTP/1.1 429 Too Many Requests\r\n"))
              .when(pmod(did, lit(13)) === 2,
                lit("HTTP/1.1 503 Service Unavailable\r\n"))
              .otherwise(lit("HTTP/1.1 200 OK\r\n")),
            when(pmod(did, lit(13)) === 0, concat(lit("Retry-After: "),
              ((pmod(did, lit(19)) + 1) * 7200).cast("string"),
              lit("\r\n")))
              .when(pmod(did, lit(13)) === 1,
                lit("Retry-After: Sun, 02 Jun 2024 06:00:00 GMT\r\n"))
              .when(pmod(did, lit(13)) === 2,
                lit("Retry-After: soon\r\n"))
              .otherwise(lit("")),
            when(pmod(did, lit(4)) === 0,
              lit("Last-Modified: Sat, 01 Jun 2024 12:00:00 GMT\r\n"))
              .otherwise(lit("")),
            when(pmod(did, lit(5)) === 0,
              concat(lit("ETag: \"v"), ds, lit("\"\r\n")))
              .otherwise(lit("")),
            when(pmod(did, lit(6)) === 0,
              lit("Cache-Control: public, max-age=86400\r\n"))
              .when(pmod(did, lit(6)) === 3,
                lit("Cache-Control: no-store\r\n"))
              .otherwise(lit("")),
            when(pmod(did, lit(9)) === 0,
              lit("Expires: Thu, 01 Aug 2024 00:00:00 GMT\r\n"))
              .otherwise(lit("")),
            // RFC 9111 §4.2.3 Age rows (the q268 battery at this
            // gate's fetch vintage): %12==0 near-stale max-age,
            // %12==6 zero-padded, %20==4 a stale-at-arrival heuristic
            // (lifetime 0 − 3600 s: due BEFORE fetch, rides the nb
            // clamp)
            when(pmod(did, lit(12)) === 0, lit("Age: 86000\r\n"))
              .when(pmod(did, lit(12)) === 6, lit("Age: 0000012\r\n"))
              .when(pmod(did, lit(20)) === 4, lit("Age: 3600\r\n"))
              .otherwise(lit("")),
            lit("\r\nok")).as("payload"))
        val msg = graft.sources.Warc.httpMessage(col("payload"))
        def hv(n: String) = get(filter(msg.getField("headers"),
          h => h.getField("name") === n), lit(0)).getField("value")
        // one real response carries every signal; the parse feeds
        // THREE consumers (heuristic due, freshness overlay, backoff)
        // — pinned once
        val parsed = graft.operators.CacheRegistry.persist(
          raw.select(col("furl"), col("fms"),
            msg.getField("status_code").as("st"),
            hv("retry-after").as("ra"), hv("etag").as("etag"),
            graft.sources.Warc.httpDateMillis(hv("last-modified"))
              .as("flm"),
            hv("cache-control").as("cc"),
            graft.sources.Warc.httpDateMillis(hv("expires")).as("expms"),
            hv("age").as("ageh")))
        val cr = graft.operators.Frontier.conditionalRecrawl(hints, "loc",
          col("slm"), col("changefreq"), parsed, col("furl"), col("fms"),
          col("etag"), col("flm"))
        val fr = parsed.select(col("furl"),
          graft.sources.Warc.freshnessDue(col("fms"), col("cc"),
            col("expms"), col("flm"), col("ageh")).as("fr"))
        // q268's precedence: explicit > typed due > §4.2.2 heuristic
        val explicitFr = col("fr").isNotNull &&
          col("fr").getField("basis") =!= "heuristic"
        val fused = cr.join(fr, cr("loc") === fr("furl"), "left_outer")
          .select(col("loc"),
            when(explicitFr, col("fr").getField("basis"))
              .when(col("due_at_ms").isNotNull, col("basis"))
              .when(col("fr").isNotNull, col("fr").getField("basis"))
              .otherwise(col("basis")).as("basis"),
            when(explicitFr, col("fr").getField("due_ms"))
              .when(col("due_at_ms").isNotNull, col("due_at_ms"))
              .when(col("fr").isNotNull, col("fr").getField("due_ms"))
              .as("due_ms"))
        val bo = graft.operators.Frontier.hostBackoff(parsed, col("furl"),
          col("st"), col("ra"), col("fms"))
        val urls = fused
          .withColumn("__bh",
            lower(regexp_extract(col("loc"), "(?i)^https?://([^/?#]+)", 1)))
          .join(broadcast(bo.withColumnRenamed("host", "__bh")),
            Seq("__bh"), "left_outer")
          .drop("__bh")
          .withColumn("nb",
            greatest(col("due_ms"), col("backoff_until_ms")))
        val delays = graft.operators.Robots.crawlDelay(
          robotsFixture(s, d), "host", col("body"), agent = "graftbot")
        graft.operators.Frontier.fetchSchedule(urls, "loc", col("loc"),
          delays, t0Ms = 1717286400000L, defaultDelayMs = 1000L,
          maxPerHost = 25, notBeforeCol = Some("nb"))
          .select(col("loc"), col("host"), col("basis"), col("due_ms"),
            col("backoff_until_ms"), col("seq"), col("fetch_at_ms"))
      }
    },

    // CANONICAL-AWARE FRONTIER (q249's canonical_url actually CONSUMED
    // by the URL identity story — the r13 verdict's last "produced but
    // never consumed" edge, the same loop sitemaps closed in r12 and
    // redirects in r13): fetch results map through their redirect
    // chains to the LANDING URL (q263/q265's shared text), then the
    // landing PAGE's own <link rel="canonical"> — mined from real HTML
    // through the q249 extraction machinery (decode, base chain,
    // resolve, dot-norm) — moves the key once more, so canonical ∪
    // redirect evidence collapse to ONE schedulable fetch. %11==4
    // landings (the 200 class) carry hints on two residues: %22==4 a
    // same-host relative canonical (/r/doc{N+11}) and %22==15 a
    // CROSS-HOST absolute one (h{(N+2)%19}) — the collapsed row is
    // robots-checked and politeness-scheduled at the CANONICAL's host
    // (the q265 landing discipline applied one identity level up).
    // The oracle replays the whole composition: chain text, the
    // extraction regex chain, unescape + resolve + dot-norm, both
    // canon folds, the q250 verdict funnel, and the capped windows.
    QueryDef.sql("q271_canonical_frontier",
      raw"""WITH $robotsDirsCtes,
         |$redirectCtes,
         |disc AS (SELECT url FROM resp),
         |${canonChain("d", "disc", "url")},
         |-- the fixture merges with EMPTY seeds, so mergeSeeds'
         |-- full-outer CASE degenerates to discovered/NULL here — but
         |-- the fold below CARRIES these through the collapse (the
         |-- q263/q265 discipline), so a seed-bearing variant of this
         |-- fixture would flow, not silently diverge (r14 ADVICE)
         |dc AS (SELECT canon, min(url) AS url, 'discovered' AS source,
         |         CAST(NULL AS BIGINT) AS priority_milli
         |       FROM dcn GROUP BY canon),
         |chd AS (SELECT url, CASE WHEN outcome = 'exceeded' THEN url
         |          ELSE final_url END AS dest FROM rc),
         |${canonChain("c", "chd", "url")},
         |ch AS (SELECT canon, min(dest) AS dest FROM ccn GROUP BY canon),
         |tg AS (SELECT coalesce(ch.dest, dc.url) AS target, dc.source,
         |         dc.priority_milli
         |       FROM dc LEFT JOIN ch ON ch.canon = dc.canon),
         |cpg AS (
         |  SELECT doc_id,
         |    'http://h' || (doc_id % 19) || '.example.org/r/doc' ||
         |      doc_id AS curl,
         |    '<html><head>' ||
         |    CASE WHEN doc_id % 22 = 4 THEN
         |      '<link rel="canonical" href="/r/doc' || (doc_id + 11) || '">'
         |    WHEN doc_id % 22 = 15 THEN
         |      '<link rel=''canonical'' href=''http://h' ||
         |      ((doc_id + 2) % 19) || '.example.org/r/doc' || doc_id || '''>'
         |    ELSE '' END ||
         |    '</head><body><p>x</p></body></html>' AS html
         |  FROM documents WHERE doc_id % 11 = 4),
         |cx AS (
         |  SELECT curl,
         |    regexp_extract(curl, '^(https?)://', 1) AS sch,
         |    regexp_extract(curl, '^https?://([^/?#]+)', 1) AS hst,
         |    regexp_extract(curl, '^https?://[^/?#]+(/[^?#]*)', 1) AS pth,
         |    regexp_replace(regexp_extract(regexp_extract(html,
         |      '(?i)<link\s[^>]*rel\s*=\s*("canonical"|''canonical'')[^>]*>', 0),
         |      '(?i)\bhref\s*=\s*("[^">]*"|''[^''>]*'')', 1),
         |      '^["'']|["'']$$', '', 'g') AS canr
         |  FROM cpg),
         |cxd AS (SELECT *, ${unescapeSql("canr")} AS canr_d FROM cx),
         |cxu AS (SELECT curl, ${resolveSql("canr_d")} AS canu0 FROM cxd),
         |cxn AS (SELECT curl,
         |          coalesce(${dotNormSql("canu0")}, '') AS canu FROM cxu),
         |${canonChain("h", "cxn", "curl")},
         |hx AS (SELECT canon AS hk, min(canu) AS canu FROM hcn
         |       WHERE canu <> '' GROUP BY canon),
         |${canonChain("t", "tg", "target")},
         |t2 AS (SELECT CASE WHEN h.canu IS NOT NULL THEN h.canu
         |         ELSE t.target END AS target2, t.source, t.priority_milli
         |       FROM tcn t LEFT JOIN hx h ON h.hk = t.canon),
         |${canonChain("f", "t2", "target2")},
         |fo0 AS (SELECT canon, min(target2) AS url,
         |         max(priority_milli) AS priority_milli,
         |         CAST(count(*) AS BIGINT) AS n_aliases,
         |         max(CASE WHEN source IN ('sitemap', 'both')
         |             THEN 1 ELSE 0 END) AS sm,
         |         max(CASE WHEN source IN ('discovered', 'both')
         |             THEN 1 ELSE 0 END) AS dv
         |       FROM fcn GROUP BY canon),
         |fo AS (SELECT canon, url,
         |         CASE WHEN sm = 1 AND dv = 1 THEN 'both'
         |              WHEN sm = 1 THEN 'sitemap'
         |              ELSE 'discovered' END AS source,
         |         priority_milli, n_aliases FROM fo0),
         |fpath AS (
         |  SELECT canon, url,
         |    lower(regexp_extract(url, '(?i)^https?://([^/?#]+)', 1)) AS host,
         |    CASE WHEN regexp_extract(url, '(?i)^https?://[^/?#]+([^#]*)', 1) = ''
         |      THEN '/' ELSE regexp_extract(url, '(?i)^https?://[^/?#]+([^#]*)', 1)
         |      END AS p
         |  FROM fo),
         |fhits AS (
         |  SELECT f.canon, f.host, d.rule, d.path AS rpath,
         |    d.pattern IS NOT NULL AND regexp_matches(f.p, d.pattern) AS m,
         |    length(d.path) AS plen
         |  FROM fpath f LEFT JOIN dirs d ON d.host = f.host),
         |fwin AS (
         |  SELECT *, row_number() OVER (PARTITION BY canon ORDER BY
         |      CASE WHEN m THEN plen ELSE -1 END DESC,
         |      CASE WHEN rule = 'allow' THEN 1 ELSE 0 END DESC,
         |      rpath ASC NULLS LAST) AS rn
         |  FROM fhits),
         |fv AS (SELECT canon, host, (NOT m) OR rule = 'allow' AS allowed
         |       FROM fwin WHERE rn = 1),
         |$crawlDelayCtes,
         |alw AS (SELECT fo.canon, fo.url, fo.source, fo.priority_milli,
         |          fo.n_aliases, fv.host FROM fo
         |        JOIN fv ON fv.canon = fo.canon WHERE fv.allowed),
         |sqx AS (SELECT *, row_number() OVER (PARTITION BY host
         |          ORDER BY canon) - 1 AS seq
         |        FROM alw)
         |SELECT sqx.canon, sqx.url, sqx.host, sqx.source,
         |  sqx.priority_milli, sqx.n_aliases,
         |  true AS allowed, CAST(sqx.seq AS BIGINT) AS seq,
         |  CASE WHEN sqx.seq < 15
         |    THEN 1704067200000 + sqx.seq * coalesce(dl.ms, 1000)
         |  END AS fetch_at_ms
         |FROM sqx LEFT JOIN dl ON dl.host = sqx.host
         |UNION ALL
         |SELECT fo.canon, fo.url, fv.host, fo.source,
         |  fo.priority_milli, fo.n_aliases,
         |  false AS allowed, CAST(NULL AS BIGINT) AS seq,
         |  CAST(NULL AS BIGINT) AS fetch_at_ms
         |FROM fo JOIN fv ON fv.canon = fo.canon
         |WHERE NOT fv.allowed""".stripMargin) {
      (s, d) => {
        import s.implicits._
        val did = col("doc_id")
        val fx = redirectFixture(s, d)
        val discovered = fx.select(col("url"))
        val emptySeeds = Seq.empty[(String, java.lang.Long)]
          .toDF("loc", "pm")
        val merged = graft.operators.Frontier.mergeSeeds(
          discovered, col("url"), emptySeeds, col("loc"), col("pm"))
        // the landing pages' REAL HTML, mined through the q249
        // extraction machinery (frame form): the content-level
        // identity evidence
        val cpages = Tables.documents(s, d)
          .filter(pmod(did, lit(11)) === 4)
          .select(
            concat(lit("http://h"), pmod(did, lit(19)).cast("string"),
              lit(".example.org/r/doc"), did.cast("string")).as("curl"),
            concat(lit("<html><head>"),
              when(pmod(did, lit(22)) === 4,
                concat(lit("<link rel=\"canonical\" href=\"/r/doc"),
                  (did + 11).cast("string"), lit("\">")))
                .when(pmod(did, lit(22)) === 15,
                  concat(lit("<link rel='canonical' href='http://h"),
                    pmod(did + 2, lit(19)).cast("string"),
                    lit(".example.org/r/doc"), did.cast("string"),
                    lit("'>")))
                .otherwise(lit("")),
              lit("</head><body><p>x</p></body></html>")).as("html"))
        val hints = WebGraph.pageMetaFrame(cpages, col("curl"),
            col("html"), out = "m")
          .select(col("curl"), col("m.canonical_url").as("canu"))
        // pinned for the same reason as q265's collapsed: the verdict
        // side's pruning otherwise re-derives the chain + canonical
        // funnel as a second, non-reusable subtree
        val collapsed = graft.operators.CacheRegistry.persist(
          graft.operators.Frontier.resolveAliases(
              merged, redirectResolved(s, d), hints, col("curl"), col("canu")))
        val robots = robotsFixture(s, d)
        val verd = graft.operators.Robots.allowed(
          collapsed.select("canon", "url"), "canon", col("url"),
          robots, "host", col("body"), agent = "graftbot")
          .select(col("canon"), col("host"), col("allowed"))
        // verdict-annotated frame feeds the scheduled AND blocked
        // branches: pin it so the chain + canonical + verdict funnel
        // runs once (the q262/q265 discipline)
        val full = graft.operators.CacheRegistry.persist(
          collapsed.join(verd, Seq("canon")))
        val delays = graft.operators.Robots.crawlDelay(
          robots, "host", col("body"), agent = "graftbot")
        val sched = graft.operators.Frontier.fetchSchedule(
          full.filter(col("allowed")).drop("host", "allowed"),
          "canon", col("url"), delays, t0Ms = 1704067200000L,
          defaultDelayMs = 1000L, maxPerHost = 15)
        sched.withColumn("allowed", lit(true))
          .unionByName(full.filter(!col("allowed"))
            .select(col("canon"), col("url"), col("host"),
              lit(null).cast("long").as("seq"),
              lit(null).cast("long").as("fetch_at_ms"),
              col("source"), col("priority_milli"), col("n_aliases"),
              lit(false).as("allowed")))
          .select(col("canon"), col("url"), col("host"), col("source"),
            col("priority_milli"), col("n_aliases"), col("allowed"),
            col("seq"), col("fetch_at_ms"))
      }
    },

    // PERMANENCE-AWARE FRONTIER (RFC 9110 §15.4 finally split —
    // resolveAliases treats every settled redirect as identity, which
    // is right for a content census and wrong for a standing
    // frontier): identity collapses only through the longest
    // all-PERMANENT (301/308) chain prefix (q263's perm_url), while
    // temporary evidence (302/303/307) becomes per-wave ROUTING — the
    // kept identity mapped through the FULL chain to fetch_url. The
    // %11 fixture proves both directions at once: d%11==0's 301 edge
    // merges it with its landing, but the 302 edge one hop later does
    // NOT pull it to the chain's routing terminus — the 302-bounced
    // identities survive as distinct rows (distinct canon) SHARING a
    // fetch_canon, and is_fetch_leader marks exactly one row per
    // fetch group as the wave's single scheduled fetch ("two rows
    // survive, one fetch scheduled"). Seeds respell fetched URLs
    // through the §6.2.2 decode (the q265 %6F discipline) so the
    // source/priority folds carry real sitemap evidence through the
    // permanent collapse. The oracle replays chain + perm tracking,
    // both canon chains, the merge, the permanent collapse, the
    // routing map, and the fetch-grain census.
    QueryDef.sql("q272_permanent_frontier",
      s"""WITH $redirectCtes,
         |disc AS (SELECT url FROM resp),
         |${canonChain("d", "disc", "url")},
         |dc AS (SELECT canon, min(url) AS d_url FROM dcn GROUP BY canon),
         |seeds AS (
         |  SELECT 'http://H' || (doc_id % 19) || '.EXAMPLE.ORG/r/d%6Fc' ||
         |      doc_id || '?utm_source=sm' AS loc,
         |    CASE WHEN doc_id % 3 = 0
         |      THEN CAST((doc_id % 10) * 100 AS BIGINT) END AS pm
         |  FROM documents WHERE doc_id % 2 = 0),
         |${canonChain("s", "seeds", "loc")},
         |sc AS (SELECT canon, min(loc) AS s_url, max(pm) AS priority_milli
         |       FROM scn GROUP BY canon),
         |mg AS (
         |  SELECT coalesce(dc.canon, sc.canon) AS canon,
         |    coalesce(sc.s_url, dc.d_url) AS url,
         |    CASE WHEN sc.canon IS NOT NULL AND dc.canon IS NOT NULL THEN 'both'
         |         WHEN sc.canon IS NOT NULL THEN 'sitemap'
         |         ELSE 'discovered' END AS source,
         |    sc.priority_milli
         |  FROM dc FULL OUTER JOIN sc ON dc.canon = sc.canon),
         |pchd AS (SELECT url, CASE WHEN outcome = 'exceeded' THEN url
         |           ELSE perm_url END AS dest FROM rc),
         |${canonChain("p", "pchd", "url")},
         |pch AS (SELECT canon, min(dest) AS dest FROM pcn GROUP BY canon),
         |tg AS (SELECT coalesce(pch.dest, mg.url) AS target, mg.source,
         |         mg.priority_milli
         |       FROM mg LEFT JOIN pch ON pch.canon = mg.canon),
         |${canonChain("t", "tg", "target")},
         |fo0 AS (SELECT canon, min(target) AS url,
         |         max(priority_milli) AS priority_milli,
         |         CAST(count(*) AS BIGINT) AS n_aliases,
         |         max(CASE WHEN source IN ('sitemap', 'both')
         |             THEN 1 ELSE 0 END) AS sm,
         |         max(CASE WHEN source IN ('discovered', 'both')
         |             THEN 1 ELSE 0 END) AS dv
         |       FROM tcn GROUP BY canon),
         |fa AS (SELECT canon, url,
         |         CASE WHEN sm = 1 AND dv = 1 THEN 'both'
         |              WHEN sm = 1 THEN 'sitemap'
         |              ELSE 'discovered' END AS source,
         |         priority_milli, n_aliases FROM fo0),
         |rchd AS (SELECT url, CASE WHEN outcome = 'exceeded' THEN url
         |           ELSE final_url END AS dest FROM rc),
         |${canonChain("r", "rchd", "url")},
         |rch AS (SELECT canon AS rk, min(dest) AS dest FROM rcn GROUP BY canon),
         |rt AS (SELECT fa.canon AS id_canon, fa.url, fa.source,
         |         fa.priority_milli, fa.n_aliases,
         |         coalesce(rch.dest, fa.url) AS fetch_url
         |       FROM fa LEFT JOIN rch ON rch.rk = fa.canon),
         |${canonChain("g", "rt", "fetch_url")},
         |fcen AS (SELECT canon AS fetch_canon,
         |           CAST(count(*) AS BIGINT) AS n_identities,
         |           min(id_canon) AS lead FROM gcn GROUP BY canon)
         |SELECT g.id_canon AS canon, g.url, g.source, g.priority_milli,
         |  g.n_aliases, g.fetch_url, f.fetch_canon, f.n_identities,
         |  g.id_canon = f.lead AS is_fetch_leader
         |FROM gcn g JOIN fcen f ON f.fetch_canon = g.canon""".stripMargin) {
      (s, d) => {
        import graft.functions.TextFunctions.canonicalizeUrl
        val did = col("doc_id")
        val ks = pmod(did, lit(19)).cast("string")
        val fx = redirectFixture(s, d)
        val discovered = fx.select(col("url"))
        val seeds = Tables.documents(s, d)
          .filter(pmod(did, lit(2)) === 0)
          .select(concat(lit("http://H"), ks, lit(".EXAMPLE.ORG/r/d%6Fc"),
              did.cast("string"), lit("?utm_source=sm")).as("loc"),
            when(pmod(did, lit(3)) === 0,
              (pmod(did, lit(10)) * 100).cast("long")).as("pm"))
        val merged = graft.operators.Frontier.mergeSeeds(
          discovered, col("url"), seeds, col("loc"), col("pm"))
        // the identity-grain frame feeds BOTH the fetch-grain census
        // and the final join-back: pin it so the chain + merge +
        // permanent-collapse funnel runs once (the q264 discipline)
        val rows = graft.operators.CacheRegistry.persist(
          graft.operators.Frontier.resolveAliasesPermanent(
              merged, redirectResolved(s, d))
            .withColumn("fetch_canon", canonicalizeUrl(col("fetch_url"))))
        val census = rows.groupBy("fetch_canon")
          .agg(count(lit(1)).as("n_identities"), min("canon").as("__lead"))
        rows.join(census, Seq("fetch_canon"))
          .select(col("canon"), col("url"), col("source"),
            col("priority_milli"), col("n_aliases"), col("fetch_url"),
            col("fetch_canon"), col("n_identities"),
            (col("canon") === col("__lead")).as("is_fetch_leader"))
      }
    },

    // PERMANENT-FRONTIER WAVE (q272's fetch_url actually CONSUMED by
    // scheduling — the same loop-closing step q265 took for
    // final_url): identities collapse on PERMANENT evidence, then the
    // wave deduplicates at the FETCH grain (one fetch per fetch_canon
    // group — min-canon leader, min wave spelling, max priority over
    // the group: a priority declared for ANY identity prioritizes the
    // fetch), the wave URL is robots-checked at ITS host (the landing
    // discipline one grain down: you are about to hit fetch_url, so
    // that is where politeness applies) and politeness-scheduled per
    // fetch host. Every identity row rides back with its group's
    // verdict and grant: the 302-bounced identities share ONE
    // scheduled fetch (same seq/fetch_at_ms, one is_fetch_leader).
    // The oracle replays chain + perm + routing + the fetch-grain
    // fold + the q250 verdict funnel on wave URLs + delay extraction
    // + the priority-ordered capped windows.
    QueryDef.sql("q273_permanent_wave",
      s"""WITH $robotsDirsCtes,
         |$redirectCtes,
         |disc AS (SELECT url FROM resp),
         |${canonChain("d", "disc", "url")},
         |dc AS (SELECT canon, min(url) AS d_url FROM dcn GROUP BY canon),
         |seeds AS (
         |  SELECT 'http://H' || (doc_id % 19) || '.EXAMPLE.ORG/r/d%6Fc' ||
         |      doc_id || '?utm_source=sm' AS loc,
         |    CASE WHEN doc_id % 3 = 0
         |      THEN CAST((doc_id % 10) * 100 AS BIGINT) END AS pm
         |  FROM documents WHERE doc_id % 2 = 0),
         |${canonChain("s", "seeds", "loc")},
         |sc AS (SELECT canon, min(loc) AS s_url, max(pm) AS priority_milli
         |       FROM scn GROUP BY canon),
         |mg AS (
         |  SELECT coalesce(dc.canon, sc.canon) AS canon,
         |    coalesce(sc.s_url, dc.d_url) AS url,
         |    CASE WHEN sc.canon IS NOT NULL AND dc.canon IS NOT NULL THEN 'both'
         |         WHEN sc.canon IS NOT NULL THEN 'sitemap'
         |         ELSE 'discovered' END AS source,
         |    sc.priority_milli
         |  FROM dc FULL OUTER JOIN sc ON dc.canon = sc.canon),
         |pchd AS (SELECT url, CASE WHEN outcome = 'exceeded' THEN url
         |           ELSE perm_url END AS dest FROM rc),
         |${canonChain("p", "pchd", "url")},
         |pch AS (SELECT canon, min(dest) AS dest FROM pcn GROUP BY canon),
         |tg AS (SELECT coalesce(pch.dest, mg.url) AS target, mg.source,
         |         mg.priority_milli
         |       FROM mg LEFT JOIN pch ON pch.canon = mg.canon),
         |${canonChain("t", "tg", "target")},
         |fo0 AS (SELECT canon, min(target) AS url,
         |         max(priority_milli) AS priority_milli,
         |         CAST(count(*) AS BIGINT) AS n_aliases,
         |         max(CASE WHEN source IN ('sitemap', 'both')
         |             THEN 1 ELSE 0 END) AS sm,
         |         max(CASE WHEN source IN ('discovered', 'both')
         |             THEN 1 ELSE 0 END) AS dv
         |       FROM tcn GROUP BY canon),
         |fa AS (SELECT canon, url,
         |         CASE WHEN sm = 1 AND dv = 1 THEN 'both'
         |              WHEN sm = 1 THEN 'sitemap'
         |              ELSE 'discovered' END AS source,
         |         priority_milli, n_aliases FROM fo0),
         |rchd AS (SELECT url, CASE WHEN outcome = 'exceeded' THEN url
         |           ELSE final_url END AS dest FROM rc),
         |${canonChain("r", "rchd", "url")},
         |rch AS (SELECT canon AS rk, min(dest) AS dest FROM rcn GROUP BY canon),
         |rt AS (SELECT fa.canon AS id_canon, fa.url, fa.source,
         |         fa.priority_milli, fa.n_aliases,
         |         coalesce(rch.dest, fa.url) AS fetch_url
         |       FROM fa LEFT JOIN rch ON rch.rk = fa.canon),
         |${canonChain("g", "rt", "fetch_url")},
         |wv AS (SELECT canon AS fetch_canon, min(id_canon) AS lead,
         |         min(fetch_url) AS wave_url,
         |         max(priority_milli) AS wave_priority
         |       FROM gcn GROUP BY canon),
         |wpath AS (
         |  SELECT fetch_canon, wave_url,
         |    lower(regexp_extract(wave_url, '(?i)^https?://([^/?#]+)', 1)) AS host,
         |    CASE WHEN regexp_extract(wave_url, '(?i)^https?://[^/?#]+([^#]*)', 1) = ''
         |      THEN '/' ELSE regexp_extract(wave_url,
         |        '(?i)^https?://[^/?#]+([^#]*)', 1) END AS p
         |  FROM wv),
         |whits AS (
         |  SELECT w.fetch_canon, w.host, d.rule, d.path AS rpath,
         |    d.pattern IS NOT NULL AND regexp_matches(w.p, d.pattern) AS m,
         |    length(d.path) AS plen
         |  FROM wpath w LEFT JOIN dirs d ON d.host = w.host),
         |wwin AS (
         |  SELECT *, row_number() OVER (PARTITION BY fetch_canon ORDER BY
         |      CASE WHEN m THEN plen ELSE -1 END DESC,
         |      CASE WHEN rule = 'allow' THEN 1 ELSE 0 END DESC,
         |      rpath ASC NULLS LAST) AS rn
         |  FROM whits),
         |wverd AS (SELECT fetch_canon, host, (NOT m) OR rule = 'allow' AS allowed
         |          FROM wwin WHERE rn = 1),
         |$crawlDelayCtes,
         |walw AS (SELECT wv.fetch_canon, wv.wave_priority, wverd.host
         |         FROM wv JOIN wverd ON wverd.fetch_canon = wv.fetch_canon
         |         WHERE wverd.allowed),
         |wsqx AS (SELECT *, row_number() OVER (PARTITION BY host
         |           ORDER BY wave_priority DESC NULLS LAST, fetch_canon) - 1
         |           AS seq
         |         FROM walw),
         |sch AS (SELECT wsqx.fetch_canon, CAST(wsqx.seq AS BIGINT) AS seq,
         |          CASE WHEN wsqx.seq < 15
         |            THEN 1704067200000 + wsqx.seq * coalesce(dl.ms, 1000)
         |          END AS fetch_at_ms
         |        FROM wsqx LEFT JOIN dl ON dl.host = wsqx.host)
         |SELECT g.id_canon AS canon, g.url, g.source, g.priority_milli,
         |  g.n_aliases, w.wave_url, wverd.host AS fetch_host,
         |  wverd.allowed, g.id_canon = w.lead AS is_fetch_leader,
         |  sch.seq, sch.fetch_at_ms
         |FROM gcn g
         |JOIN wv w ON w.fetch_canon = g.canon
         |JOIN wverd ON wverd.fetch_canon = g.canon
         |LEFT JOIN sch ON sch.fetch_canon = g.canon""".stripMargin) {
      (s, d) => {
        import graft.functions.TextFunctions.canonicalizeUrl
        val did = col("doc_id")
        val ks = pmod(did, lit(19)).cast("string")
        val fx = redirectFixture(s, d)
        val discovered = fx.select(col("url"))
        val seeds = Tables.documents(s, d)
          .filter(pmod(did, lit(2)) === 0)
          .select(concat(lit("http://H"), ks, lit(".EXAMPLE.ORG/r/d%6Fc"),
              did.cast("string"), lit("?utm_source=sm")).as("loc"),
            when(pmod(did, lit(3)) === 0,
              (pmod(did, lit(10)) * 100).cast("long")).as("pm"))
        val merged = graft.operators.Frontier.mergeSeeds(
          discovered, col("url"), seeds, col("loc"), col("pm"))
        // identity rows feed the wave fold AND the final join-back;
        // the wave frame feeds the verdict, the schedule, and the
        // join-back — pin both (the q264/q265 discipline)
        val rows = graft.operators.CacheRegistry.persist(
          graft.operators.Frontier.resolveAliasesPermanent(
              merged, redirectResolved(s, d))
            .withColumn("fetch_canon", canonicalizeUrl(col("fetch_url"))))
        val wave = rows.groupBy("fetch_canon")
          .agg(min("canon").as("__lead"), min("fetch_url").as("wave_url"),
            max("priority_milli").as("wave_priority"))
        val robots = robotsFixture(s, d)
        val verd = graft.operators.Robots.allowed(
          wave.select("fetch_canon", "wave_url"), "fetch_canon",
          col("wave_url"), robots, "host", col("body"), agent = "graftbot")
          .select(col("fetch_canon"), col("host"), col("allowed"))
        val waveFull = graft.operators.CacheRegistry.persist(
          wave.join(verd, Seq("fetch_canon")))
        val delays = graft.operators.Robots.crawlDelay(
          robots, "host", col("body"), agent = "graftbot")
        val sched = graft.operators.Frontier.fetchSchedule(
          waveFull.filter(col("allowed"))
            .select("fetch_canon", "wave_url", "wave_priority"),
          "fetch_canon", col("wave_url"), delays, t0Ms = 1704067200000L,
          defaultDelayMs = 1000L, maxPerHost = 15,
          priorityCol = Some("wave_priority"))
        rows.join(waveFull.select(col("fetch_canon"), col("__lead"),
            col("wave_url"), col("host").as("fetch_host"), col("allowed")),
            Seq("fetch_canon"))
          .join(sched.select(col("fetch_canon"), col("seq"),
            col("fetch_at_ms")), Seq("fetch_canon"), "left_outer")
          .select(col("canon"), col("url"), col("source"),
            col("priority_milli"), col("n_aliases"), col("wave_url"),
            col("fetch_host"), col("allowed"),
            (col("canon") === col("__lead")).as("is_fetch_leader"),
            col("seq"), col("fetch_at_ms"))
      }
    }
  )
}
