package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FrontierSpec extends AnyFunSuite with SparkSpec {

  test("fetchSchedule: per-host spacing, default delay, horizon deferral") {
    val s = spark
    import s.implicits._
    val urls = Seq(
      (1L, "http://a.x/p1"), (3L, "http://a.x/p3"), (2L, "http://a.x/p2"),
      (4L, "http://b.x/q1"), (5L, "http://b.x/q2"), (6L, "http://b.x/q3")
    ).toDF("id", "url")
    val delays = Seq(("a.x", 2500L)).toDF("host", "crawl_delay_ms")
    val got = Frontier.fetchSchedule(urls, "id", col("url"), delays,
      t0Ms = 1000000L, defaultDelayMs = 1000L, maxPerHost = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    // a.x: sequenced by id (1,2,3), spaced by its declared 2.5 s
    assert(got(1L) === (("a.x", 0L, 1000000L)))
    assert(got(2L) === (("a.x", 1L, 1002500L)))
    // past the 2-URL horizon: deferred (null), never dropped
    assert(got(3L) === (("a.x", 2L, -1L)))
    // b.x has no declared delay -> the 1 s default; independent seq
    assert(got(4L) === (("b.x", 0L, 1000000L)))
    assert(got(5L) === (("b.x", 1L, 1001000L)))
    assert(got(6L) === (("b.x", 2L, -1L)))
    assert(got.size === 6) // accounting balances: every URL comes back
  }

  test("fetchSchedule: case-insensitive scheme/host; garbage URLs pass through unscheduled, no shared skew partition") {
    val s = spark
    import s.implicits._
    val urls = Seq(
      (1L, "HTTP://Example.org/p1"),     // uppercase scheme + mixed-case host
      (2L, "http://example.org/p2"),     // same host after lowering
      (3L, "not a url"),                 // garbage
      (4L, "ftp://files.example/f"),     // non-http scheme
      (5L, "")                           // empty
    ).toDF("id", "url")
    val delays = Seq(("example.org", 2000L)).toDF("host", "crawl_delay_ms")
    val rows = Frontier.fetchSchedule(urls, "id", col("url"), delays,
      t0Ms = 0L, defaultDelayMs = 500L, maxPerHost = 10).collect()
    val got = rows.map(r => r.getLong(0) -> ((
      if (r.isNullAt(2)) null else r.getString(2),
      if (r.isNullAt(3)) -1L else r.getLong(3),
      if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    // both spellings land on ONE host window and its declared delay
    assert(got(1L) === (("example.org", 0L, 0L)))
    assert(got(2L) === (("example.org", 1L, 2000L)))
    // garbage: visible, unscheduled (null host/seq/fetch), never dropped
    assert(got(3L) === ((null, -1L, -1L)))
    assert(got(4L) === ((null, -1L, -1L)))
    assert(got(5L) === ((null, -1L, -1L)))
    assert(got.size === 5)
  }

  test("fetchSchedule: priorityCol orders within host before idCol; caller columns pass through") {
    val s = spark
    import s.implicits._
    val urls = Seq(
      (1L, "http://a.x/low", Some(100L), "s1"),
      (2L, "http://a.x/high", Some(900L), "s2"),
      (3L, "http://a.x/none", None: Option[Long], "s3"), // null priority -> last
      (4L, "http://a.x/high2", Some(900L), "s4")         // tie -> id order
    ).toDF("id", "url", "priority_milli", "tag")
    val delays = Seq.empty[(String, Long)].toDF("host", "crawl_delay_ms")
    val got = Frontier.fetchSchedule(urls, "id", col("url"), delays,
      t0Ms = 0L, defaultDelayMs = 1000L, maxPerHost = 10,
      priorityCol = Some("priority_milli"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getString(6)))).toMap
    assert(got(2L) === ((0L, "s2"))) // 900 first, id 2 before id 4
    assert(got(4L) === ((1L, "s4")))
    assert(got(1L) === ((2L, "s1")))
    assert(got(3L) === ((3L, "s3"))) // null priority sequenced last
  }

  test("fetchSchedule: notBeforeCol recurrence — every grant >= own due AND >= prev + delay") {
    val s = spark
    import s.implicits._
    val urls = Seq(
      (1L, "http://a.x/1", None: Option[Long]), // -> t0 = 0
      (2L, "http://a.x/2", Some(7000L)),        // own due dominates -> 7000
      (3L, "http://a.x/3", None: Option[Long]), // prev + d -> 8000
      (4L, "http://a.x/4", Some(2000L)),        // stale due; prev + d -> 9000
      (5L, "http://b.x/1", Some(500L))          // independent host -> 500
    ).toDF("id", "url", "due")
    val delays = Seq(("a.x", 1000L)).toDF("host", "crawl_delay_ms")
    val got = Frontier.fetchSchedule(urls, "id", col("url"), delays,
      t0Ms = 0L, defaultDelayMs = 1000L, maxPerHost = 10,
      notBeforeCol = Some("due"))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(got === Map(1L -> 0L, 2L -> 7000L, 3L -> 8000L, 4L -> 9000L,
      5L -> 500L))
  }

  test("mergeSeeds: canonical-form dedup, seed representative wins, source provenance") {
    val s = spark
    import s.implicits._
    val discovered = Seq(
      (1L, "http://a.x/p?b=2&a=1"),         // canonical twin of seed 1
      (2L, "http://a.x/only-discovered"),
      (3L, "http://a.x/only-discovered")    // same url twice -> one row
    ).toDF("id", "url")
    val seeds = Seq(
      ("http://a.x/p?a=1&b=2", Some(800L)),
      ("http://a.x/p?a=1&b=2", Some(300L)), // repeat seed -> max priority
      ("http://a.x/only-seed", None: Option[Long])
    ).toDF("loc", "priority_milli")
    val got = Frontier.mergeSeeds(discovered, col("url"),
      seeds, col("loc"), col("priority_milli"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(got.size === 3)
    // overlap: the seed's raw spelling is the representative
    assert(got("http://a.x/p?a=1&b=2") ===
      (("http://a.x/p?a=1&b=2", "both", 800L)))
    assert(got("http://a.x/only-discovered") ===
      (("http://a.x/only-discovered", "discovered", -1L)))
    assert(got("http://a.x/only-seed") ===
      (("http://a.x/only-seed", "sitemap", -1L)))
  }

  test("coverageCensus: per-host buckets, promille guards, null host for non-http URLs") {
    val s = spark
    import s.implicits._
    val merged = Seq(
      // a.x: 2 both + 1 discovered-only + 1 sitemap-only
      ("http://a.x/1", "both"), ("http://a.x/2", "both"),
      ("http://a.x/3", "discovered"), ("http://a.x/4", "sitemap"),
      // b.x: discovered only -> coverage 0, orphan NULL (no declared)
      ("http://b.x/1", "discovered"), ("HTTP://B.X/2", "discovered"),
      // c.x: sitemap only -> coverage NULL (nothing discovered), orphan 1000
      ("http://c.x/1", "sitemap"),
      // non-http: groups under null host, never dropped
      ("ftp://z.x/1", "discovered")
    ).toDF("url", "source")
    val got = Frontier.coverageCensus(merged, col("url"))
      .collect()
      .map(r => Option(r.getString(0)).getOrElse("") ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) -1L else r.getLong(5),
          if (r.isNullAt(6)) -1L else r.getLong(6)))).toMap
    assert(got("a.x") === ((4L, 2L, 1L, 1L, 666L, 333L)))
    assert(got("b.x") === ((2L, 0L, 0L, 2L, 0L, -1L)))
    assert(got("c.x") === ((1L, 0L, 1L, 0L, -1L, 1000L)))
    assert(got("") === ((1L, 0L, 0L, 1L, 0L, -1L)))
  }

  test("allocateBudget: largest-remainder apportionment, sum = budget, deterministic ties, degenerate zero mass") {
    val s = spark
    import s.implicits._
    def alloc(budget: Long, rows: (String, Long)*): Map[String, Long] =
      Frontier.allocateBudget(rows.toDF("host", "w"), "host", col("w"), budget)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // 10 slots over weights 5/3/2 -> exact floors 5/3/2, no leftovers
    assert(alloc(10L, ("a", 5L), ("b", 3L), ("c", 2L)) ===
      Map("a" -> 5L, "b" -> 3L, "c" -> 2L))
    // 10 over 1/1/1: floors 3/3/3, one leftover -> host-asc tie-break
    assert(alloc(10L, ("a", 1L), ("b", 1L), ("c", 1L)) ===
      Map("a" -> 4L, "b" -> 3L, "c" -> 3L))
    // 7 over 3/6/1: floors 2/4/0 (21/10, 42/10, 7/10), leftover 1 goes
    // to the largest remainder (c: rem 7 vs a: 1, b: 2)
    assert(alloc(7L, ("a", 3L), ("b", 6L), ("c", 1L)) ===
      Map("a" -> 2L, "b" -> 4L, "c" -> 1L))
    // null/negative weights count as 0 but stay visible
    assert(alloc(4L, ("a", 4L), ("b", -9L)) === Map("a" -> 4L, "b" -> 0L))
    // zero total mass: leftovers spread one per host in host order,
    // excess budget left unassigned
    assert(alloc(5L, ("a", 0L), ("b", 0L)) === Map("a" -> 1L, "b" -> 1L))
  }

  test("allocateBudget: duplicate host rows collapse to one summed-demand row, sum still = budget") {
    val s = spark
    import s.implicits._
    // a appears twice (3+2=5): grain is forced to host level — without
    // the fold each duplicate would receive its own apportionment and
    // Σslots would silently exceed the budget
    val got = Frontier.allocateBudget(
      Seq(("a", 3L), ("a", 2L), ("b", 5L)).toDF("host", "w"),
      "host", col("w"), budget = 10L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got === Map("a" -> ((5L, 5L)), "b" -> ((5L, 5L))))
  }

  test("allocateBudget: null host ranks NULLS LAST in the leftover tie-break") {
    val s = spark
    import s.implicits._
    // equal weights, one leftover slot: remainders tie, so the host-asc
    // tie-break decides — the named host must win over the null row
    // (Spark's bare asc would be NULLS FIRST; DuckDB's ASC default is
    // NULLS LAST — the explicit nulls-last pins one cross-engine order)
    val got = Frontier.allocateBudget(
      Seq((null.asInstanceOf[String], 1L), ("a", 1L)).toDF("host", "w"),
      "host", col("w"), budget = 3L)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(2)).toMap
    assert(got === Map(Option("a") -> 2L, None -> 1L))
  }

  test("resolveAliases: alias groups collapse to one landing-key row; exceeded loops never merge") {
    val s = spark
    import s.implicits._
    // two seed-set entries redirect to the same destination -> ONE
    // schedulable row at the landing URL (cross-host: the landing host
    // b.x is where robots/politeness apply downstream, not a.x)
    val merged = Seq(
      ("http://a.x/old1", "http://a.x/old1", "sitemap", Some(700L)),
      ("http://a.x/old2", "http://a.x/old2", "discovered",
        None: Option[Long]),
      ("http://b.x/dest", "http://b.x/dest", "discovered",
        None: Option[Long]),
      ("http://c.x/loop", "http://c.x/loop", "sitemap", Some(100L))
    ).toDF("canon", "url", "source", "priority_milli")
    val chains = Seq(
      ("http://a.x/old1", "http://b.x/dest", 1L, "ok"),
      ("http://a.x/old2", "http://b.x/dest", 1L, "ok"),
      ("http://b.x/dest", "http://b.x/dest", 0L, "ok"),
      ("http://c.x/loop", "http://c.x/loop", 4L, "exceeded")
    ).toDF("url", "final_url", "hops", "outcome")
    val got = Frontier.resolveAliases(merged, chains).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))).toMap
    assert(got.size === 2)
    // 3 aliases, sitemap+discovered evidence -> both; max priority rides
    assert(got("http://b.x/dest") ===
      (("http://b.x/dest", "both", 700L, 3L)))
    // the unresolvable loop keys by its own URL, never merged on a guess
    assert(got("http://c.x/loop") ===
      (("http://c.x/loop", "sitemap", 100L, 1L)))
  }

  test("resolveAliasesPermanent: a 302 bounce routes but never aliases; a 301 collapses (RFC 9110 §15.4)") {
    val s = spark
    import s.implicits._
    // the site-wide login bounce: /a and /b both 302 to /login — two
    // protected pages that MUST survive as two frontier identities;
    // /c and /d both 301 to /m — one moved page, one identity
    val merged = Seq(
      ("http://s.x/a", "http://s.x/a", "discovered", None: Option[Long]),
      ("http://s.x/b", "http://s.x/b", "sitemap", Some(600L)),
      ("http://s.x/c", "http://s.x/c", "discovered", None: Option[Long]),
      ("http://s.x/d", "http://s.x/d", "sitemap", Some(300L)),
      ("http://s.x/login", "http://s.x/login", "discovered",
        None: Option[Long]),
      ("http://s.x/m", "http://s.x/m", "discovered", None: Option[Long])
    ).toDF("canon", "url", "source", "priority_milli")
    val chains = Seq(
      ("http://s.x/a", "http://s.x/login", "ok", "http://s.x/a"),
      ("http://s.x/b", "http://s.x/login", "ok", "http://s.x/b"),
      ("http://s.x/c", "http://s.x/m", "ok", "http://s.x/m"),
      ("http://s.x/d", "http://s.x/m", "ok", "http://s.x/m"),
      ("http://s.x/login", "http://s.x/login", "ok", "http://s.x/login"),
      ("http://s.x/m", "http://s.x/m", "ok", "http://s.x/m")
    ).toDF("url", "final_url", "outcome", "perm_url")
    val got = Frontier.resolveAliasesPermanent(merged, chains).collect()
      .map(r => r.getString(1) -> ((r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4),
        r.getString(5)))).toMap
    // four identities: a and b SURVIVE (302 is routing, not identity),
    // the 301 family c/d/m collapses to one row, login keeps itself
    assert(got.size === 4)
    assert(got("http://s.x/a") ===
      (("discovered", -1L, 1L, "http://s.x/login")))
    assert(got("http://s.x/b") ===
      (("sitemap", 600L, 1L, "http://s.x/login")))
    assert(got("http://s.x/m") === (("both", 300L, 3L, "http://s.x/m")))
    // one fetch scheduled this wave for the bounce group: a, b and
    // login all route to the same fetch target
    assert(got("http://s.x/login") ===
      (("discovered", -1L, 1L, "http://s.x/login")))
    assert(got.values.count(_._4 == "http://s.x/login") === 3)
    // the lenient collapse on the same input merges the bounce group —
    // the exact failure mode the permanent variant exists to stop
    val lenient = Frontier.resolveAliases(merged, chains)
      .collect().map(_.getString(1)).toSet
    assert(lenient === Set("http://s.x/login", "http://s.x/m"))
  }

  test("conditionalRecrawl: fetch-observed validator beats sitemap hint; latest observation wins even without a validator") {
    val s = spark
    import s.implicits._
    val day = 86400000L
    val hints = Seq(
      // sitemap says March 1, daily
      ("http://a.x/1", Some(1709251200000L), "daily"),
      // sitemap hint only — no observation at all
      ("http://a.x/2", Some(1709251200000L), "weekly"),
      // no usable hint, but an etag observed: conditional, no due
      ("http://a.x/3", None: Option[Long], "")
    ).toDF("loc", "slm", "cf")
    val fetches = Seq(
      // two observations for /1: the LATER one (June) must win and
      // DEFER the sitemap-due URL (RFC 9110 §8.8 validator precedence)
      ("http://a.x/1", 100L, Some("\"old\""), Some(1709300000000L)),
      ("http://a.x/1", 200L, None: Option[String], Some(1717243200000L)),
      // /3: latest fetch has an etag but no Last-Modified
      ("http://a.x/3", 100L, Some("\"e3\""), None: Option[Long])
    ).toDF("url", "t", "etag", "flm")
    val got = Frontier.conditionalRecrawl(hints, "loc", col("slm"),
        col("cf"), fetches, col("url"), col("t"), col("etag"), col("flm"))
      .collect()
      .map(r => r.getString(0) -> ((Option(r.getString(1)),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        Option(r.getString(4)), r.getBoolean(5)))).toMap
    // validator base June 1 + daily -> due June 2 (deferred past the
    // sitemap's March 2); the stale fetch's etag does NOT leak through
    assert(got("http://a.x/1") ===
      ((Some("validator"), 1717243200000L, 1717243200000L + day,
        None, true)))
    assert(got("http://a.x/2") ===
      ((Some("sitemap"), 1709251200000L, 1709251200000L + 7 * day,
        None, false)))
    assert(got("http://a.x/3") ===
      ((None, -1L, -1L, Some("\"e3\""), true)))
  }

  test("conditionalRecrawl: a 304 refreshes the freshness base and keeps stored validators (RFC 9111 §4.3.4)") {
    val s = spark
    import s.implicits._
    val day = 86400000L
    val hints = Seq(
      ("http://a.x/1", Some(1709251200000L), "daily"),
      ("http://a.x/2", Some(1709251200000L), "daily"),
      ("http://a.x/3", Some(1709251200000L), "daily")
    ).toDF("loc", "slm", "cf")
    val fetches = Seq(
      // /1: June full fetch with validators, then a July 304 — base
      // moves to July, etag survives, still conditional
      ("http://a.x/1", 1717243200000L, Some("\"e1\""),
        Some(1717243200000L), 200),
      ("http://a.x/1", 1719835200000L, None: Option[String],
        None: Option[Long], 304),
      // /2: the 304 is OLDER than the latest full fetch — superseded,
      // plain validator basis
      ("http://a.x/2", 1719835200000L, None: Option[String],
        Some(1717243200000L), 200),
      ("http://a.x/2", 1717243200000L, None: Option[String],
        None: Option[Long], 304),
      // /3: only a 304 on record — revalidated, but nothing to send
      // conditionally next time
      ("http://a.x/3", 1719835200000L, None: Option[String],
        None: Option[Long], 304)
    ).toDF("url", "t", "etag", "flm", "st")
    val got = Frontier.conditionalRecrawl(hints, "loc", col("slm"),
        col("cf"), fetches, col("url"), col("t"), col("etag"), col("flm"),
        col("st"))
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3), Option(r.getString(4)), r.getBoolean(5)))).toMap
    assert(got("http://a.x/1") ===
      (("revalidated", 1719835200000L, 1719835200000L + day,
        Some("\"e1\""), true)))
    assert(got("http://a.x/2") ===
      (("validator", 1717243200000L, 1717243200000L + day, None, true)))
    assert(got("http://a.x/3") ===
      (("revalidated", 1719835200000L, 1719835200000L + day,
        None, false)))
  }

  test("resolveAliases with canonicals: canonical + redirect evidence collapse to ONE schedulable row") {
    val s = spark
    import s.implicits._
    // /a 301-> /b; /b's PAGE declares canonical /c; /c also fetched.
    // All three frontier entries must land on ONE key (/c): redirect
    // evidence maps /a to /b, the landing page's canonical hint moves
    // /b (and /a through it) to /c.
    val merged = Seq(
      ("http://h.x/a", "http://h.x/a", "discovered", None: Option[Long]),
      ("http://h.x/b", "http://h.x/b", "sitemap", Some(700L)),
      ("http://h.x/c", "http://h.x/c", "discovered", None: Option[Long]),
      // cross-host canonical: /d's page points at g.x — the collapsed
      // row must carry the g.x spelling (scheduling moves host)
      ("http://h.x/d", "http://h.x/d", "discovered", None: Option[Long])
    ).toDF("canon", "url", "source", "priority_milli")
    val chains = Seq(
      ("http://h.x/a", "http://h.x/b", "ok"),
      ("http://h.x/b", "http://h.x/b", "ok"),
      ("http://h.x/c", "http://h.x/c", "ok"),
      ("http://h.x/d", "http://h.x/d", "ok")
    ).toDF("url", "final_url", "outcome")
    val canonicals = Seq(
      ("http://h.x/b", "http://h.x/c"),
      ("http://h.x/d", "http://g.x/canon"),
      // empty hint = no evidence; hint for a never-landed URL = no-op
      ("http://h.x/c", ""),
      ("http://h.x/zz", "http://h.x/elsewhere")
    ).toDF("curl", "canu")
    val got = Frontier.resolveAliases(merged, chains, canonicals,
        col("curl"), col("canu"))
      .collect()
      .map(r => r.getString(1) -> ((r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))).toMap
    // ONE row for the a/b/c family, priority carried from any alias
    assert(got === Map(
      "http://h.x/c" -> (("both", 700L, 3L)),
      "http://g.x/canon" -> (("discovered", -1L, 1L))))
    // and WITHOUT canonicals the same input stays split (b vs c)
    val plain = Frontier.resolveAliases(merged, chains)
      .collect().map(_.getString(1)).toSet
    assert(plain === Set("http://h.x/b", "http://h.x/c", "http://h.x/d"))
  }

  test("hostBackoff: delta-seconds and HTTP-date forms, max fold, malformed and non-throttle rows ignored") {
    val s = spark
    import s.implicits._
    val resp = Seq(
      // RFC 9110 §10.2.3 delay-seconds form
      ("http://a.x/1", 503, "120"),
      // same host, HTTP-date form, further out -> the max wins
      ("http://A.X/2", 429, "Thu, 01 Feb 2024 00:10:00 GMT"),
      // malformed value contributes nothing, never an error
      ("http://a.x/3", 503, "soon"),
      // Retry-After on a non-throttle status is not a backoff signal
      ("http://b.x/1", 200, "999999"),
      // obsolete RFC 850 date form -> null -> no contribution
      ("http://b.x/2", 503, "Thursday, 01-Feb-24 00:10:00 GMT")
    ).toDF("url", "status", "ra")
    val got = Frontier.hostBackoff(resp, col("url"), col("status"),
        col("ra"), lit(1706745600000L))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a.x: max(t+120s, 2024-02-01T00:10Z) = the 600 s date; host
    // lowercased across spellings; b.x contributes nothing at all
    assert(got === Map("a.x" -> 1706746200000L))
  }

  test("hostBackoff: an oversized delay-seconds saturates at the 15-digit horizon, never drops") {
    val s = spark
    import s.implicits._
    val t = 1706745600000L
    val resp = Seq(
      // 20 digits: syntactically valid delay-seconds, absurd value —
      // the most-conservative reading is MAX backoff, not none
      ("http://a.x/1", 503, "99999999999999999999"),
      // exactly 15 digits still parses arithmetically
      ("http://b.x/1", 429, "999999999999999")
    ).toDF("url", "status", "ra")
    val got = Frontier.hostBackoff(resp, col("url"), col("status"),
        col("ra"), lit(t))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val horizon = t + 999999999999999L * 1000L
    assert(got === Map("a.x" -> horizon, "b.x" -> horizon))
  }

  test("fetchSchedule caps: a duplicate-host caps frame collapses to the tightest cap, never multiplies URL rows") {
    val s = spark
    import s.implicits._
    val urls = Seq(
      (1L, "http://a.x/1"), (2L, "http://a.x/2"), (3L, "http://a.x/3")
    ).toDF("id", "url")
    val noDelays = Seq.empty[(String, Long)].toDF("host", "crawl_delay_ms")
    // conflicting caps rows for a.x: min (tightest) wins; the join must
    // stay 1:1 so seq stays 0,1,2 — a multiplied row would corrupt the
    // sequencing windows before the horizon even applies
    val caps = Seq(("a.x", 2L), ("a.x", 9L)).toDF("host", "slots")
    val rows = Frontier.fetchSchedule(urls, "id", col("url"), noDelays,
      t0Ms = 0L, defaultDelayMs = 100L, maxPerHost = 1000,
      caps = Some(caps)).collect()
    assert(rows.length === 3)
    val got = rows.map(r => r.getLong(0) ->
      (if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    assert(got === Map(1L -> 0L, 2L -> 100L, 3L -> -1L))
  }

  test("fetchSchedule caps: per-host budget horizon defers beyond slots, absent hosts keep the scalar cap") {
    val s = spark
    import s.implicits._
    val urls = Seq(
      (1L, "http://a.x/1"), (2L, "http://a.x/2"), (3L, "http://a.x/3"),
      (4L, "http://b.x/1"), (5L, "http://b.x/2")
    ).toDF("id", "url")
    val noDelays = Seq.empty[(String, Long)].toDF("host", "crawl_delay_ms")
    val caps = Seq(("a.x", 2L)).toDF("host", "slots")
    val got = Frontier.fetchSchedule(urls, "id", col("url"), noDelays,
      t0Ms = 0L, defaultDelayMs = 100L, maxPerHost = 1000,
      caps = Some(caps))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    // a.x capped at 2 slots: third URL defers; b.x (no cap row) keeps
    // the scalar horizon
    assert(got === Map(1L -> 0L, 2L -> 100L, 3L -> -1L,
      4L -> 0L, 5L -> 100L))
  }
}
