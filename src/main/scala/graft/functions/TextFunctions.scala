package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for training-data pipelines: token
  * counting, quality scoring, language ID, fingerprinting. All built
  * from codegen'd native functions (no UDFs) so they stay inside
  * whole-stage codegen and scale linearly with executors.
  */
object TextFunctions {

  /** Whitespace tokens; blank text → empty array, and — r8 fix —
    * leading/trailing whitespace yields NO phantom empty tokens.
    * The old `split(trim(text))` form relied on Spark's `trim`, which
    * strips ASCII SPACES only: a document starting or ending with a
    * newline/tab (ubiquitous in real corpora) produced "" tokens that
    * inflated counts and shifted positions out of alignment with the
    * custom tokenizers (WordShingles / PositionedGramHashes, which
    * tokenize all \s correctly). Splitting raw text and removing
    * empties is whitespace-exact: \s+ interior runs can never produce
    * "", so only boundary artifacts are removed. NULL text stays NULL.
    *
    * Cross-engine edge (documented divergence): Java's \s is
    * [ \t\n\x0B\f\r] while the RE2-class '\s+' the DuckDB oracles use
    * EXCLUDES vertical tab \x0B — a document containing \x0B would
    * tokenize differently across engines. The gate corpus contains
    * none (every oracle row hash-matches); treat \x0B as a token
    * separator per THIS (Java) contract when porting oracles.
    */
  def tokens(text: Column): Column =
    array_remove(split(text, "\\s+"), "")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count: maximal letter/digit runs plus individual
    * non-space punctuation marks (a cheap proxy for byte-pair
    * tokenizers: counts word pieces rather than words). Expressed as a
    * match count — `[\p{L}\p{N}]+|[^\p{L}\p{N}\s]` — which both Java
    * regex and RE2-class oracle engines evaluate identically (the
    * round-1 lookaround form was not oracle-expressible).
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[\\p{L}\\p{N}]+|[^\\p{L}\\p{N}\\s]"), lit(0)))
      .cast("long")

  /** Mean token length in chars ×1000 as integer (hash-stable). */
  def meanTokenLenMilli(text: Column): Column = {
    val t = tokens(text)
    when(size(t) === 0, lit(0L)).otherwise(
      round(aggregate(t, lit(0L), (acc, x) => acc + length(x)) * 1000.0 / size(t)).cast("long"))
  }

  /** Count of ASCII punctuation characters from a fixed set. */
  def punctCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,!?;:]", ""))).cast("long")

  /** Stopword hits: number of tokens found in `words`. */
  def stopwordCount(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words.map(lit(_)): _*))).cast("long")

  /** Composite quality score ×1000 (integer, hash-stable): rewards
    * mid-length docs, moderate punctuation, and stopword presence —
    * the usual cheap pre-filter shape for web-scale corpora.
    */
  def qualityScoreMilli(text: Column, stopwords: Seq[String]): Column = {
    val n = length(text).cast("double")
    val lenScore = when(n < 50, n / 50).when(n > 2000, lit(2000.0) / n).otherwise(lit(1.0))
    val punctRatio = punctCount(text).cast("double") / greatest(n, lit(1.0))
    val punctScore = when(punctRatio > lit(0.1), lit(0.5)).otherwise(lit(1.0))
    val stopScore = when(stopwordCount(text, stopwords) > 0, lit(1.0)).otherwise(lit(0.5))
    round(lenScore * punctScore * stopScore * 1000).cast("long")
  }

  /** Marker words per language for the n-gram/stopword language-ID
    * heuristic. Deterministic argmax with lexicographic tie-break.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "los", "que", "y"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Heuristic language ID: language with the most marker-word hits;
    * ties break to the lexicographically first code; zero hits → "und".
    */
  /** GOPHER-style repetition/structure quality rules (Rae et al.) as
    * one integer-exact column bundle — the named filter battery most
    * curation stacks start from, here the subset expressible without
    * language resources:
    *
    *   R1 word count in [minWords, maxWords]
    *   R2 mean word length in [3, 10] chars (milli-compared)
    *   R3 symbol-to-word ratio ≤ 0.1 (hash/ellipsis OCCURRENCES — an
    *      ASCII "..." counts 1, same as "…", per the Gopher rule;
    *      counting chars removed would weight them 3:1)
    *   R4 ≥ 2 stopword hits
    *
    * Returns a struct (n_words, mean_word_len_milli, n_symbols,
    * stopword_hits, passes) — every field an exact integer derived
    * from whitespace tokens and codegen'd regex counts, so the bundle
    * hash-verifies cross-engine. `passes` is the conjunction.
    */
  def gopherRules(text: Column, stopwords: Seq[String],
                  minWords: Long = 50, maxWords: Long = 100000): Column = {
    val n = tokenCount(text)
    val mwl = meanTokenLenMilli(text)
    // occurrence count, not chars-removed: Java and RE2 both match the
    // alternation leftmost-first, so the counts agree cross-engine
    val sym = when(text.isNull, lit(null).cast("long"))
      .otherwise(size(regexp_extract_all(text, lit("[#…]|\\.\\.\\."), lit(0))).cast("long"))
    val stop = stopwordCount(text, stopwords)
    struct(
      n.as("n_words"),
      mwl.as("mean_word_len_milli"),
      sym.as("n_symbols"),
      stop.as("stopword_hits"),
      (n >= minWords && n <= maxWords &&
        mwl >= 3000 && mwl <= 10000 &&
        sym * 10 <= n &&
        stop >= 2).as("passes"))
  }

  /** Relational language ID over a whole DataFrame: tokens exploded
    * once, marker hits counted in a single codegen'd aggregate, argmax
    * with lexicographic tie-break; text with no marker hit (NULL
    * included, via explode_outer) is "und". Returns (idCol, lang_pred).
    */
  def langIdRelational(df: org.apache.spark.sql.DataFrame, idCol: String,
                       text: Column): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol), explode_outer(tokens(text)).as("__tok"))
    val hitAggs = langMarkers.map { case (code, words) =>
      sum(when(col("__tok").isin(words.map(lit(_)): _*), 1L).otherwise(0L)).as(s"__h_$code")
    }
    val hits = toks.groupBy(col(idCol)).agg(hitAggs.head, hitAggs.tail: _*)
    val folded = langMarkers.tail.foldLeft((lit(langMarkers.head._1), col(s"__h_${langMarkers.head._1}"))) {
      case ((bc, bs), (code, _)) =>
        (when(col(s"__h_$code") > bs, lit(code)).otherwise(bc),
          when(col(s"__h_$code") > bs, col(s"__h_$code")).otherwise(bs))
    }
    hits.select(col(idCol),
      when(folded._2 === 0, lit("und")).otherwise(folded._1).as("lang_pred"))
  }

  /** PII patterns, written in the portable intersection of Java regex
    * and RE2 (no lookarounds, no backreferences) so the identical
    * pattern string runs on Spark and on an RE2-class oracle engine.
    * Deliberately high-recall/low-precision: a corpus scrubber prefers
    * redacting a false positive to leaking PII.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Phone-ish: 8+ chars of digits/space/parens/dash, digit-bounded,
    * optional leading +.
    */
  val PhonePattern = "\\+?[0-9][0-9() -]{6,}[0-9]"

  def emailCount(text: Column): Column =
    regexp_count(text, lit(EmailPattern)).cast("long")

  def phoneCount(text: Column): Column =
    regexp_count(text, lit(PhonePattern)).cast("long")

  /** Redact emails then phone numbers with typed placeholder tokens —
    * the standard pre-training scrub pass. Order matters: email local
    * parts may contain digit runs, so emails redact first.
    */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Document fingerprint: first 16 hex chars of md5 as an unsigned
    * 64-bit value, decimal(20,0) because the top bit overflows a signed
    * long (SQL-expressible on any engine with md5 + a u64 type; the
    * oracle compares the stringified value).
    */
  def fingerprint64(text: Column): Column =
    conv(substring(md5(text), 1, 16), 16, 10).cast("decimal(20,0)")

  /** SimHash-64 over whitespace tokens: per-token 64-bit hash votes on
    * each bit; the sign of the vote sum forms the fingerprint bit.
    * Near-duplicate docs differ in few bits (Hamming distance).
    * Built entirely from native functions: token→xxhash64, then a
    * 64-way bit-vote fold.
    */
  def simhash64(text: Column): Column = {
    val hashes = transform(tokens(text), t => xxhash64(t))
    // one vote-sum expression per bit (Scala-side unroll keeps
    // shiftright's bit count literal, which codegen requires)
    val terms = (0 until 64).map { b =>
      val vote = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(vote > 0,
        lit(new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(b))))
        .otherwise(lit(java.math.BigDecimal.ZERO))
    }
    terms.reduce(_ + _).cast("decimal(20,0)")
  }

  /** Strip HTML/XML markup down to text — the extraction step between
    * a raw web crawl and every downstream curation operator. Removes
    * comments, whole script/style elements (their content is code, not
    * text), then all remaining tags; decodes the six entities that
    * dominate real pages (&lt; &gt; &quot; &#39; &nbsp; and &amp;
    * LAST, so "&amp;lt;" decodes one level per pass — the standard
    * single-pass approximation, deterministic on any engine); collapses
    * whitespace runs and trims. Every pattern is RE2-compatible (no
    * backreferences, no lookaround) so external SQL engines replicate
    * it exactly; one codegen'd regexp chain per row, no UDF.
    */
  def stripMarkup(text: Column): Column = {
    val noComment = regexp_replace(text, "(?s)<!--.*?-->", " ")
    val noScript = regexp_replace(noComment, "(?is)<script\\b[^>]*>.*?</script\\s*>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style\\s*>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** C4 page-cleaning battery (Raffel et al. 2020, the filter set that
    * built the C4 corpus — the other canonical named rule bundle next
    * to [[gopherRules]]). Line rule: a line is KEPT iff its trimmed
    * form ends in a terminal mark (. ! ? ") AND has ≥ 5 whitespace
    * words AND does not mention "javascript" (case-insensitive —
    * the paper drops any line with the word Javascript). Page rules
    * over the kept text: ≥ 3 sentence-final marks (the paper's
    * ≥ 3 sentences, counted as .!? occurrences — portable exactly as
    * a length difference under translate), no "lorem ipsum", no curly
    * brace anywhere on the page.
    *
    * Returns a struct (n_lines, n_kept_lines, n_sentences, has_lorem,
    * has_curly, passes, kept_text) — kept_text is the cleaned page
    * (kept lines rejoined with \n), the battery's real product.
    * Every field derives from split/trim/translate/contains — one
    * codegen'd expression chain, no UDF, engine-replicable (lines
    * split on \n exactly; \r survives trim in every engine alike).
    * Counts are exact integers so the bundle hash-verifies
    * cross-engine; `passes` is the page conjunction.
    */
  def c4Rules(text: Column): Column = {
    val lines = split(text, "\n", -1)
    val keptArr = filter(lines, l => {
      val t = trim(l)
      right(t, lit(1)).isin(".", "!", "?", "\"") &&
        size(filter(split(t, "\\s+"), w => w =!= "")) >= 5 &&
        !lower(l).contains("javascript")
    })
    val keptText = array_join(keptArr, "\n")
    val nSent = (length(keptText) -
      length(translate(keptText, ".!?", ""))).cast("long")
    val hasLorem = lower(text).contains("lorem ipsum")
    val hasCurly = text.contains("{")
    struct(
      size(lines).cast("long").as("n_lines"),
      size(keptArr).cast("long").as("n_kept_lines"),
      nSent.as("n_sentences"),
      hasLorem.as("has_lorem"),
      hasCurly.as("has_curly"),
      (nSent >= 3 && !hasLorem && !hasCurly).as("passes"),
      keptText.as("kept_text"))
  }

  /** Unicode SCRIPT profile — the multilingual-corpus audit signal
    * that runs BEFORE language ID (fastText-style identifiers key on
    * script first; a CJK page in a "Latin" shard is a routing bug a
    * script census catches in one scan): per-document counts of
    * Latin / Cyrillic / Han / Arabic script characters, ASCII
    * digits, and whitespace, plus the Latin share in exact per-mille
    * and the DOMINANT script among the four (ties break by the fixed
    * precedence latin > cyrillic > han > arabic; 'other' when all
    * four are zero). Pure regexp_replace/length arithmetic — one
    * codegen'd chain, no shuffle, and engine-replicable because both
    * Java regex (`\p{IsX}`) and RE2 (`\p{X}`) implement the Unicode
    * Script property. Counts are in UTF-16 code units on the Spark
    * side — identical to code points for all BMP text (every char
    * these classes match); supplementary-plane payloads (emoji)
    * count as 2 in `n_chars`, a documented edge.
    */
  def scriptProfile(text: Column): Column = {
    def inClass(javaClass: String) =
      length(regexp_replace(text, s"[^$javaClass]", "")).cast("long")
    val latin = inClass("\\p{IsLatin}")
    val cyr = inClass("\\p{IsCyrillic}")
    val han = inClass("\\p{IsHan}")
    val arabic = inClass("\\p{IsArabic}")
    val n = length(text).cast("long")
    val top = greatest(latin, cyr, han, arabic)
    struct(
      n.as("n_chars"),
      latin.as("n_latin"), cyr.as("n_cyrillic"), han.as("n_han"),
      arabic.as("n_arabic"),
      inClass("0-9").as("n_digit"),
      inClass(" \\t\\n\\r").as("n_space"),
      // floor(double ratio) ≡ integer division while latin*1000 < 2^53
      floor((latin * 1000L) / greatest(n, lit(1L))).cast("long")
        .as("latin_permille"),
      when(top === 0L, "other")
        .when(latin === top, "latin")
        .when(cyr === top, "cyrillic")
        .when(han === top, "han")
        .otherwise("arabic").as("dominant"))
  }

  /** SENTENCE SEGMENTATION — the unit step under chunking, packing,
    * and every "≥3 sentences"-style quality rule: split on a
    * terminator run ([.!?]+) followed by whitespace, the terminator
    * staying with its sentence. Implemented lookaround-free (RE2 has
    * none, so the same regex replays in any engine): inject an
    * ASCII record-separator (\u001E) after each boundary with a
    * backreferencing replace, split on it, drop empties. The
    * documented contract is purely punctuation-driven — "Dr. Smith"
    * splits (abbreviation lexicons are a model, not an operator) —
    * and text containing a literal \u001E (a control char no clean
    * corpus carries; C0 scrubbing runs upstream) would over-split.
    * One codegen'd replace/split/filter chain, zero shuffles.
    */
  def sentences(text: Column): Column =
    filter(
      split(regexp_replace(text, "([.!?]+)[ \\t\\n\\r]+", "$1\u001E"),
        "\u001E"),
      s => length(s) > 0)

  /** URL DOMAIN BLOCKLIST (the UT1-blacklist semantics every
    * web-corpus pipeline applies before content filters: RefinedWeb,
    * FineWeb): a URL is blocked when its HOST equals a listed domain
    * or is a SUBDOMAIN of one. Implemented as an equi-join, never a
    * per-row blocklist scan or a LIKE-shaped theta join: each host
    * explodes into its suffix chain (`a.b.example.com` →
    * [a.b.example.com, b.example.com, example.com, com] — bounded by
    * the label count, ≤ ~10), which joins the blocklist on equality;
    * the LONGEST match wins (min explode position — the most
    * specific listed rule, how blocklist semantics are specified).
    * The blocklist side broadcasts (UT1-scale lists are ~10⁶ short
    * strings — well inside broadcast range); the suffix explode is a
    * ≤10× row multiplier on a two-column frame.
    *
    * Returns (idCol, host, blocked, matched_domain — null when
    * clean). Hosts and domains are lowercased; a URL with no
    * authority component yields a null host and is never blocked.
    */
  def domainBlocklist(df: org.apache.spark.sql.DataFrame, idCol: String,
                      url: Column, blocklist: org.apache.spark.sql.DataFrame,
                      domainCol: String = "domain"): org.apache.spark.sql.DataFrame = {
    val host = lower(nullif(
      regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1), lit("")))
    // persisted: the (id, host) frame feeds both the suffix explode
    // and the final left join — without the cache the source scans
    // twice for a two-column projection
    val parts = graft.operators.CacheRegistry.persist(
      df.select(col(idCol), host.as("host"))
        .withColumn("__p", split(col("host"), "\\.")))
    val suffixes = parts
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), size(col("__p")) - 1),
          i => array_join(slice(col("__p"), i + 1, size(col("__p"))), "."))))
      .select(col(idCol), col("pos"), col("col").as("__suffix"))
    val bl = blocklist.select(lower(col(domainCol)).as("__suffix"))
    val hits = suffixes.join(broadcast(bl), Seq("__suffix"))
      .groupBy(col(idCol))
      .agg(min_by(col("__suffix"), col("pos")).as("matched_domain"))
    parts.select(col(idCol), col("host"))
      .join(hits, Seq(idCol), "left_outer")
      .select(col(idCol), col("host"),
        col("matched_domain").isNotNull.as("blocked"),
        col("matched_domain"))
  }

  /** C4's "bad words" page filter (Raffel et al. 2020 drop any page
    * containing a term from the LDNOOBW list), generalized to any
    * term table: per-document hit census against a blocklist of words
    * AND multi-word phrases, matched token-exactly after lowercasing
    * (word-boundary semantics fall out of matching whole tokens —
    * "scanner" does not hit "scan"; punctuation-adjacent forms are
    * out of scope by the same contract as [[tokens]]).
    *
    * Spark shape: the blocklist is a DIMENSION (LDNOOBW is ~400
    * entries) — normalized to space-joined token grams once, its max
    * phrase length taken driver-side (an alphabet-bounded scalar, the
    * same adjudication as [[graft.operators.Tokenization.bpeVocab]]'s
    * alphabet), then the corpus side explodes each document's token
    * stream into 1..maxN-grams and broadcast-semi-joins the term set:
    * no shuffle touches the corpus until the per-doc regroup, and the
    * exploded stream is ≤ maxN × corpus tokens. Returns one row per
    * input document: (idCol, n_hits, n_terms, kept) — total hit
    * count, distinct terms hit, and C4's keep verdict (zero hits).
    */
  def blocklistFilter(df: org.apache.spark.sql.DataFrame, idCol: String,
                      text: Column, terms: org.apache.spark.sql.DataFrame,
                      termCol: String = "term"): org.apache.spark.sql.DataFrame = {
    val normTerms = terms
      .select(tokens(lower(col(termCol))).as("tt"))
      .filter(size(col("tt")) >= 1)
      .select(array_join(col("tt"), " ").as("gram"), size(col("tt")).as("n"))
      .distinct()
    val maxRow = normTerms.agg(max("n")).head()
    // an empty terms table (or all-unusable terms) means "no hits,
    // everything kept" — short-circuit instead of NPE-ing on null max
    if (maxRow.isNullAt(0))
      return df.select(col(idCol), lit(0L).as("n_hits"),
        lit(0L).as("n_terms"), lit(true).as("kept"))
    val maxN = maxRow.getInt(0)
    val toks = df.select(col(idCol), tokens(lower(text)).as("t"))
    // ONE corpus pass: every gram size's windows flatten into a single
    // explode (a per-n union would re-scan the corpus per n), and
    // explode_outer keeps zero-token documents as a null-gram row so
    // no second scan is needed to restore them. The `size >= n` guard
    // matters: Spark's sequence(1, stop) DESCENDS when stop < 1.
    val grams = toks.select(col(idCol),
      explode_outer(flatten(array((1 to maxN).map(n =>
        when(size(col("t")) >= n,
          transform(sequence(lit(1), size(col("t")) - (n - 1)),
            i => array_join(slice(col("t"), i, lit(n)), " ")))
          .otherwise(array().cast("array<string>"))): _*))).as("gram"))
    grams
      .join(broadcast(normTerms.select(col("gram"), lit(true).as("__hit"))),
        Seq("gram"), "left_outer")
      .groupBy(col(idCol))
      .agg(sum(when(col("__hit"), 1L).otherwise(0L)).as("n_hits"),
        countDistinct(when(col("__hit"), col("gram"))).as("n_terms"))
      .select(col(idCol), col("n_hits"), col("n_terms"),
        (col("n_hits") === 0L).as("kept"))
  }

  /** RFC 3986 §6.2.2.1–2 percent-encoding normalization — the bounded
    * fold [[canonicalizeUrl]] applies before parsing: uppercase the
    * hex digits of every percent-escape (`%2f` → `%2F`, §6.2.2.1) and
    * DECODE escapes of unreserved characters (ALPHA / DIGIT /
    * `-` `.` `_` `~`, §6.2.2.2 — `%7E` IS `~` by definition, and an
    * unreserved byte is never a delimiter, so decoding cannot change
    * how the URL parses). A malformed escape (`%` not followed by two
    * hex digits) passes through verbatim — the tolerant-reader
    * convention, like [[graft.operators.WebGraph.normalizeDotSegments]]'
    * leftover rule. Decoding runs BEFORE the query split, so an
    * encoded tracking key (`utm%5Fsource`) normalizes into the drop
    * list like its plain spelling.
    *
    * Shape: one literal split on `%` + one array transform + one
    * join — no per-escape regex; hex digits value through two
    * `instr` probes of a 16-char alphabet (exact integer arithmetic,
    * replayable on any engine). The caller guards the whole fold
    * behind one `instr` test, so a URL with no `%` at all — the
    * overwhelming majority — pays a single substring probe.
    */
  private def pctNormalize(u: Column): Column = {
    val hexAbc = lit("0123456789ABCDEF")
    val segs = split(u, "%", -1)
    val folded = concat(element_at(segs, 1), array_join(
      transform(slice(segs, lit(2), size(segs) - 1), s => {
        val h = upper(substring(s, 1, 2))
        val code = (instr(hexAbc, substring(h, 1, 1)) - 1) * 16 +
          instr(hexAbc, substring(h, 2, 1)) - 1
        val unreserved = (code >= 65 && code <= 90) ||
          (code >= 97 && code <= 122) || (code >= 48 && code <= 57) ||
          code.isin(45, 46, 95, 126)
        val rest = s.substr(lit(3), length(s))
        when(s.rlike("^[0-9A-Fa-f]{2}"),
          when(unreserved, concat(char(code), rest))
            .otherwise(concat(lit("%"), h, rest)))
          .otherwise(concat(lit("%"), s))
      }), ""))
    when(instr(u, "%") > 0, folded).otherwise(u)
  }

  /** Canonicalize a URL for crawl-level dedup and domain analytics:
    * lowercase scheme and host, strip the scheme's default port
    * (:80 http / :443 https), drop the fragment, normalize
    * percent-encoding (RFC 3986 §6.2.2.1–2 via [[pctNormalize]]:
    * uppercase escape hex, decode unreserved — `%7Euser` and `~user`
    * are the same fetch), drop tracking parameters (utm_*, fbclid,
    * gclid) and empty parameters, sort the surviving query parameters
    * bytewise, and normalize an empty path to "/". Two raw URLs that
    * differ only in these ways are the same fetch — canonical-form
    * equality is THE join/dedup key for crawl frontier dedup and
    * per-site aggregation. Userinfo normalization is intentionally
    * out of scope (flag, don't rewrite, credentials-bearing URLs).
    * Pure regexp + array ops — codegen'd, engine-replicable.
    */
  def canonicalizeUrl(url: Column): Column = {
    // the normalized no-fragment string is referenced SIX times below
    // (scheme, host, path, query, …). Column expressions are TREES:
    // a plain `val noFrag = pctNormalize(…)` would INLINE the whole
    // percent-decode fold into every reference — six interpreted
    // higher-order folds per row (measured q265 7.5→12.5 s, q271
    // 8.3→18 s when the r15 pct-norm landed this way). Binding it as
    // a one-element `transform` lambda variable makes it a VALUE:
    // the fold runs once, the six consumers read the bound string —
    // the same materialize-once discipline the frame-level callers
    // apply, expressed inside a single Column.
    val raw = regexp_replace(url, "#.*$", "")
    element_at(transform(array(pctNormalize(raw)), noFrag => {
      val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
      val hostPort = lower(regexp_extract(noFrag, "^[^:/?#]+://([^/?#]*)", 1))
      val host = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
        .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
        .otherwise(hostPort)
      val rawPath = regexp_extract(noFrag, "^[^:/?#]+://[^/?#]*([^?#]*)", 1)
      val path = when(rawPath === "", lit("/")).otherwise(rawPath)
      val query = regexp_extract(noFrag, "\\?([^#]*)", 1)
      val params = filter(split(query, "&"), p =>
        p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid)(=.*)?$"))
      val canonQ = array_join(array_sort(params), "&")
      concat(scheme, lit("://"), host, path,
        when(canonQ === "", lit("")).otherwise(concat(lit("?"), canonQ)))
    }), 1)
  }

  /** GOPHER REPETITION rules (Rae et al., Table A1) — the
    * within-document repetition battery that complements
    * [[gopherRules]]' structural checks, as one exact-integer frame:
    *
    *   - `dup_line_ppm` / `dup_line_char_ppm`: fraction of lines (and
    *     of line characters) that are repeat occurrences of an earlier
    *     identical line in the same document;
    *   - `top{2,3,4}_char_ppm`: characters claimed by the single most
    *     frequent word n-gram (occurrences × gram chars over the
    *     space-joined doc length; ties break to the lexicographically
    *     smallest gram, docs shorter than n report 0);
    *   - `dup{5,10}_char_ppm`: characters COVERED by word n-grams that
    *     occur ≥ 2 times in the document — overlapping occurrences
    *     count each position once (coverage, not multiplicity), the
    *     paper's semantics.
    *
    * All ratios are ppm with floored integer division over
    * `total_chars` = length of the single-space-joined token stream,
    * so every field hash-verifies cross-engine.
    *
    * Scale shape: line metrics are pure array expressions (no explode);
    * the top-n-gram pass is ONE explode tagged by n ∈ {2,3,4} into a
    * (doc, n, gram) count + per-(doc, n) top-1 window; the coverage
    * pass reuses [[graft.plans.PositionedGramHashes]] (gram bytes never
    * shuffle — 8-byte hashes do) with a doc-keyed census, position
    * explode, and one char-weight join. Everything is keyed by doc_id
    * after tokenization — skew is bounded by single-document length,
    * the same contract as duplicateSpans.
    */
  def gopherRepetition(df: org.apache.spark.sql.DataFrame, idCol: String,
                       text: Column): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("doc_id"), coalesce(text, lit("")).as("__t"))
      .withColumn("__tk", tokens(col("__t")))
      .withColumn("__nt", size(col("__tk")))
      .withColumn("__tc",
        when(col("__nt") === 0, lit(0L)).otherwise(
          aggregate(col("__tk"), lit(0L), (a, x) => a + length(x))
            + col("__nt") - 1L))
    // ---- line rules: array-only, no explode
    val lines = split(col("__t"), "\n")
    val lineStats = base.select(col("doc_id"),
      size(lines).as("__nl"), size(array_distinct(lines)).as("__nld"),
      aggregate(lines, lit(0L), (a, x) => a + length(x)).as("__lc"),
      aggregate(array_distinct(lines), lit(0L), (a, x) => a + length(x)).as("__lcd"))
      .select(col("doc_id"),
        when(col("__nl") === 0, 0L)
          .otherwise(expr("(1000000 * (__nl - __nld)) div __nl")).as("dup_line_ppm"),
        when(col("__lc") === 0, 0L)
          .otherwise(expr("(1000000 * (__lc - __lcd)) div __lc")).as("dup_line_char_ppm"))
    // ---- top n-gram char fraction, n = 2, 3, 4 — one tagged explode
    // Guard each per-n gram list on __nt >= n: sequence(1, 0) is a
    // DESCENDING [1, 0] in Spark, and slice(_, 0, n) then throws
    // INVALID_PARAMETER_VALUE.START. Short docs must yield zero grams
    // (and, via the left-outer joins below, all-zero ppm rows).
    val tagged = base.select(col("doc_id"), col("__tc"),
      explode(flatten(array(Seq(2, 3, 4).map(n =>
        when(col("__nt") >= n,
          transform(sequence(lit(1), col("__nt") - (n - 1)),
            i => struct(lit(n).as("n"),
              concat_ws(" ", slice(col("__tk"), i, lit(n))).as("g"))))
          .otherwise(expr("array()").cast("array<struct<n:int,g:string>>"))): _*)))
        .as("__ng"))
      .select(col("doc_id"), col("__tc"),
        col("__ng.n").as("__n"), col("__ng.g").as("__g"))
    val topW = Window.partitionBy("doc_id", "__n")
      .orderBy(col("__c").desc, col("__g"))
    val tops = tagged.groupBy("doc_id", "__tc", "__n", "__g")
      .agg(count(lit(1)).as("__c"))
      .withColumn("__rn", row_number().over(topW))
      .filter(col("__rn") === 1)
      .withColumn("__frac",
        expr("(1000000 * __c * length(__g)) div __tc"))
      .groupBy("doc_id")
      .agg(
        max(when(col("__n") === 2, col("__frac"))).as("top2_char_ppm"),
        max(when(col("__n") === 3, col("__frac"))).as("top3_char_ppm"),
        max(when(col("__n") === 4, col("__frac"))).as("top4_char_ppm"))
    // ---- duplicated n-gram char coverage, n = 5 and 10
    val tokPos = base.select(col("doc_id"), posexplode(col("__tk")))
      .select(col("doc_id"), (col("pos") + 1).as("__pos"),
        length(col("col")).cast("long").as("__len"))
    def dupCoverage(n: Int, outCol: String): DataFrame = {
      val starts = base.select(col("doc_id"), col("__tc"),
        posexplode(graft.plans.PositionedGramHashes
          .positioned_gram_hashes(col("__t"), n)))
        .select(col("doc_id"), col("__tc"), (col("pos") + 1).as("__start"),
          col("col").as("__gh"))
      val dupGrams = starts.groupBy("doc_id", "__gh")
        .agg(count(lit(1)).as("__c")).filter(col("__c") >= 2)
        .select("doc_id", "__gh")
      val covered = starts.join(dupGrams, Seq("doc_id", "__gh"), "left_semi")
        .select(col("doc_id"), col("__tc"),
          explode(sequence(col("__start"), col("__start") + (n - 1))).as("__pos"))
        .distinct()
      // covered chars = covered token lengths + the joining space
      // between ADJACENT covered positions (islands don't claim the
      // spaces between them) — the denominator is the same joined
      // length the top-n rules use, so coverage ≤ 10^6 exactly
      val adjW = Window.partitionBy("doc_id").orderBy("__pos")
      covered.join(tokPos, Seq("doc_id", "__pos"))
        .withColumn("__adj",
          when(col("__pos") - lag("__pos", 1).over(adjW) === 1, 1L).otherwise(0L))
        .groupBy("doc_id")
        .agg(first("__tc").as("__tc"),
          (sum("__len") + sum("__adj")).as("__cov"))
        .select(col("doc_id"),
          expr("(1000000 * __cov) div __tc").as(outCol))
    }
    base.select(col("doc_id"))
      .join(lineStats, Seq("doc_id"), "left_outer")
      .join(tops, Seq("doc_id"), "left_outer")
      .join(dupCoverage(5, "dup5_char_ppm"), Seq("doc_id"), "left_outer")
      .join(dupCoverage(10, "dup10_char_ppm"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("dup_line_ppm"), lit(0L)).as("dup_line_ppm"),
        coalesce(col("dup_line_char_ppm"), lit(0L)).as("dup_line_char_ppm"),
        coalesce(col("top2_char_ppm"), lit(0L)).as("top2_char_ppm"),
        coalesce(col("top3_char_ppm"), lit(0L)).as("top3_char_ppm"),
        coalesce(col("top4_char_ppm"), lit(0L)).as("top4_char_ppm"),
        coalesce(col("dup5_char_ppm"), lit(0L)).as("dup5_char_ppm"),
        coalesce(col("dup10_char_ppm"), lit(0L)).as("dup10_char_ppm"))
  }
}
