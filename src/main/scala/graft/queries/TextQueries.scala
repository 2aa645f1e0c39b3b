package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Multimodal, Retrieval, Sampling, Sketches}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import TextOracleSql._

/** Training-data text operators over the documents table: dedup
  * variants, language ID, quality scoring, token counting,
  * fingerprinting, multimodal plumbing.
  */
object TextQueries {
  /** The q27 language-ID chain as a reusable CTE block ending in
    * `pred(doc_id, lang_pred)` — shared by the q27 gate and the q161
    * confusion matrix so the two can never drift.
    */
  private val langIdPredCtes: String =
    raw"""toks AS (
      |  SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []::VARCHAR[]
      |                      ELSE ${splitSql("text")} END AS t
      |  FROM documents),
      |hits AS (
      |  SELECT doc_id, l.lang,
      |         len(list_filter(t, x -> list_contains(l.words, x))) AS h
      |  FROM toks, (VALUES
      |    ('de', ['der','die','das','und','nicht']),
      |    ('en', ['the','and','of','to','is']),
      |    ('es', ['el','la','los','que','y']),
      |    ('fr', ['le','la','les','et','est']),
      |    ('zh', ['的','是','了','在','我'])) AS l(lang, words)),
      |best AS (
      |  SELECT doc_id, lang, h,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, lang) AS rn
      |  FROM hits),
      |pred AS (
      |  SELECT doc_id, CASE WHEN h = 0 THEN 'und' ELSE lang END AS lang_pred
      |  FROM best WHERE rn = 1)""".stripMargin


  private val enStop = Seq("the", "and", "of", "to", "is")

  /** Oracle twin of [[graft.functions.TextFunctions.qualityScoreMilli]]
    * over `text` with [[enStop]]: length × punctuation × stopword
    * factors, ×1000 rounded.
    */
  private val qualityMilliSql: String =
    s"""CAST(round(
       |  (CASE WHEN length(text) < 50 THEN length(text) / 50.0
       |        WHEN length(text) > 2000 THEN 2000.0 / length(text)
       |        ELSE 1.0 END)
       |  * (CASE WHEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
       |          / greatest(CAST(length(text) AS DOUBLE), 1.0) > 0.1 THEN 0.5 ELSE 1.0 END)
       |  * (CASE WHEN len(list_filter(${splitSql("text")},
       |                               x -> x IN ('the','and','of','to','is'))) > 0
       |          THEN 1.0 ELSE 0.5 END)
       |  * 1000) AS BIGINT)""".stripMargin

  /** DuckDB hex-string replica of [[Multimodal.packImageBlobs]] — the
    * deterministic real-PNG/JPEG container bytes, built from (doc_id,
    * text). Shared by the q199 header-decode and q33 feature gates so
    * the fixture can never drift between them.
    */
  private val imageBlobHexSql: String =
    """(CASE WHEN doc_id % 2 = 0 THEN
      |  '89504E470D0A1A0A' || '0000000D' || '49484452' ||
      |  lpad(upper(to_hex(doc_id % 512 + 16)), 8, '0') ||
      |  lpad(upper(to_hex(doc_id % 384 + 16)), 8, '0') ||
      |  '0806000000' || '00000000'
      |ELSE
      |  'FFD8' || 'FFE000104A46494600010100000100010000' ||
      |  'FFFE' || lpad(upper(to_hex(doc_id % 7 + 2)), 4, '0') ||
      |  repeat('41', CAST(doc_id % 7 AS INT)) ||
      |  'FFC0' || '0011' || '08' ||
      |  lpad(upper(to_hex(doc_id % 768 + 16)), 4, '0') ||
      |  lpad(upper(to_hex(doc_id % 1024 + 16)), 4, '0') ||
      |  '03' || '012200' || '021101' || '031101'
      |END || upper(hex(encode(text))))""".stripMargin

  /** q111/q133 shared BM25 per-term scores (Okapi k1=1.2 b=0.75,
    * integer-exact — see q111) for the query terms spark/merge/vector:
    * ends in `ts(doc_id, s_milli)`.
    */
  private val bm25TermCtes: String =
    raw"""toks AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS token
       |  FROM documents),
       |st AS (SELECT (SELECT count(*) FROM documents) AS n,
       |              (SELECT count(*) FROM toks) AS sdl),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
       |       WHERE token IN ('spark','merge','vector') GROUP BY 1, 2),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |ts AS (
       |  SELECT tf.doc_id,
       |         (1000 * (44 * tf.tf * st.sdl) * (2*st.n - 2*df.df + 1))
       |           // ((20 * tf.tf * st.sdl + 6 * st.sdl + 18 * dl.dl * st.n)
       |              * (2*df.df + 1)) AS s_milli
       |  FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN st)""".stripMargin

  /** q112/q154 shared duplicated-span chain over the docs of `docs`
    * (a relation, optionally filtered): 8-gram census, dup mark and
    * the gaps-and-islands merge. Ends in
    * `islands(doc_id, start_pos, end_pos, island)`; `arr(doc_id, a)`
    * holds the token lists.
    */
  private def dupSpanCtes(docs: String): String =
    raw"""arr AS (
       |  SELECT doc_id, ${tokensSql("text")} AS a
       |  FROM $docs),
       |grams AS (
       |  SELECT doc_id, i AS start_pos, array_to_string(a[i:i+7], ' ') AS gram
       |  FROM arr, unnest(generate_series(1, len(a) - 7)) AS g(i)),
       |dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
       |marked AS (SELECT doc_id, start_pos, start_pos + 7 AS end_pos
       |           FROM grams WHERE gram IN (SELECT gram FROM dup)),
       |flagged AS (
       |  SELECT doc_id, start_pos, end_pos,
       |         CASE WHEN start_pos > coalesce(max(end_pos) OVER (
       |                PARTITION BY doc_id ORDER BY start_pos
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
       |              THEN 1 ELSE 0 END AS new_island
       |  FROM marked),
       |islands AS (
       |  SELECT doc_id, start_pos, end_pos,
       |         sum(new_island) OVER (PARTITION BY doc_id ORDER BY start_pos
       |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM flagged)""".stripMargin

  /** q28/q143 shared brute-force word-trigram Jaccard over the docs of
    * `docs`: every pair sharing a shingle with its ppm.
    */
  private def trigramJaccardSql(docs: String): String =
    raw"""WITH toks AS (
       |  -- blank/whitespace-only text -> NO tokens (the split of '' is
       |  -- [''], len 1, which would fabricate a '' shingle and spurious
       |  -- blank-doc pairs; guard on trimmed length like q25/q40)
       |  SELECT doc_id, ${tokensSql("text")} AS t
       |  FROM $docs),
       |sh AS (
       |  -- parity with WordShingles: fewer than n tokens -> ONE shingle
       |  -- of all tokens (no tokens -> none)
       |  SELECT DISTINCT doc_id,
       |         unnest(${trigramsSql("t")}) AS g
       |  FROM toks),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)
       |SELECT id_a, id_b,
       |       CAST(round(inter * 1000000.0 / (sa.n_sh + sb.n_sh - inter)) AS BIGINT) AS jaccard_ppm
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b""".stripMargin

  /** The q137/q230 markup fixture: each document wrapped in
    * deterministic HTML (comment, script, style, entities) — CTE
    * `m(doc_id, raw)` over `documents`; [[markupDoc]] is its Spark twin.
    */
  private[queries] val markupDocsCte: String =
    """m AS (
      |  SELECT doc_id,
      |    '<html><!-- doc ' || doc_id || ' --><body class="doc"><h1>' || source ||
      |    '</h1><script type="text/javascript">var x = 1 < 2;</script><p>' || text ||
      |    '</p><style media="all">p { color: red; }</style>&amp;amp; &lt;escaped&gt;&nbsp;ok</body></html>'
      |    AS raw
      |  FROM documents)""".stripMargin

  private[queries] def markupDoc: Column = concat(
    lit("<html><!-- doc "), col("doc_id").cast("string"),
    lit(" --><body class=\"doc\"><h1>"), col("source"),
    lit("</h1><script type=\"text/javascript\">var x = 1 < 2;</script><p>"),
    col("text"),
    lit("</p><style media=\"all\">p { color: red; }</style>&amp;amp; &lt;escaped&gt;&nbsp;ok</body></html>"))

  /** q29b banding parameters, shared by the Spark call and the
    * generated oracle so they cannot drift. 4 bands × 2 rows keeps the
    * md5 evaluation count (the twin's dominant cost) at 8 per shingle
    * while still exercising multi-band candidate generation.
    */
  private val Md5Bands = 4
  private val Md5Rows = 2

  /** q29 banding parameters (xxhash64 fast path), shared with the
    * generated oracle.
    */
  private val XxBands = 16
  private val XxRows = 4

  /** CTE chain reproducing the COMPLETE xxhash64 MinHash+LSH pipeline
    * over `src` (any relation with doc_id, text) — the same shingles,
    * the per-shingle xxhash64 (h1) and its re-hash (h2), the
    * Carter-Wegman seeded family `h1 + s·h2` mod 2^64 (signed-long min
    * order), the per-band chained-hash buckets, the bucket join and the
    * exact-Jaccard verify — rebuilt on the oracle engine from
    * [[XxHash64Sql]]'s bit-exact XXH64. Ends with CTE
    * `lshpairs(id_a, id_b, jaccard_ppm)` (unthresholded); intermediate
    * CTE names (toks, sh, hb…, mins, banded, cand, …) are fixed, so the
    * chain can appear once per statement. q29 consumes it directly;
    * q65 splices it into the curation-pipeline composition.
    */
  private[queries] def minhashXxPairCtes(src: String, bands: Int = XxBands,
                                         rows: Int = XxRows): String = {
    import XxHash64Sql._
    val numHashes = bands * rows
    // h2 = xxhash64 of the LONG h1 (seed 42), exactly Spark's
    // xxhash64(h1) long path
    val (hlSteps, h2) = hashLongSteps("xxh", "42", "HL")
    val (hlCtes, hlLast) = chainCtes("hb", hlSteps, "hlc")
    var bSteps = Seq.empty[(String, String)]
    var bSeed = "42"
    (0 until rows).foreach { j =>
      val (sj, out) = hashLongSteps(s2u(s"mv$j"), bSeed, s"B${j}_")
      bSteps ++= sj; bSeed = out
    }
    val (bCtes, bLast) = chainCtes("bandpivot", bSteps, "bkc")
    val pivots = (0 until rows)
      .map(j => s"min(CASE WHEN s % $rows = $j THEN mv END) AS mv$j").mkString(", ")
    s"""toks AS (
       |  SELECT doc_id, ${tokensSql("text")} AS t
       |  FROM $src),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |         unnest(${trigramsSql("t")}) AS g
       |  FROM toks),
       |gs AS (SELECT DISTINCT g FROM sh),
       |${hashBytesCtes("gs", "g")},
       |$hlCtes,
       |mins AS (
       |  SELECT sh.doc_id, ss.s,
       |         min(${u2s(s"(h.xxh + ss.s * h.$h2) % $M64")}) AS mv
       |  FROM sh JOIN $hlLast h ON h.g = sh.g,
       |       generate_series(0, ${numHashes - 1}) ss(s)
       |  GROUP BY 1, 2),
       |bandpivot AS (
       |  SELECT doc_id, s // $rows AS band, $pivots
       |  FROM mins GROUP BY 1, 2),
       |$bCtes,
       |banded AS (SELECT doc_id, band, $bSeed AS bucket FROM $bLast),
       |${bandVerifyCtes("lshpairs")}""".stripMargin
  }

  /** Oracle for q29: the MinHash+LSH chain over the whole documents
    * table, candidates unthresholded.
    */
  private val minhashXxOracleSql: String =
    s"""WITH ${minhashXxPairCtes("documents")}
       |SELECT id_a, id_b, jaccard_ppm FROM lshpairs""".stripMargin

  /** Oracle for q30: the xxhash64 SimHash — per-token XXH64 rebuilt
    * bit-exact, 64 bit-vote sums, sign fingerprint as DECIMAL(20,0) and
    * the 16-bit prefix bucket. Docs with no tokens keep fingerprint 0
    * (the engine's single-pass expression does not drop them); NULL
    * text stays NULL (the expression is null-intolerant).
    */
  private val simhashXxOracleSql: String = {
    val votes = (0 until 64)
      .map(b => s"sum(CASE WHEN (xxh // ${BigInt(1) << b}) % 2 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(", ")
    val fp = (0 until 64)
      .map(b => s"(CASE WHEN v$b > 0 THEN CAST(${BigInt(1) << b} AS HUGEINT) ELSE 0 END)")
      .mkString(" + ")
    // simhash compares as VARCHAR: it is the suite's only unsigned-
    // 64-bit value and a string compare sidesteps any decimal-vs-int
    // coercion difference in the gate's comparator
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS t
       |  FROM documents WHERE doc_id < 200),
       |${XxHash64Sql.hashBytesCtes("toks", "t")},
       |votes AS (SELECT doc_id, $votes FROM hb GROUP BY doc_id),
       |fp AS (SELECT doc_id, $fp AS f FROM votes)
       |SELECT d.doc_id,
       |  CAST(CASE WHEN d.text IS NULL THEN NULL
       |            ELSE coalesce(f.f, 0) END AS VARCHAR) AS simhash,
       |  CAST(CASE WHEN d.text IS NULL THEN NULL
       |            ELSE coalesce(f.f, 0) // 281474976710656 END AS BIGINT) AS bucket
       |FROM (SELECT doc_id, text FROM documents WHERE doc_id < 200) d
       |LEFT JOIN fp f ON f.doc_id = d.doc_id""".stripMargin
  }

  /** Oracle for q29b: the md5 MinHash+LSH pipeline in DuckDB SQL,
    * generated so the hash count / banding stays in sync with the Spark
    * call. Candidates with zero common shingles still appear (left
    * join), matching the engine's verify-all shape. Scoped to
    * doc_id < 200 (both engines): the md5 twin is a correctness
    * artifact, not the fast path, so the gate pays 8 md5 evals per
    * shingle over 200 docs instead of 500 (same scoping as q30b).
    */
  /** The q29b pipeline as a reusable CTE chain ending in
    * `pairs(id_a, id_b, jaccard_ppm)` — shared by the q29b gate and
    * the q140 split-leakage gate so the two can never drift.
    */
  private val minhashMd5PairsCtes: String = {
    s"""toks AS (
       |  SELECT doc_id, ${tokensSql("text")} AS t
       |  FROM documents WHERE doc_id < 200),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |         unnest(${trigramsSql("t")}) AS g
       |  FROM toks),
       |$md5BandCtes,
       |${bandVerifyCtes("pairs")}""".stripMargin
  }

  /** The q29b/q82 md5 banding over `sh(doc_id, g)`: per-doc minima of
    * the Md5Bands × Md5Rows seeded md5 family (`minh`), then one md5
    * bucket per band (`banded(doc_id, band, bucket)`).
    */
  private lazy val md5BandCtes: String = {
    val bands = Md5Bands
    val rows = Md5Rows
    val mins = (0 until bands * rows)
      .map(s => s"min(substr(md5(g || '#$s'), 1, 16)) AS m$s").mkString(", ")
    val bandSelects = (0 until bands).map { b =>
      val bk = (b * rows until (b + 1) * rows).map(i => s"m$i").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($bk) AS bucket FROM minh"
    }.mkString(" UNION ALL ")
    s"""minh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |banded AS ($bandSelects)""".stripMargin
  }

  /** The q29/q29b LSH verify over `sh(doc_id, g)` and
    * `banded(doc_id, band, bucket)`: bucket-sharing candidate pairs,
    * their exact shingle intersection (0 when none) and Jaccard in
    * ppm, in CTE `out(id_a, id_b, jaccard_ppm)`.
    */
  private def bandVerifyCtes(out: String): String =
    s"""cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |inters AS (
       |  SELECT c.id_a, c.id_b, count(*) AS inter
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.id_a
       |  JOIN sh sb ON sb.doc_id = c.id_b AND sa.g = sb.g
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |$out AS (
       |  SELECT c.id_a, c.id_b,
       |         CAST(round(coalesce(i.inter, 0) * 1000000.0
       |              / (sa.n_sh + sb.n_sh - coalesce(i.inter, 0))) AS BIGINT) AS jaccard_ppm
       |  FROM cand c
       |  LEFT JOIN inters i ON i.id_a = c.id_a AND i.id_b = c.id_b
       |  JOIN sizes sa ON sa.doc_id = c.id_a
       |  JOIN sizes sb ON sb.doc_id = c.id_b)""".stripMargin

  private val minhashMd5OracleSql: String =
    s"""WITH $minhashMd5PairsCtes
       |SELECT id_a, id_b, jaccard_ppm FROM pairs""".stripMargin

  /** Oracle for q82: the md5 MinHash+LSH pipeline ACROSS a snapshot
    * split — incoming (doc_id < 100) banded against existing
    * (100 <= doc_id < 300), never same-side. Signatures computed over
    * the union are identical to per-side computation (a signature
    * depends only on the doc's own shingles), so one minh CTE serves
    * both sides and the split lives in the candidate join predicate.
    */
  private val minhashMd5AcrossOracleSql: String = {
    s"""WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
       |toks AS (
       |  SELECT doc_id, ${tokensSql("text")} AS t
       |  FROM docs),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |         unnest(${trigramsSql("t")}) AS g
       |  FROM toks),
       |$md5BandCtes,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS inc_id, b.doc_id AS ex_id
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.doc_id < 100 AND b.doc_id >= 100),
       |inters AS (
       |  SELECT c.inc_id, c.ex_id, count(*) AS inter
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.inc_id
       |  JOIN sh sb ON sb.doc_id = c.ex_id AND sa.g = sb.g
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)
       |SELECT c.inc_id, c.ex_id,
       |       CAST(round(coalesce(i.inter, 0) * 1000000.0
       |            / (sa.n_sh + sb.n_sh - coalesce(i.inter, 0))) AS BIGINT) AS jaccard_ppm
       |FROM cand c
       |LEFT JOIN inters i ON i.inc_id = c.inc_id AND i.ex_id = c.ex_id
       |JOIN sizes sa ON sa.doc_id = c.inc_id
       |JOIN sizes sb ON sb.doc_id = c.ex_id""".stripMargin
  }

  /** Oracle for q30b: md5 SimHash bit votes + sign fingerprint as two
    * int64 halves, generated to keep the 64 vote terms in sync with
    * Dedup.simhashMd5.
    */
  private val simhashMd5OracleSql: String = {
    val votes = (0 until 64).map { b =>
      val word = if (b < 32) "lo" else "hi"
      s"sum(CASE WHEN ($word >> ${b % 32}) & 1 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(", ")
    def half(lowBit: Int): String =
      (lowBit until lowBit + 32)
        .map(b => s"(CASE WHEN v$b > 0 THEN CAST(1 AS BIGINT) << ${b - lowBit} ELSE 0 END)")
        .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS t
       |  FROM documents WHERE doc_id < 200),
       |bits AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS hi,
       |         CAST(('0x' || substr(md5(t), 9, 8)) AS BIGINT) AS lo
       |  FROM toks),
       |votes AS (SELECT doc_id, $votes FROM bits GROUP BY doc_id)
       |SELECT doc_id, ${half(32)} AS fp_hi, ${half(0)} AS fp_lo
       |FROM votes""".stripMargin
  }

  /** The q65 curation-pipeline oracle chain, shared with the q189
    * drop-reason audit: CTEs `base scrub qual scored keepers exact
    * (minhash chain) thr e vnodes reach losers deduped btoks bsh
    * contaminated clean` plus the split-hash chain. Returns
    * (with-body, last-cte-name, split-hash-u64-expr).
    */
  private def curationOracleParts: (String, String, String) = {
    import graft.functions.TextFunctions.{EmailPattern, PhonePattern}
    import XxHash64Sql._
    val (steps, h) = hashLongSteps(s2u("doc_id"), "42", "CS")
    val (ctes, last) = chainCtes("clean", steps, "csc")
    (s"""RECURSIVE base AS (
         |  SELECT doc_id, nfc_normalize(text) AS t0
         |  FROM documents WHERE doc_id % 50 != 0),
         |scrub AS (
         |  SELECT doc_id,
         |         regexp_replace(regexp_replace(t0, '$EmailPattern', '<EMAIL>', 'g'),
         |             '$PhonePattern', '<PHONE>', 'g') AS text
         |  FROM base),
         |qual AS (
         |  SELECT doc_id, text,
         |    $qualityMilliSql AS quality_milli
         |  FROM scrub),
         |scored AS (SELECT * FROM qual WHERE quality_milli >= 400),
         |keepers AS (SELECT min(doc_id) AS doc_id FROM scored GROUP BY md5(text)),
         |exact AS (SELECT s.* FROM scored s JOIN keepers k USING (doc_id)),
         |${minhashXxPairCtes("exact")},
         |thr AS (SELECT id_a, id_b FROM lshpairs WHERE jaccard_ppm >= 800000),
         |e AS (SELECT id_a AS a, id_b AS b FROM thr UNION SELECT id_b, id_a FROM thr),
         |vnodes AS (SELECT DISTINCT a AS v FROM e),
         |reach AS (
         |  SELECT v, v AS m FROM vnodes
         |  UNION
         |  SELECT e.b AS v, r.m FROM reach r JOIN e ON e.a = r.v),
         |losers AS (SELECT v AS doc_id FROM reach GROUP BY v HAVING v != min(m)),
         |deduped AS (
         |  SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
         |btoks AS (
         |  SELECT ${tokensSql("text")} AS t
         |  FROM documents WHERE doc_id % 50 = 0),
         |bsh AS (
         |  SELECT DISTINCT
         |         unnest(${trigramsSql("t")}) AS g
         |  FROM btoks),
         |contaminated AS (
         |  SELECT DISTINCT s.doc_id FROM sh s JOIN bsh b ON s.g = b.g
         |  WHERE s.doc_id IN (SELECT doc_id FROM deduped)),
         |clean AS (
         |  SELECT * FROM deduped
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |$ctes""".stripMargin, last, h)
  }

  /** q212's committed merge fixture: the table
    * [[graft.operators.Tokenization.trainBpe]] learns on the sf0.01
    * corpus (numMerges = 30; regenerate with `runMain
    * graft.queries.BpeDump` if the testdata generation changes),
    * embedded as a LITERAL so both engines replay encode with the
    * identical table — SQL recursion cannot aggregate over the
    * recursive term, so training itself is not oracle-replayable
    * (the q131 adjudication), but greedy ENCODE with a fixed table
    * is. pair_n values are the training-time counts (provenance
    * only; encode ignores them).
    */
  private val bpeMergeFixture: Seq[graft.operators.Tokenization.Merge] = {
    import graft.operators.Tokenization.Merge
    Seq(
      Merge(0, "e", "r", 4568L), Merge(1, "i", "n", 2760L),
      Merge(2, "o", "w", 2747L), Merge(3, "o", "r", 2696L),
      Merge(4, "s", "t", 2676L), Merge(5, "m", "er", 1852L),
      Merge(6, "a", "t", 1845L), Merge(7, "l", "u", 1831L),
      Merge(8, "a", "r", 1758L), Merge(9, "p", "ar", 1758L),
      Merge(10, "j", "o", 964L), Merge(11, "jo", "in", 964L),
      Merge(12, "a", "s", 947L), Merge(13, "as", "h", 947L),
      Merge(14, "h", "ash", 947L), Merge(15, "r", "ow", 943L),
      Merge(16, "at", "c", 937L), Merge(17, "atc", "h", 937L),
      Merge(18, "b", "atch", 937L), Merge(19, "a", "n", 936L),
      Merge(20, "c", "an", 936L), Merge(21, "s", "can", 936L),
      Merge(22, "c", "o", 934L), Merge(23, "c", "u", 934L),
      Merge(24, "co", "lu", 934L), Merge(25, "colu", "m", 934L),
      Merge(26, "colum", "n", 934L), Merge(27, "cu", "st", 934L),
      Merge(28, "cust", "o", 934L), Merge(29, "custo", "mer", 934L))
  }

  // TOKENIZER APPLY (BPE encode → token ids): the corpus-scale step a
  // real pretraining pipeline runs once per document forever after
  // training once. Spark side: Tokenization.applyBpe (narrow per-row
  // replay of the broadcast merge table — lowest-rank-present applied
  // greedily to fixpoint per word) → posexplode → broadcast vocab
  // join, ids by the standard convention (base alphabet in binary
  // order, then one id per merge at B+rank). The oracle replays
  // encode EXACTLY with a recursive CTE over the corpus's DISTINCT
  // words (sequential-by-rank single-leftmost replacement to fixpoint
  // — equivalent to lowest-rank-present because a trained table's
  // later merges cannot create earlier pairs), on a chr(1)-fenced
  // symbol string so replacements are token-boundary-exact, then
  // re-flattens via the word-position join. Output: every emitted
  // token as (doc_id, pos, token_id), hash-compared.
  private def q212BpeEncode: QueryDef = {
    val valuesSql = bpeMergeFixture
      .map(m => s"(${m.rank},'${m.left}','${m.right}')").mkString(",")
    QueryDef.sql("q212_bpe_encode",
      s"""WITH RECURSIVE mg AS (
         |  SELECT * FROM (VALUES $valuesSql) m(rk, l, r)),
         |nm AS (SELECT count(*) AS n FROM mg),
         |arr AS (
         |  SELECT doc_id, ${tokensSql("text")} AS a
         |  FROM documents),
         |toks AS (
         |  SELECT doc_id, unnest(a) AS w,
         |         unnest(generate_series(1, len(a))) AS wpos
         |  FROM arr),
         |words AS (SELECT DISTINCT w FROM toks),
         |enc AS (
         |  SELECT w, chr(1) || array_to_string(string_split(w, ''), chr(1))
         |              || chr(1) AS seq,
         |         0 AS rk
         |  FROM words
         |  UNION ALL
         |  SELECT w,
         |         CASE WHEN p > 0
         |              THEN seq[1:p-1] || rep || seq[p+length(pat):]
         |              ELSE seq END,
         |         CASE WHEN p > 0 THEN rk ELSE rk + 1 END
         |  FROM (
         |    SELECT e.w, e.seq, e.rk,
         |           chr(1) || m.l || chr(1) || m.r || chr(1) AS pat,
         |           chr(1) || m.l || m.r || chr(1) AS rep,
         |           strpos(e.seq, chr(1) || m.l || chr(1) || m.r || chr(1)) AS p
         |    FROM enc e JOIN mg m ON m.rk = e.rk CROSS JOIN nm
         |    WHERE e.rk < nm.n)),
         |fin AS (
         |  SELECT w, list_filter(string_split(seq, chr(1)), x -> x <> '') AS pieces
         |  FROM enc CROSS JOIN nm WHERE enc.rk = nm.n),
         |flat AS (
         |  SELECT t.doc_id, t.wpos, unnest(f.pieces) AS token,
         |         unnest(generate_series(1, len(f.pieces))) AS spos
         |  FROM toks t JOIN fin f ON f.w = t.w),
         |pos AS (
         |  SELECT doc_id, token,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY wpos, spos) AS pos
         |  FROM flat),
         |sym AS (SELECT DISTINCT unnest(string_split(w, '')) AS s FROM words),
         |base AS (SELECT s, row_number() OVER (ORDER BY s) - 1 AS token_id FROM sym),
         |nb AS (SELECT count(*) AS b FROM base),
         |vocab AS (
         |  SELECT s AS token, token_id FROM base
         |  UNION ALL
         |  SELECT l || r AS token, b + rk AS token_id FROM mg CROSS JOIN nb)
         |SELECT p.doc_id, CAST(p.pos AS BIGINT) AS pos,
         |       CAST(v.token_id AS BIGINT) AS token_id
         |FROM pos p JOIN vocab v ON v.token = p.token""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        val vocab = graft.operators.Tokenization.bpeVocab(
          docs, col("text"), bpeMergeFixture)
        graft.operators.Tokenization.encodeIds(
          docs, "doc_id", col("text"), bpeMergeFixture, vocab)
      }
    }
  }

  // BPE DECODE round trip: ids → text (Tokenization.decodeIds —
  // broadcast vocab join + ordered re-assembly), closing the q212
  // loop. The oracle needs NO BPE replay: decode(encode(doc)) is the
  // whitespace-squashed document by construction (merges concatenate
  // symbols; applyBpe tokenizes on whitespace), so the expected text
  // is derivable from the corpus alone — which is exactly what makes
  // this a round-trip GATE rather than a re-derivation: any encode
  // bug that loses/duplicates/reorders a token, any vocab id
  // collision, or any decode mis-ordering breaks the md5. n_unk = 0
  // is the no-drift contract (vocab and corpus from the same pass).
  private def q220BpeDecode: QueryDef =
    QueryDef.sql("q220_bpe_decode_roundtrip",
      raw"""SELECT doc_id,
        |       md5(array_to_string(
        |         ${splitSql("text")},
        |         '')) AS decoded_md5,
        |       CAST(0 AS BIGINT) AS n_unk
        |FROM documents
        |WHERE length(trim(text)) > 0""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        val vocab = graft.operators.Tokenization.bpeVocab(
          docs, col("text"), bpeMergeFixture)
        val enc = graft.operators.Tokenization.encodeIds(
          docs, "doc_id", col("text"), bpeMergeFixture, vocab)
        graft.operators.Tokenization.decodeIds(enc, "doc_id", vocab)
          .select(col("doc_id"), md5(col("decoded_text")).as("decoded_md5"),
            col("n_unk"))
      }
    }

  // C4 BADWORDS blocklist filter: the named page-drop step (Raffel et
  // al. 2020 §2.2 use of the LDNOOBW list), with word AND phrase
  // terms. Fixture terms deliberately exercise the contract edges:
  // mixed case + internal double-space normalization ('Hash  Value'),
  // overlapping sliding-window hits ('batch batch' counts twice in
  // 'batch batch batch'), a 3-gram, and a never-hits term. Oracle
  // replays the identical funnel: normalize terms, explode 1..3-gram
  // windows, join, per-doc census with C4's zero-hit keep verdict.
  private def q221Blocklist: QueryDef =
    QueryDef.sql("q221_blocklist_filter",
      raw"""WITH bl AS (
        |  SELECT * FROM (VALUES ('customer'), ('Hash  Value'),
        |                        ('slow query'), ('batch batch'),
        |                        ('table table key'), ('unobtainium')) b(term)),
        |norm AS (
        |  SELECT DISTINCT
        |         array_to_string(${splitSql("lower(term)")}, ' ') AS gram,
        |         len(${splitSql("lower(term)")}) AS n
        |  FROM bl),
        |toks AS (
        |  SELECT doc_id,
        |         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |              ELSE ${splitSql("lower(text)")} END AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_transform(
        |           generate_series(1, len(t) - ns.n + 1),
        |           i -> array_to_string(t[i:i+ns.n-1], ' '))) AS gram
        |  FROM toks CROSS JOIN (SELECT DISTINCT n FROM norm) ns
        |  WHERE len(t) >= ns.n),
        |hits AS (
        |  SELECT g.doc_id, count(*) AS n_hits,
        |         count(DISTINCT g.gram) AS n_terms
        |  FROM grams g JOIN norm nm ON nm.gram = g.gram
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
        |       CAST(COALESCE(h.n_terms, 0) AS BIGINT) AS n_terms,
        |       COALESCE(h.n_hits, 0) = 0 AS kept
        |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id""".stripMargin) {
      (s, d) => {
        import s.implicits._
        val terms = Seq("customer", "Hash  Value", "slow query",
          "batch batch", "table table key", "unobtainium").toDF("term")
        blocklistFilter(Tables.documents(s, d), "doc_id", col("text"), terms)
      }
    }

  // RELATIONAL PERCEPTRON (trained-and-applied-in-SQL classifier #2,
  // the discriminative twin of q167's Naive Bayes): batch perceptron
  // over q153's hashed token counts, 3 full-batch epochs in exact
  // integer arithmetic. The oracle replays TRAINING itself as a CTE
  // chain — epoch 1 is the class-weighted feature census (weights
  // start at 0, every zero score is "misclassified" by the ≤0 rule),
  // each later epoch re-scores, re-selects the misclassified set, and
  // folds its delta into the weights via a FULL JOIN — then scores
  // the corpus with the final weights, bit-identical to the Spark
  // loop's driver-held weight vector.
  private def q227Perceptron: QueryDef = {
    def epoch(k: Int): String = {
      val (wp, s, dd, w) = (s"w${k - 1}", s"s$k", s"d$k", s"w$k")
      s"""$s AS (SELECT f.doc_id, f.y, sum(f.c * COALESCE($wp.w, 0)) AS s
         |       FROM fx f LEFT JOIN $wp ON $wp.b = f.b GROUP BY 1, 2),
         |$dd AS (SELECT f.b, sum(f.y * f.c) AS d FROM fx f
         |        JOIN $s ON $s.doc_id = f.doc_id
         |        WHERE $s.y * $s.s <= 0 GROUP BY 1),
         |$w AS (SELECT COALESCE($wp.b, $dd.b) AS b,
         |              COALESCE($wp.w, 0) + COALESCE($dd.d, 0) AS w
         |       FROM $wp FULL JOIN $dd ON $dd.b = $wp.b)""".stripMargin
    }
    QueryDef.sql("q227_perceptron",
      s"""WITH toks AS (
         |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
         |         unnest(${tokensSql("text")}) AS t
         |  FROM documents WHERE doc_id < 200),
         |${XxHash64Sql.hashBytesCtes("toks", "t")},
         |fx AS (SELECT doc_id, y, CAST(xxh % 64 AS BIGINT) AS b,
         |              count(*) AS c
         |       FROM hb GROUP BY 1, 2, 3),
         |w1 AS (SELECT b, sum(y * c) AS w FROM fx GROUP BY b),
         |${epoch(2)},
         |${epoch(3)},
         |fin AS (SELECT f.doc_id, sum(f.c * COALESCE(w3.w, 0)) AS s
         |        FROM fx f LEFT JOIN w3 ON w3.b = f.b GROUP BY 1),
         |uni AS (SELECT doc_id,
         |               CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
         |        FROM documents WHERE doc_id < 200)
         |SELECT u.doc_id, CAST(u.y AS BIGINT) AS label,
         |       CAST(COALESCE(fin.s, 0) AS BIGINT) AS score,
         |       CAST(CASE WHEN COALESCE(fin.s, 0) > 0 THEN 1 ELSE -1 END
         |            AS BIGINT) AS pred,
         |       (CASE WHEN COALESCE(fin.s, 0) > 0 THEN 1 ELSE -1 END) = u.y
         |         AS correct
         |FROM uni u LEFT JOIN fin ON fin.doc_id = u.doc_id""".stripMargin) {
      (s, d) =>
        graft.operators.LanguageModel.perceptronClassify(
          Tables.documents(s, d).filter(col("doc_id") < 200),
          "doc_id", col("text"), col("lang") === "en",
          dims = 64, epochs = 3)
    }
  }

  // UNICODE SCRIPT PROFILE: the pre-language-ID routing census. The
  // ASCII corpus is made multiscript deterministically (doc-residue
  // Cyrillic/Han/Arabic suffixes + digits, identical literals in both
  // engines), then profiled: script counts, digit/space counts, Latin
  // per-mille, dominant script. Engine parity rests on Java \p{IsX}
  // and RE2 \p{X} both implementing the Unicode Script property.
  private def q228ScriptProfile: QueryDef =
    QueryDef.sql("q228_script_profile",
      """WITH m AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' кириллица текст'
        |         WHEN doc_id % 3 = 1 THEN ' 北京大学'
        |         ELSE ' مرحبا بكم' END
        |    || ' ' || CAST(doc_id AS VARCHAR) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(t) AS BIGINT) AS n_chars,
        |  CAST(length(regexp_replace(t, '[^\p{Latin}]', '', 'g')) AS BIGINT) AS n_latin,
        |  CAST(length(regexp_replace(t, '[^\p{Cyrillic}]', '', 'g')) AS BIGINT) AS n_cyrillic,
        |  CAST(length(regexp_replace(t, '[^\p{Han}]', '', 'g')) AS BIGINT) AS n_han,
        |  CAST(length(regexp_replace(t, '[^\p{Arabic}]', '', 'g')) AS BIGINT) AS n_arabic,
        |  CAST(length(regexp_replace(t, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |  CAST(length(regexp_replace(t, '[^ \t\n\r]', '', 'g')) AS BIGINT) AS n_space,
        |  CAST(length(regexp_replace(t, '[^\p{Latin}]', '', 'g')) * 1000
        |       // greatest(length(t), 1) AS BIGINT) AS latin_permille,
        |  CASE WHEN greatest(
        |         length(regexp_replace(t, '[^\p{Latin}]', '', 'g')),
        |         length(regexp_replace(t, '[^\p{Cyrillic}]', '', 'g')),
        |         length(regexp_replace(t, '[^\p{Han}]', '', 'g')),
        |         length(regexp_replace(t, '[^\p{Arabic}]', '', 'g'))) = 0 THEN 'other'
        |       WHEN length(regexp_replace(t, '[^\p{Latin}]', '', 'g')) = greatest(
        |         length(regexp_replace(t, '[^\p{Latin}]', '', 'g')),
        |         length(regexp_replace(t, '[^\p{Cyrillic}]', '', 'g')),
        |         length(regexp_replace(t, '[^\p{Han}]', '', 'g')),
        |         length(regexp_replace(t, '[^\p{Arabic}]', '', 'g'))) THEN 'latin'
        |       WHEN length(regexp_replace(t, '[^\p{Cyrillic}]', '', 'g')) = greatest(
        |         length(regexp_replace(t, '[^\p{Cyrillic}]', '', 'g')),
        |         length(regexp_replace(t, '[^\p{Han}]', '', 'g')),
        |         length(regexp_replace(t, '[^\p{Arabic}]', '', 'g'))) THEN 'cyrillic'
        |       WHEN length(regexp_replace(t, '[^\p{Han}]', '', 'g')) = greatest(
        |         length(regexp_replace(t, '[^\p{Han}]', '', 'g')),
        |         length(regexp_replace(t, '[^\p{Arabic}]', '', 'g'))) THEN 'han'
        |       ELSE 'arabic' END AS dominant
        |FROM m""".stripMargin) {
      (s, d) => {
        val t = concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit(" кириллица текст"))
            .when(pmod(col("doc_id"), lit(3)) === 1, lit(" 北京大学"))
            .otherwise(lit(" مرحبا بكم")),
          lit(" "), col("doc_id").cast("string"))
        Tables.documents(s, d)
          .select(col("doc_id"), scriptProfile(t).as("p"))
          .select(col("doc_id"), col("p.n_chars"), col("p.n_latin"),
            col("p.n_cyrillic"), col("p.n_han"), col("p.n_arabic"),
            col("p.n_digit"), col("p.n_space"), col("p.latin_permille"),
            col("p.dominant"))
      }
    }

  // SENTENCE SEGMENTATION (TextFunctions.sentences): terminator-run +
  // whitespace boundaries via lookaround-free separator injection —
  // the same regex and backreference replay in RE2, so the oracle is
  // the identical chain. The corpus is punctuation-free, so the gate
  // first plants terminators deterministically (periods after
  // table/fast, a '!?' run after spark — identical regex in both
  // engines, non-overlapping left-to-right global replace semantics
  // agree between Java and RE2). Position and full sentence text
  // both gated.
  private def q233SentenceSplit: QueryDef =
    QueryDef.sql("q233_sentence_split",
      """WITH m AS (
        |  SELECT doc_id, regexp_replace(
        |    regexp_replace(text, ' (table|fast) ', ' \1. ', 'g'),
        |    ' spark ', ' spark!? ', 'g') AS t
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, list_filter(
        |    string_split(regexp_replace(t, '([.!?]+)[ \t\n\r]+',
        |                                '\1' || chr(30), 'g'), chr(30)),
        |    x -> strlen(x) > 0) AS ss
        |  FROM m)
        |SELECT doc_id,
        |       CAST(unnest(generate_series(1, len(ss))) - 1 AS BIGINT) AS sent_idx,
        |       unnest(ss) AS sentence
        |FROM s""".stripMargin) {
      (s, d) => {
        val planted = regexp_replace(
          regexp_replace(col("text"), " (table|fast) ", " $1. "),
          " spark ", " spark!? ")
        Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(graft.functions.TextFunctions.sentences(planted)))
          .select(col("doc_id"), col("pos").cast("long").as("sent_idx"),
            col("col").as("sentence"))
      }
    }

  // VOCABULARY GROWTH (Heaps' law census, Profiling.vocabGrowth):
  // global token positions via the two-level distributed prefix sum
  // (Relational.globalPrefixSum — no corpus-sized unpartitioned
  // window), each type's first position min-aggregated, bucketed at
  // 500 tokens. The synthetic corpus's ~60-word vocabulary would put
  // every first occurrence in bucket 0, so the gate plants two novel
  // types per doc (one unique, one recurring on a 97-residue cycle)
  // — the curve then actually grows and the oracle replays doc-order
  // offsets, first positions, and the cumulative fold across ~100
  // buckets.
  private def q235VocabGrowth: QueryDef =
    QueryDef.sql("q235_vocab_growth",
      raw"""WITH m AS (
        |  SELECT doc_id,
        |    text || ' u' || doc_id || ' v' || (doc_id % 97) AS t2
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id,
        |    ${splitSql("t2")} AS t
        |  FROM m),
        |offs AS (
        |  SELECT doc_id, t, coalesce(sum(len(t)) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM toks),
        |pos AS (
        |  SELECT off, unnest(t) AS w,
        |         unnest(generate_series(1, len(t))) - 1 AS p
        |  FROM offs),
        |first AS (SELECT w, min(off + p) AS fp FROM pos GROUP BY w),
        |pb AS (SELECT fp // 500 AS bucket, count(*) AS new_types
        |       FROM first GROUP BY 1)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |       CAST(bucket * 500 AS BIGINT) AS bucket_start,
        |       CAST(new_types AS BIGINT) AS new_types,
        |       CAST(sum(new_types) OVER (ORDER BY bucket
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS cum_types
        |FROM pb""".stripMargin) {
      (s, d) =>
        graft.operators.Profiling.vocabGrowth(
          Tables.documents(s, d), "doc_id",
          concat(col("text"), lit(" u"), col("doc_id").cast("string"),
            lit(" v"), pmod(col("doc_id"), lit(97)).cast("string")),
          bucketTokens = 500L)
    }

  // ZIPF RANK-FREQUENCY FIT (Profiling.zipfFit): fixed-point log2
  // regression over the top-128 vocabulary — the same IntMath step
  // list runs as a lateral CTE chain here and inside the Spark plan,
  // the normal-equation sums are integer aggregates, and the slope
  // division truncates toward zero in both engines. All components
  // gated, not just the slope.
  private def q238ZipfFit: QueryDef =
    QueryDef.sql("q238_zipf_fit", {
      val (xSteps, xOut) = graft.functions.IntMath.duckSteps("rk", "1", "zx_")
      val (ySteps, yOut) = graft.functions.IntMath.duckSteps("f", "1", "zy_")
      val (ctes, last) = XxHash64Sql.chainCtes("r", xSteps ++ ySteps, "zc", per = 8)
      s"""WITH toks AS (
         |  SELECT unnest(${tokensSql("text")}) AS t
         |  FROM documents),
         |v AS (SELECT t AS w, CAST(count(*) AS BIGINT) AS f FROM toks
         |      GROUP BY t ORDER BY f DESC, w LIMIT 128),
         |r AS (SELECT w, f, CAST(row_number() OVER (ORDER BY f DESC, w) AS BIGINT) AS rk
         |      FROM v),
         |$ctes,
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
         |             CAST(sum($xOut) AS BIGINT) AS sum_x,
         |             CAST(sum($yOut) AS BIGINT) AS sum_y,
         |             CAST(sum($xOut * $xOut) AS BIGINT) AS sum_xx,
         |             CAST(sum($xOut * $yOut) AS BIGINT) AS sum_xy
         |      FROM $last)
         |SELECT *, CAST(n_points * sum_xy - sum_x * sum_y AS BIGINT) AS num,
         |       CAST(n_points * sum_xx - sum_x * sum_x AS BIGINT) AS den,
         |       CAST((1000 * (n_points * sum_xy - sum_x * sum_y)) //
         |            (n_points * sum_xx - sum_x * sum_x) AS BIGINT) AS slope_milli
         |FROM s""".stripMargin
    }) {
      (s, d) =>
        graft.operators.Profiling.zipfFit(Tables.documents(s, d), col("text"),
          topN = 128)
    }

  // URL DOMAIN BLOCKLIST (TextFunctions.domainBlocklist — the UT1
  // semantics: exact host OR subdomain-of, longest listed rule wins,
  // as an equi-join over the host's suffix chain). Hosts synthesized
  // q138-style with subdomain prefixes by doc residue; the blocklist
  // exercises exact match, subdomain match, a multi-label rule, and
  // the longest-wins tie (ads.src7… listed alongside src7…).
  private def q239DomainBlocklist: QueryDef =
    QueryDef.sql("q239_domain_blocklist",
      """WITH u AS (
        |  SELECT doc_id, 'http://' ||
        |    CASE WHEN doc_id % 7 = 0 THEN 'ads.'
        |         WHEN doc_id % 7 = 1 THEN 'www.'
        |         WHEN doc_id % 7 = 2 THEN 'cdn.static.' ELSE '' END ||
        |    source || '.example.com/p/' || doc_id AS url
        |  FROM documents),
        |h AS (SELECT doc_id,
        |        lower(nullif(regexp_extract(url,
        |          '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1), '')) AS host
        |      FROM u),
        |parts AS (SELECT doc_id, host, string_split(host, '.') AS p FROM h),
        |suff AS (SELECT doc_id,
        |           unnest(generate_series(1, len(p))) AS pos,
        |           unnest(list_transform(generate_series(1, len(p)),
        |                                 i -> array_to_string(p[i:], '.'))) AS s
        |         FROM parts),
        |bl(domain) AS (VALUES ('src3.example.com'), ('ads.src7.example.com'),
        |                      ('src7.example.com'),
        |                      ('cdn.static.src5.example.com'),
        |                      ('src11.example.com')),
        |hits AS (SELECT doc_id, min_by(s, pos) AS matched
        |         FROM suff JOIN bl ON s = domain GROUP BY doc_id)
        |SELECT h.doc_id, h.host, hits.matched IS NOT NULL AS blocked,
        |       hits.matched AS matched_domain
        |FROM h LEFT JOIN hits USING (doc_id)""".stripMargin) {
      (s, d) => {
        import s.implicits._
        val urls = Tables.documents(s, d).select(col("doc_id"),
          concat(lit("http://"),
            when(pmod(col("doc_id"), lit(7)) === 0, lit("ads."))
              .when(pmod(col("doc_id"), lit(7)) === 1, lit("www."))
              .when(pmod(col("doc_id"), lit(7)) === 2, lit("cdn.static."))
              .otherwise(lit("")),
            col("source"), lit(".example.com/p/"), col("doc_id")).as("url"))
        val bl = Seq("src3.example.com", "ads.src7.example.com",
          "src7.example.com", "cdn.static.src5.example.com",
          "src11.example.com").toDF("domain")
        graft.functions.TextFunctions.domainBlocklist(urls, "doc_id",
          col("url"), bl)
      }
    }

  // TOKEN ENTROPY PER SOURCE (Profiling.entropyBits): Shannon entropy
  // in fixed-point bits via H = log2 N − (Σ c·log2 c)/N — only logs
  // of COUNTS, every one the IntMath recurrence, final division
  // integer. The oracle runs the per-distinct-token recurrence as a
  // lateral CTE chain and the per-source log2 N as a second chain
  // over the aggregate frame.
  private def q241TokenEntropy: QueryDef =
    QueryDef.sql("q241_token_entropy", {
      val (cSteps, cOut) = graft.functions.IntMath.duckSteps("c", "1", "ec_")
      val (cCtes, cLast) = XxHash64Sql.chainCtes("census", cSteps, "ecc", per = 8)
      val (nSteps, nOut) = graft.functions.IntMath.duckSteps("n_rows", "1", "en_")
      val (nCtes, nLast) = XxHash64Sql.chainCtes("agg", nSteps, "enc", per = 8)
      s"""WITH toks AS (
         |  SELECT source, unnest(${tokensSql("text")}) AS t
         |  FROM documents),
         |census AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
         |           FROM toks GROUP BY 1, 2),
         |$cCtes,
         |agg AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_rows,
         |               CAST(count(*) AS BIGINT) AS n_keys,
         |               CAST(sum(c * $cOut) AS BIGINT) AS sl
         |        FROM $cLast GROUP BY source),
         |$nCtes
         |SELECT source, n_rows, n_keys,
         |       CAST($nOut - sl // n_rows AS BIGINT) AS h_1024ths
         |FROM $nLast""".stripMargin
    }) {
      (s, d) =>
        graft.operators.Profiling.entropyBits(
          Tables.documents(s, d).select(col("source"),
            explode(graft.functions.TextFunctions.tokens(col("text"))).as("t")),
          "source", col("t"))
          .select(col("group").as("source"), col("n_rows"), col("n_keys"),
            col("h_1024ths"))
    }

  val all: Seq[QueryDef] = Seq(

    QueryDef.sql("q24_exact_dedup",
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin) {
      (s, d) => Dedup.exact(Tables.documents(s, d), "doc_id", col("text"))
    },

    QueryDef.sql("q25_token_count",
      raw"""SELECT doc_id,
        |  ${tokenCountSql("text")} AS n_tokens,
        |  length(text) AS n_chars2
        |FROM documents""".stripMargin) {
      (s, d) =>
        Tables.documents(s, d).select(col("doc_id"),
          tokenCount(col("text")).as("n_tokens"),
          length(col("text")).cast("long").as("n_chars2"))
    },

    QueryDef.sql("q26_quality_score",
      raw"""SELECT doc_id,
        |  $qualityMilliSql AS quality_milli
        |FROM documents""".stripMargin) {
      (s, d) =>
        Tables.documents(s, d).select(col("doc_id"),
          qualityScoreMilli(col("text"), enStop).as("quality_milli"))
    },

    QueryDef.sql("q27_lang_id",
      s"""WITH $langIdPredCtes
         |SELECT doc_id, lang_pred FROM pred""".stripMargin) {
      (s, d) =>
        langIdRelational(Tables.documents(s, d), "doc_id", col("text"))
    },

    QueryDef.sql("q28_ngram_jaccard_pairs",
      trigramJaccardSql("documents WHERE doc_id < 80")) {
      (s, d) =>
        Dedup.ngramJaccardPairs(
          Tables.documents(s, d).filter(col("doc_id") < 80), "doc_id", col("text"))
    },

    // MinHash+LSH near-dup candidates, xxhash64 fast path — the oracle
    // rebuilds Spark's XXH64 bit-exact (XxHash64Sql), so even this is
    // hash-verified end-to-end.
    QueryDef.sql("q29_minhash_lsh", minhashXxOracleSql) {
      (s, d) =>
        Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", col("text"),
          bands = XxBands, rows = XxRows, minJaccardPpm = 0L)
          .orderBy(col("id_a"), col("id_b"))
    },

    // SimHash fingerprint + bucket (xxhash64-based, oracle-verified via
    // the same bit-exact XXH64 rebuild).
    QueryDef.sql("q30_simhash", simhashXxOracleSql) {
      (s, d) =>
        Dedup.simhashBuckets(Tables.documents(s, d).filter(col("doc_id") < 200),
          "doc_id", col("text"))
          .withColumn("simhash", col("simhash").cast("string"))
    },

    // md5-based MinHash+LSH twin: the full banding/bucket-join/verify
    // pipeline hash-verifies against the oracle (hex-string min ==
    // unsigned numeric min); xxhash64 (q29) stays the fast path.
    QueryDef.sql("q29b_minhash_lsh_md5", minhashMd5OracleSql) {
      (s, d) =>
        Dedup.minhashLshPairsMd5(Tables.documents(s, d).filter(col("doc_id") < 200),
          "doc_id", col("text"), bands = Md5Bands, rows = Md5Rows, minJaccardPpm = 0L)
    },

    // md5-based SimHash twin: per-token bit votes + sign fingerprint as
    // two int64 halves, reproduced bit-for-bit by the oracle.
    QueryDef.sql("q30b_simhash_md5", simhashMd5OracleSql) {
      (s, d) =>
        Dedup.simhashMd5(Tables.documents(s, d).filter(col("doc_id") < 200),
          "doc_id", col("text"))
    },

    // Vocabulary building (tokenizer prep): term frequency + document
    // frequency per token, top-100 by tf — explode + one hash agg (the
    // single distinct group rewrites to a two-stage agg, no Expand) +
    // TakeOrdered. The 100-TB shape for BPE/vocab corpus passes.
    QueryDef.sql("q45_vocab_topk",
      raw"""WITH toks AS (
        |  SELECT doc_id, unnest(${tokensSql("text")}) AS token
        |  FROM documents)
        |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM toks GROUP BY token
        |ORDER BY tf DESC, token LIMIT 100""".stripMargin) {
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
          .orderBy(col("tf").desc, col("token")).limit(100)
    },

    // Repetition-based quality signals (Gopher-style filters):
    // duplicate-token fraction (1 - distinct/total) and most-frequent-
    // token fraction, per doc — one explode + two hash aggregates, all
    // partial-aggregating. Docs with no tokens have no repetition
    // signal and drop out (both engines).
    QueryDef.sql("q47_repetition",
      raw"""WITH toks AS (
        |  SELECT doc_id, unnest(${tokensSql("text")}) AS token
        |  FROM documents),
        |cnt AS (SELECT doc_id, token, count(*) AS c FROM toks GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |       CAST(round((1 - count(*) * 1.0 / sum(c)) * 1000) AS BIGINT) AS dup_frac_milli,
        |       CAST(round(max(c) * 1000.0 / sum(c)) AS BIGINT) AS top_frac_milli
        |FROM cnt GROUP BY doc_id""".stripMargin) {
      (s, d) => {
        val cnt = Tables.documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
        cnt.groupBy("doc_id")
          .agg(sum("c").as("n_tokens"),
            round((lit(1) - count(lit(1)) * lit(1.0) / sum("c")) * 1000).cast("long")
              .as("dup_frac_milli"),
            round(max("c") * 1000.0 / sum("c")).cast("long").as("top_frac_milli"))
      }
    },

    // Deterministic train/val split by id hash — the standard leakage-
    // safe dataset partitioner (stable across runs and cluster sizes,
    // unlike random splits). Oracle-verified via the bit-exact XXH64
    // long path.
    QueryDef.sql("q46_hash_split", {
      import XxHash64Sql._
      val (steps, h) = hashLongSteps(s2u("doc_id"), "42", "HS")
      val (ctes, last) = chainCtes("documents", steps, "hsc")
      s"""WITH $ctes
         |SELECT doc_id, ((${u2s(h)} % 100) + 100) % 100 AS bucket,
         |       CASE WHEN ((${u2s(h)} % 100) + 100) % 100 < 90 THEN 'train' ELSE 'val' END AS split
         |FROM $last""".stripMargin
    }) {
      (s, d) =>
        Tables.documents(s, d).select(col("doc_id"),
          pmod(xxhash64(col("doc_id")), lit(100)).as("bucket"),
          when(pmod(xxhash64(col("doc_id")), lit(100)) < 90, "train")
            .otherwise("val").as("split"))
    },

    QueryDef.sql("q39_normalized_dedup",
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
        |       min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin) {
      (s, d) => Dedup.normalized(Tables.documents(s, d), "doc_id", col("text"))
    },

    QueryDef.sql("q40_mean_token_len",
      raw"""SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE CAST(round(list_sum(list_transform(
        |              ${splitSql("text")}, x -> length(x)))
        |              * 1000.0 / len(${splitSql("text")})) AS BIGINT)
        |  END AS mean_len_milli
        |FROM documents""".stripMargin) {
      (s, d) =>
        Tables.documents(s, d).select(col("doc_id"),
          meanTokenLenMilli(col("text")).as("mean_len_milli"))
    },

    // BPE-ish subword counting as a match count (letter/digit runs +
    // single punctuation marks) — Java regex and the oracle's RE2 agree
    // on these classes, so the count hash-verifies.
    QueryDef.sql("q41_subword_count",
      """SELECT doc_id,
        |       len(regexp_extract_all(text, '[\p{L}\p{N}]+|[^\p{L}\p{N}\s]')) AS n_subwords
        |FROM documents""".stripMargin) {
      (s, d) =>
        Tables.documents(s, d).select(col("doc_id"),
          subwordCount(col("text")).as("n_subwords"))
    },

    QueryDef.sql("q31_fingerprint64",
      """SELECT doc_id,
        |       CAST(md5(text)[1:16] AS VARCHAR) AS fp_hex,
        |       CAST(CAST(('0x' || md5(text)[1:16]) AS UBIGINT) AS VARCHAR) AS fp_u64
        |FROM documents""".stripMargin) {
      (s, d) =>
        Tables.documents(s, d).select(col("doc_id"),
          substring(md5(col("text")), 1, 16).as("fp_hex"),
          fingerprint64(col("text")).cast("string").as("fp_u64"))
    },

    QueryDef.sql("q32_multimodal_meta",
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |       CAST(length(text) % 64 * 16 AS INTEGER) AS width,
        |       CAST(length(text) % 48 * 16 AS INTEGER) AS height
        |FROM documents""".stripMargin) {
      (s, d) => {
        val blobs = Multimodal.packBlobs(Tables.documents(s, d))
        blobs.select(col("doc_id"),
          length(col("blob")).cast("long").as("n_bytes"),
          col("meta.width").as("width"), col("meta.height").as("height"))
      }
    },

    // REAL IMAGE HEADER DECODE: every doc becomes a valid PNG (even
    // ids) or JPEG (odd ids) container — the JPEG carries a variable-
    // length comment segment so the SOF offset differs per row — and
    // the engine's decodeImageHeader parses dimensions/channels/depth
    // by pure byte arithmetic (PNG IHDR; JPEG marker-stream scan). The
    // oracle rebuilds the identical bytes in hex-string space and
    // re-parses them independently: it reads the COM segment's length
    // field to locate the SOF, so both sides genuinely decode.
    QueryDef.sql("q199_image_header",
      s"""WITH b AS (
         |  SELECT doc_id, $imageBlobHexSql AS h FROM documents),
         |p AS (
         |  SELECT doc_id, h,
         |         CASE WHEN substr(h, 1, 16) = '89504E470D0A1A0A'
         |              THEN -1
         |              ELSE 22 + CAST(('0x' || substr(h, 45, 4)) AS BIGINT)
         |         END AS sof
         |  FROM b)
         |SELECT doc_id,
         |  CASE WHEN sof = -1 THEN 'image/png' ELSE 'image/jpeg' END AS mime,
         |  CAST(CASE WHEN sof = -1 THEN ('0x' || substr(h, 33, 8))::BIGINT
         |       ELSE ('0x' || substr(h, 2*(sof+7)+1, 4))::BIGINT END AS INTEGER)
         |    AS width,
         |  CAST(CASE WHEN sof = -1 THEN ('0x' || substr(h, 41, 8))::BIGINT
         |       ELSE ('0x' || substr(h, 2*(sof+5)+1, 4))::BIGINT END AS INTEGER)
         |    AS height,
         |  CAST(CASE WHEN sof = -1 THEN
         |         CASE substr(h, 51, 2) WHEN '00' THEN 1 WHEN '02' THEN 3
         |              WHEN '03' THEN 1 WHEN '04' THEN 2 WHEN '06' THEN 4
         |              ELSE 0 END
         |       ELSE ('0x' || substr(h, 2*(sof+9)+1, 2))::BIGINT END AS INTEGER)
         |    AS channels,
         |  CAST(CASE WHEN sof = -1 THEN ('0x' || substr(h, 49, 2))::BIGINT
         |       ELSE ('0x' || substr(h, 2*(sof+4)+1, 2))::BIGINT END AS INTEGER)
         |    AS bit_depth,
         |  CAST(length(h) // 2 AS BIGINT) AS n_bytes
         |FROM p""".stripMargin) {
      (s, d) =>
        Multimodal.extractFeatures(Multimodal.packImageBlobs(Tables.documents(s, d)))
          .select(col("doc_id"), col("mime"), col("width"), col("height"),
            col("channels"), col("bit_depth"), col("n_bytes"))
    },

    // Batched binary feature extraction (mapPartitions) over the REAL
    // image containers of q199: header fields from the engine's byte-
    // arithmetic decode, pixel feature from the deterministic byte fold
    // (double-accumulated in index order, narrowed to float once) —
    // the oracle reproduces both from the blob's hex bytes.
    QueryDef.sql("q33_multimodal_features",
      s"""WITH b AS (
         |  SELECT doc_id, $imageBlobHexSql AS h FROM documents)
         |SELECT doc_id,
         |       CAST(length(h) // 2 AS BIGINT) AS n_bytes,
         |       CASE WHEN substr(h, 1, 16) = '89504E470D0A1A0A'
         |            THEN 'image/png' ELSE 'image/jpeg' END AS mime,
         |       CAST(round(CAST(coalesce(list_sum(list_transform(
         |             generate_series(0, CAST(length(h) // 2 AS INTEGER) - 1, 8),
         |             i -> CAST(('0x' || substr(h, 2*i + 1, 2)) AS BIGINT) / 255.0)), 0.0)
         |           AS FLOAT) * 1000) AS BIGINT) AS f0_milli
         |FROM b""".stripMargin) {
      (s, d) =>
        Multimodal.extractFeatures(Multimodal.packImageBlobs(Tables.documents(s, d)))
          .select(col("doc_id"), col("n_bytes"), col("mime"),
            round(element_at(col("feature"), 1) * 1000).cast("long").as("f0_milli"))
    },

    // Benchmark decontamination: flag training docs sharing 3-gram
    // shingles with the (deterministic) benchmark subset. One explode +
    // broadcast join + one hash agg — the corpus side never shuffles
    // until the per-doc aggregate.
    QueryDef.sql("q48_decontamination",
      raw"""WITH toks AS (
        |  SELECT doc_id, ${tokensSql("text")} AS t
        |  FROM documents WHERE doc_id % 50 != 0),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(${trigramsSql("t")}) AS g
        |  FROM toks),
        |btoks AS (
        |  SELECT doc_id, ${tokensSql("text")} AS t
        |  FROM documents WHERE doc_id % 50 = 0),
        |bsh AS (
        |  SELECT DISTINCT
        |         unnest(${trigramsSql("t")}) AS g
        |  FROM btoks)
        |SELECT s.doc_id, count(*) AS n_sh,
        |       CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |       CAST(round(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) * 1000.0
        |            / count(*)) AS BIGINT) AS hit_frac_milli
        |FROM sh s LEFT JOIN bsh b ON s.g = b.g
        |GROUP BY 1""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.ngramContamination(
          docs.filter(col("doc_id") % 50 =!= 0), "doc_id", col("text"),
          docs.filter(col("doc_id") % 50 === 0), col("text"))
      }
    },

    // PII scrub: email/phone counts + md5 of the redacted text. The
    // pattern strings are shared constants (TextFunctions.EmailPattern/
    // PhonePattern), written in the Java-regex ∩ RE2 subset so both
    // engines evaluate them identically; the corpus here is PII-free,
    // so the hash also proves the scrub passes clean text through
    // untouched (positive-match semantics are spec-covered).
    QueryDef.sql("q49_pii_scrub", {
      import graft.functions.TextFunctions.{EmailPattern, PhonePattern}
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$EmailPattern')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$PhonePattern')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(text, '$EmailPattern', '<EMAIL>', 'g'),
         |      '$PhonePattern', '<PHONE>', 'g')) AS redacted_hash
         |FROM documents""".stripMargin
    }) {
      (s, d) =>
        Tables.documents(s, d).select(col("doc_id"),
          emailCount(col("text")).as("n_emails"),
          phoneCount(col("text")).as("n_phones"),
          md5(redactPii(col("text"))).as("redacted_hash"))
    },

    // Sequence packing for pre-training batches: docs pack into
    // 2048-token sequences within 8 hash shards (xxhash64 shard is
    // bit-exact in the oracle via the q46 long path). The only shuffle
    // is the shard-partitioned window — no unpartitioned window.
    QueryDef.sql("q50_pack_sequences", {
      import XxHash64Sql._
      val (steps, h) = hashLongSteps(s2u("doc_id"), "42", "PS")
      val (ctes, last) = chainCtes("documents", steps, "psc")
      s"""WITH $ctes,
         |t AS (
         |  SELECT doc_id,
         |         ${tokenCountSql("text")} AS n_tokens,
         |         ((${u2s(h)} % 8) + 8) % 8 AS shard
         |  FROM $last)
         |SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
         |            - n_tokens) / 2048.0) AS BIGINT) AS seq_index
         |FROM t""".stripMargin
    }) {
      (s, d) =>
        graft.operators.Packing.packSequences(Tables.documents(s, d), "doc_id", col("text"))
    },

    // Deterministic stratified sampling: cap each source at 10 docs,
    // chosen by md5(doc_id) order — the data-mixing/rebalancing pass
    // (down-weight over-represented sources). Two-phase windows
    // (shard-local prune, then final rank over the survivors) so a
    // billion-row source never streams through one task; the oracle
    // states the equivalent single-window semantics.
    QueryDef.sql("q53_stratified_sample",
      """WITH r AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source, rk AS sample_rank
        |FROM r WHERE rk <= 10""".stripMargin) {
      (s, d) =>
        graft.operators.Sampling.stratifiedByHash(
          Tables.documents(s, d), "doc_id", "source", n = 10)
    },

    // Overlapping fixed-token chunking (64-token windows, stride 48 —
    // the RAG/embedding-window pass). Pure per-row explode, no
    // shuffle; chunk content verified via md5 of the joined tokens.
    QueryDef.sql("q54_chunking",
      raw"""WITH toks AS (
        |  SELECT doc_id, ${tokensSql("text")} AS t
        |  FROM documents),
        |nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
        |st AS (SELECT doc_id, t, n,
        |              unnest(generate_series(0, n - 1, 48)) AS start_token
        |       FROM nz),
        |ch AS (SELECT doc_id, start_token // 48 AS chunk_index, start_token,
        |              list_slice(t, start_token + 1, least(start_token + 64, n)) AS c
        |       FROM st)
        |SELECT doc_id, CAST(chunk_index AS BIGINT) AS chunk_index,
        |       CAST(start_token AS BIGINT) AS start_token,
        |       CAST(len(c) AS BIGINT) AS n_chunk_tokens,
        |       md5(array_to_string(c, ' ')) AS chunk_hash
        |FROM ch""".stripMargin) {
      (s, d) =>
        graft.operators.Packing.chunkDocuments(Tables.documents(s, d), "doc_id", col("text"))
    },

    // Unicode NFC normalization (the pre-hash canonicalization pass):
    // composed vs decomposed accents hash identically after it. The
    // corpus is ASCII (trivially NFC) so the gate proves passthrough
    // parity; positive-case parity is covered by nfccheck.py and the
    // spec.
    QueryDef.sql("q56_nfc_normalize",
      """SELECT doc_id, text = nfc_normalize(text) AS was_normalized,
        |       md5(nfc_normalize(text)) AS norm_hash
        |FROM documents""".stripMargin) {
      (s, d) =>
        Tables.documents(s, d).select(col("doc_id"),
          (col("text") === graft.plans.NfcNormalize.nfc_normalize(col("text")))
            .as("was_normalized"),
          md5(graft.plans.NfcNormalize.nfc_normalize(col("text"))).as("norm_hash"))
    },

    // The COMPOSED curation pipeline, end to end: NFC -> PII scrub ->
    // quality floor -> exact dedup -> MinHash-LSH near-dedup (pairs ->
    // connected components -> keep cluster min) -> benchmark
    // decontamination -> deterministic hash split. Every stage is
    // individually oracle-verified (q56/q49/q26/q24/q29/q55/q48/q46);
    // this entry verifies the COMPOSITION — stage order, the text each
    // stage actually sees (scrubbed-normalized, not raw), and the
    // surviving id set — against one DuckDB CTE chain built from the
    // same per-stage oracle fragments. Corpus = doc_id % 50 != 0,
    // benchmark = doc_id % 50 = 0 (q48's split).
    QueryDef.sql("q65_curation_pipeline", {
      val (chain, last, h) = curationOracleParts
      s"""WITH $chain
         |SELECT doc_id, md5(text) AS text_hash, quality_milli,
         |       CASE WHEN ((${XxHash64Sql.u2s(h)} % 100) + 100) % 100 < 90
         |            THEN 'train' ELSE 'val' END AS split
         |FROM $last""".stripMargin
    }) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.operators.CurationPipeline.curate(
            docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
            benchmark = Some(docs.filter(col("doc_id") % 50 === 0)))
          .select(col("doc_id"), md5(col("text")).as("text_hash"),
            col("quality_milli"), col("split"))
      }
    },

    // DROP-REASON AUDIT of the composed pipeline: every input doc
    // attributed to the stage that removed it, or its kept split — the
    // operational "why did my document disappear" table, sharing the
    // q65 oracle chain verbatim so audit and pipeline can never drift.
    QueryDef.sql("q189_curation_audit", {
      val (chain, last, h) = curationOracleParts
      s"""WITH $chain
         |SELECT doc_id, 'quality' AS stage FROM qual WHERE quality_milli < 400
         |UNION ALL
         |SELECT doc_id, 'exact_dup' FROM scored
         |WHERE doc_id NOT IN (SELECT doc_id FROM keepers)
         |UNION ALL
         |SELECT doc_id, 'near_dup' FROM losers
         |UNION ALL
         |SELECT doc_id, 'contaminated' FROM contaminated
         |UNION ALL
         |SELECT doc_id,
         |       CASE WHEN ((${XxHash64Sql.u2s(h)} % 100) + 100) % 100 < 90
         |            THEN 'kept_train' ELSE 'kept_val' END AS stage
         |FROM $last""".stripMargin
    }) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.operators.CurationPipeline.curateAudit(
          docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
          benchmark = Some(docs.filter(col("doc_id") % 50 === 0)))
      }
    },

    // C4/RefinedWeb-style boilerplate segment removal: any segment
    // occurring >= 2 times corpus-wide is dropped from every document,
    // survivors reassembled in order. The corpus is single-line, so
    // the gate segments on a frequent literal token ('table') instead
    // of '\n' — the operator is separator-agnostic and the semantics
    // (corpus-wide census, broadcast hot set, ordered reassembly,
    // empty-survivor docs) are exactly the newline case. At sf0.01
    // this drops 189 of 1408 segment instances and empties 2 docs.
    QueryDef.sql("q67_line_dedup",
      """WITH t AS (SELECT doc_id, string_split(text, 'table') AS l FROM documents),
        |idx AS (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS ord FROM t),
        |lines AS (SELECT doc_id, ord, l[ord] AS line FROM idx),
        |hot AS (SELECT line FROM lines GROUP BY 1 HAVING count(*) >= 2),
        |kept AS (SELECT doc_id, ord, line FROM lines
        |         WHERE line NOT IN (SELECT line FROM hot)),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |               string_agg(line, 'table' ORDER BY ord) AS clean_text
        |        FROM kept GROUP BY 1)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin) {
      (s, d) =>
        Dedup.lineDedup(Tables.documents(s, d), "doc_id", col("text"),
          minOccurrences = 2, sep = "table")
    },

    // Deterministic training-order shuffle: md5-derived shard + within-
    // shard sequence — the reproducible global permutation a training
    // run reads shards in.
    QueryDef.sql("q68_shuffle_order",
      """WITH r AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |         CAST(('0x' || md5(CAST(doc_id AS VARCHAR))[1:2]) AS INTEGER) % 8 AS shard
        |  FROM documents)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS seq
        |FROM r""".stripMargin) {
      (s, d) =>
        graft.operators.Sampling.shuffleOrder(Tables.documents(s, d), "doc_id")
    },

    // Token-budget source mixing: each source contributes docs in
    // deterministic md5 order until a 400-token budget is exhausted —
    // per-source mixture weights turned into an actual reproducible
    // subset (~half of each source's ~750 tokens at sf0.01).
    QueryDef.sql("q69_mix_by_budget",
      raw"""WITH t AS (
        |  SELECT doc_id, source,
        |         ${tokenCountSql("text")} AS n_tokens,
        |         md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |             sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |      FROM t)
        |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c WHERE cum_tokens <= 400""".stripMargin) {
      (s, d) =>
        graft.operators.Sampling.mixByBudget(Tables.documents(s, d),
          "doc_id", col("text"), "source", budgetTokens = 400L)
    },

    // C4-style INTRA-document repetition removal: first occurrence of
    // each segment kept, later repeats dropped, survivors reassembled
    // in order — no cross-document state (contrast q67's corpus-wide
    // census). Same 'table' separator trick as q67 (the corpus is
    // single-line).
    QueryDef.sql("q75_intradoc_dedup",
      """WITH t AS (SELECT doc_id, string_split(text, 'table') AS l FROM documents),
        |idx AS (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS ord FROM t),
        |lines AS (SELECT doc_id, ord, l[ord] AS line FROM idx),
        |firsts AS (SELECT doc_id, line, min(ord) AS ord FROM lines GROUP BY 1, 2)
        |SELECT doc_id, string_agg(line, 'table' ORDER BY ord) AS clean_text,
        |       CAST(count(*) AS BIGINT) AS n_kept
        |FROM firsts GROUP BY 1""".stripMargin) {
      (s, d) =>
        Dedup.intraDocLineDedup(Tables.documents(s, d), "doc_id", col("text"),
          sep = "table")
    },

    // Per-source quality PERCENTILE rank (FineWeb-style domain-balanced
    // filtering): an absolute quality floor biases against whole
    // domains whose style scores low; ranking WITHIN source and
    // cutting at a per-source percentile keeps the best X% of every
    // source. percent_rank ties break on doc_id so the milli-rank is
    // engine-deterministic. One shuffle (by source); skew bound = the
    // largest single source, same documented posture as shuffleOrder.
    QueryDef.sql("q83_per_source_quality_rank",
      raw"""WITH q AS (SELECT doc_id, source,
        |  $qualityMilliSql AS quality_milli
        |  FROM documents)
        |SELECT doc_id, source, quality_milli,
        |       CAST(round(percent_rank() OVER (
        |         PARTITION BY source ORDER BY quality_milli, doc_id) * 1000) AS BIGINT)
        |         AS pr_milli
        |FROM q""".stripMargin) {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            qualityScoreMilli(col("text"), enStop).as("quality_milli"))
          .withColumn("pr_milli",
            round(percent_rank().over(
              Window.partitionBy("source").orderBy("quality_milli", "doc_id")) * 1000)
              .cast("long"))
      }
    },

    // The data-mixture report (dataset card): per source — docs,
    // total tokens, exact median tokens-per-doc, mean quality in
    // milli (exact integer div, positive operands). ONE grouped
    // aggregate; at 100 TB this is the report every training run
    // starts from. Median via floor((n+1)/2)-th order statistic so
    // both engines pick the same element (percentile_disc semantics
    // restated rank-exactly).
    QueryDef.sql("q84_mixture_report",
      raw"""WITH t AS (SELECT doc_id, source,
        |    ${tokenCountSql("text")} AS n_tokens,
        |    $qualityMilliSql AS quality_milli
        |  FROM documents),
        |r AS (SELECT source, n_tokens, quality_milli,
        |             row_number() OVER (PARTITION BY source
        |                                ORDER BY n_tokens, quality_milli) AS rn,
        |             count(*) OVER (PARTITION BY source) AS n
        |      FROM t)
        |SELECT source,
        |       CAST(max(n) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN n_tokens END) AS BIGINT)
        |         AS median_tokens,
        |       CAST(sum(quality_milli) // count(*) AS BIGINT) AS mean_quality_milli
        |FROM r GROUP BY source""".stripMargin) {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val t = Tables.documents(s, d)
          .select(col("source"),
            tokenCount(col("text")).as("n_tokens"),
            qualityScoreMilli(col("text"), enStop).as("quality_milli"))
        val w = Window.partitionBy("source").orderBy("n_tokens", "quality_milli")
        t.withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
          .groupBy("source")
          .agg(
            max("n").cast("long").as("n_docs"),
            sum("n_tokens").cast("long").as("total_tokens"),
            max(when(col("rn") === expr("(n + 1) div 2"), col("n_tokens")))
              .cast("long").as("median_tokens"),
            expr("sum(quality_milli) div count(1)").as("mean_quality_milli"))
      }
    },

    // INCREMENTAL exact dedup — the daily-snapshot pattern: keep only
    // incoming docs whose content hash is absent from the existing
    // (already-curated) corpus. Existing = even ids, incoming = the
    // whole table, so exactly the odd-id docs survive (every even
    // incoming doc matches its own content in existing) — a real
    // 50% drop through the hash anti-join.
    // NOT EXISTS (not NOT IN): equality never matches a NULL hash, so
    // a null-text incoming doc is KEPT — exactly Spark's left_anti
    // semantics; NOT IN would silently drop it on the oracle side.
    QueryDef.sql("q81_incremental_exact",
      """SELECT d.doc_id, d.source FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM documents e
        |                  WHERE e.doc_id % 2 = 0 AND md5(e.text) = md5(d.text))""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.incrementalExact(docs.select("doc_id", "source", "text"),
            docs.filter(col("doc_id") % 2 === 0), "doc_id", col("text"))
          .select("doc_id", "source")
      }
    },

    // INCREMENTAL near-dup — incoming (doc_id < 100) LSH-banded
    // AGAINST the existing corpus (100 <= doc_id < 300), md5 twin so
    // the whole cross-corpus pipeline (shared seeded hash family,
    // cross-only candidate join, joint hot-bucket census, Jaccard
    // verify) replicates on the oracle engine. xxhash64 fast path =
    // Dedup.minhashLshPairsAcross (spec-covered).
    QueryDef.sql("q82_incremental_neardup", minhashMd5AcrossOracleSql) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.minhashLshPairsAcrossMd5(
          docs.filter(col("doc_id") < 100),
          docs.filter(col("doc_id") >= 100 && col("doc_id") < 300),
          "doc_id", col("text"),
          bands = Md5Bands, rows = Md5Rows, minJaccardPpm = 0L)
      }
    },

    // Sketches, hash-gated through their ACCURACY CONTRACT: the HLL++
    // estimate itself differs by engine, but it is DETERMINISTIC for
    // fixed data (register maxima are order-independent), so
    // |approx - exact| <= 5%·exact is a stable boolean both engines
    // agree on — the oracle asserts the exact count and `true`. The
    // subject is n-gram shingle cardinality, the number that sizes
    // dedup/LSH memory at 100 TB (where the exact count-distinct
    // needs a corpus-wide shuffle and the HLL needs one small-state
    // partial agg). Measured HLL error at rsd=0.01: under 1% on all
    // three SFs — the 5% gate bound is a wide margin, not a coin flip.
    QueryDef.sql("q79_hll_shingles",
      raw"""WITH t AS (SELECT ${tokensSql("text")} AS tk
        |           FROM documents),
        |sh AS (SELECT DISTINCT
        |         unnest(CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
        |                WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |                ELSE list_transform(generate_series(1, len(tk) - 2),
        |                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END) AS g
        |       FROM t)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact, true AS hll_ok FROM sh""".stripMargin) {
      (s, d) =>
        Tables.documents(s, d)
          .select(explode(Dedup.shingles(col("text"), 3)).as("g"))
          .agg(
            countDistinct(col("g")).cast("long").as("n_exact"),
            (abs(approx_count_distinct(col("g"), 0.01) - countDistinct(col("g")))
              <= countDistinct(col("g")) * 0.05).as("hll_ok"))
    },

    // Approximate median via the same contract: approx_percentile's
    // GK summary guarantees rank error <= N/accuracy, so with
    // accuracy=10000 the returned value must lie between the exact
    // 45th and 55th percentiles (monotonicity) — a deterministic
    // boolean. At 100 TB the exact-percentile form (q42) costs a full
    // sort; the sketch is one bounded-state partial aggregate.
    QueryDef.sql("q80_approx_median_contract",
      raw"""WITH t AS (SELECT ${tokenCountSql("text")} AS v
        |           FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs, true AS p50_ok FROM t""".stripMargin) {
      (s, d) =>
        Tables.documents(s, d)
          .select(tokenCount(col("text")).as("v"))
          .agg(
            count(lit(1)).cast("long").as("n_docs"),
            expr("approx_percentile(v, 0.5, 10000)")
              .between(expr("percentile(v, 0.45)"), expr("percentile(v, 0.55)"))
              .as("p50_ok"))
    },

    // FUZZY KEY MATCH (blocked edit distance): near-identical document
    // prefixes found by blocking on a cheap key (first token) and
    // verifying candidates with levenshtein — the record-linkage /
    // fuzzy-dedup shape for titles, URLs, author strings. The blocking
    // join is the scale story: the quadratic edit-distance DP runs
    // only WITHIN blocks (same partitioning as any equi-join, skew
    // bounded by block size), never as a cross join — the same
    // block-then-verify discipline as the LSH pipelines (q29/q36),
    // with levenshtein as the verifier instead of Jaccard/cosine.
    // Both engines implement the same unit-cost DP, so distances are
    // integers and hash-exact.
    QueryDef.sql("q110_fuzzy_match",
      """WITH k AS (SELECT doc_id, split_part(text, ' ', 1) AS blk,
        |                  substr(text, 1, 30) AS key FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist
        |FROM k a JOIN k b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.key, b.key) <= 8""".stripMargin) {
      (s, d) => {
        val k = Tables.documents(s, d)
          .select(col("doc_id"), split_part(col("text"), lit(" "), lit(1)).as("blk"),
            substring(col("text"), 1, 30).as("key"))
        k.select(col("doc_id").as("id_a"), col("blk"), col("key").as("key_a"))
          .join(k.select(col("doc_id").as("id_b"), col("blk"), col("key").as("key_b")),
            Seq("blk"))
          .filter(col("id_a") < col("id_b") &&
            levenshtein(col("key_a"), col("key_b")) <= 8)
          .select(col("id_a"), col("id_b"),
            levenshtein(col("key_a"), col("key_b")).cast("long").as("dist"))
      }
    },

    // BM25 TOP-K RETRIEVAL (Okapi k1=1.2 b=0.75, integer-exact): the
    // lexical-retrieval path for targeted corpus slicing. Floating BM25
    // is not hash-portable (libm ln ULPs + order-dependent double
    // sums), so the operator clears all denominators with k1=6/5,
    // b=3/4 rationals, uses the log-free Robertson–Spärck-Jones odds
    // idf, and quantizes each TERM's score to milli-units via integer
    // division BEFORE the per-doc sum — integer adds commute, so any
    // partitioning hashes identically. One corpus explode into a
    // (doc, term) count agg feeds everything: dl/Σdl derive from its
    // per-doc sums, tf/df from its (tiny) query-term subset; df and
    // the one-row corpus stats broadcast; top-k is TakeOrdered.
    QueryDef.sql("q111_bm25_topk",
      raw"""WITH $bm25TermCtes
        |SELECT doc_id, CAST(sum(s_milli) AS BIGINT) AS bm25_milli
        |FROM ts GROUP BY doc_id
        |ORDER BY bm25_milli DESC, doc_id LIMIT 10""".stripMargin) {
      (s, d) =>
        Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", col("text"),
          Seq("spark", "merge", "vector"), 10)
    },

    // DUPLICATED-SPAN DETECTION (exact-substring dedup, Lee et al.):
    // maximal token intervals covered by any 8-gram occurring >= 2
    // times corpus-wide — the templated-paragraph duplication that
    // document- and line-level dedup both miss. The operator is the
    // relational stand-in for the paper's suffix array: positioned
    // k-gram explode, 64-bit-hash census (8-byte shuffle keys), shuffle
    // semi-join mark (AQE broadcasts the dup set only when measured
    // small), then a gaps-and-islands interval merge in two
    // doc-partitioned windows sharing one exchange. The oracle censuses
    // the gram STRINGS — agreement additionally witnesses that xxhash64
    // produced no collision on this corpus.
    QueryDef.sql("q112_dup_spans",
      raw"""WITH ${dupSpanCtes("documents")}
        |SELECT doc_id, CAST(min(start_pos) AS BIGINT) AS span_start,
        |       CAST(max(end_pos) AS BIGINT) AS span_end,
        |       CAST(max(end_pos) - min(start_pos) + 1 AS BIGINT) AS span_tokens
        |FROM islands GROUP BY doc_id, island""".stripMargin) {
      (s, d) =>
        Dedup.duplicateSpans(Tables.documents(s, d), "doc_id", col("text"), k = 8)
    },

    // DETERMINISTIC WEIGHTED (importance) SAMPLING: keep each doc with
    // probability min(1, k·w/Σw), w = n_chars, expected size k=50 —
    // and make the coin reproducible AND engine-exact by comparing
    // pmod(xxhash64(doc_id), 10^6) against the threshold
    // cross-multiplied into integers (u·Σw < w·k·10^6): no float
    // division on either engine. Σw is ONE aggregate rolled into a
    // broadcast row (single-pass scalar rule); the filter itself is
    // map-side stateless — the cheapest possible sampling plan (zero
    // corpus shuffle). Oracle rebuilds the exact XXH64 long path.
    QueryDef.sql("q113_weighted_sample", {
      import XxHash64Sql._
      val (steps, h) = hashLongSteps(s2u("doc_id"), "42", "WS")
      val (ctes, last) = chainCtes("documents", steps, "wsc")
      s"""WITH $ctes,
         |base AS (SELECT doc_id, n_chars AS weight,
         |                ((${u2s(h)} % 1000000) + 1000000) % 1000000 AS u
         |         FROM $last),
         |t AS (SELECT sum(weight) AS sumw FROM base)
         |SELECT doc_id, CAST(weight AS BIGINT) AS weight, CAST(u AS BIGINT) AS u
         |FROM base CROSS JOIN t
         |WHERE u * sumw < weight * 50 * 1000000""".stripMargin
    }) {
      (s, d) =>
        Sampling.weightedByHash(Tables.documents(s, d), "doc_id",
          col("n_chars"), expectedK = 50)
    },

    // ORDER-INDEPENDENT TABLE CHECKSUM: xxhash64(doc_id, lang) per row
    // (the seed-chained multi-column path: the long hash of doc_id
    // seeds the byte hash of lang), summed EXACTLY in decimal(38,0) —
    // integer addition commutes, so any partitioning/order gives the
    // same value — folded to a BIGINT mod 2^63−1. The cross-snapshot
    // "did anything change" primitive: one scan, map-side-combinable
    // sum, no sort, no row diff. The oracle rebuilds the full chained
    // XXH64 (long path seeding the byte path) and sums in HUGEINT.
    QueryDef.sql("q119_table_checksum", {
      import XxHash64Sql._
      val (steps, h) = hashLongSteps(s2u("doc_id"), "42", "CK")
      val (ctes, last) = chainCtes("documents", steps, "ckc")
      val p = "9223372036854775807"
      s"""WITH $ctes,
         |${hashBytesCtes(last, "lang", h)}
         |SELECT count(*) AS n_rows,
         |       CAST(((sum(CAST(${u2s("xxh")} AS HUGEINT)) % $p) + $p) % $p
         |            AS BIGINT) AS checksum
         |FROM hb""".stripMargin
    }) {
      (s, d) =>
        graft.operators.Integrity.tableChecksum(Tables.documents(s, d),
          Seq(col("doc_id"), col("lang")))
    },

    // BIGRAM-LM SURPRISAL (CCNet-style perplexity filtering, the LM
    // quality signal the heuristic scores q26/q47 can't express):
    // train an add-one-smoothed bigram model ON the corpus, score
    // every doc by total/average surprisal. EXACT integer end to end —
    // per-bigram −log2 P quantized to whole bits via the
    // length(bin(x))−1 floor-log2 and an integer shift compare (both
    // engine-portable), summed as integers: bit-identical on any
    // partitioning. ONE explode of the text (per-doc bigram counts,
    // map-side combinable, persisted); model tables c12/c1/V all
    // derive from that projection — no second scan of the corpus.
    QueryDef.sql("q126_lm_surprisal",
      raw"""WITH arr AS (
        |  SELECT doc_id, ${tokensSql("text")} AS a
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, unnest(a[1:len(a)-1]) AS w1, unnest(a[2:len(a)]) AS w2
        |  FROM arr WHERE len(a) >= 2),
        |bc AS (SELECT doc_id, w1, w2, count(*) AS c FROM bi GROUP BY 1, 2, 3),
        |c12 AS (SELECT w1, w2, CAST(sum(c) AS BIGINT) AS c12 FROM bc GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1 FROM bc GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM c1),
        |sc AS (
        |  SELECT bc.doc_id, bc.c,
        |         (length(bin(c1.c1 + v.v)) - length(bin(c12.c12 + 1))) AS k0,
        |         (c1.c1 + v.v) AS a, (c12.c12 + 1) AS b
        |  FROM bc JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
        |bits AS (
        |  SELECT doc_id, c,
        |         CASE WHEN a >= (b << k0) THEN k0 ELSE k0 - 1 END AS bits
        |  FROM sc)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |       CAST(sum(bits * c) AS BIGINT) AS surprisal_bits,
        |       CAST((1000 * sum(bits * c)) // sum(c) AS BIGINT) AS avg_millibits
        |FROM bits GROUP BY doc_id""".stripMargin) {
      (s, d) =>
        graft.operators.LanguageModel.bigramSurprisal(
          Tables.documents(s, d), "doc_id", col("text"))
    },

    // TEMPERATURE-SCALED MIXTURE ALLOCATION (XLM-R/mT5 α=0.5 source
    // upsampling — derive the per-source token budgets that q69's
    // mixByBudget consumes). Weights are EXACT integer √size (double
    // estimate + cross-multiplied ±1 correction, so no FP boundary
    // can misplace the floor), apportioned by largest remainder:
    // ⌊B·w/W⌋ each, leftover units to the biggest remainders
    // (source-name tie-break). Σalloc = B exactly on both engines —
    // the spec asserts it structurally, this gate asserts it
    // value-for-value. B = 1,000,000.
    QueryDef.sql("q130_mixture_allocation",
      """WITH sz AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |  FROM documents GROUP BY 1),
        |sq AS (SELECT source, n_chars_total,
        |              CAST(floor(sqrt(CAST(n_chars_total AS DOUBLE))) AS BIGINT) AS s0
        |       FROM sz),
        |w AS (SELECT source, n_chars_total,
        |             CASE WHEN (s0+1)*(s0+1) <= n_chars_total THEN s0+1
        |                  WHEN s0*s0 > n_chars_total THEN s0-1 ELSE s0 END AS weight
        |      FROM sq),
        |tot AS (SELECT CAST(sum(weight) AS BIGINT) AS wtot FROM w),
        |q AS (SELECT source, n_chars_total, weight,
        |             (1000000 * weight) // wtot AS quota,
        |             (1000000 * weight) % wtot AS rem
        |      FROM w, tot),
        |l AS (SELECT CAST(1000000 - sum(quota) AS BIGINT) AS leftover FROM q),
        |rk AS (SELECT q.*, l.leftover,
        |              row_number() OVER (ORDER BY rem DESC, source) AS rnk
        |       FROM q, l)
        |SELECT source, n_chars_total, CAST(weight AS BIGINT) AS weight,
        |       CAST(quota + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END
        |            AS BIGINT) AS alloc
        |FROM rk""".stripMargin) {
      (s, d) =>
        graft.operators.Sampling.allocateBudget(
          Tables.documents(s, d).groupBy(col("source"))
            .agg(sum("n_chars").cast("long").as("n_chars_total")),
          "source", "n_chars_total", 1000000L)
    },

    // BPE TOKENIZER-TRAINING PAIR CENSUS (Sennrich et al. — the
    // vocabulary-building step). This gates the SQL-expressible slice:
    // the corpus-weighted adjacent-symbol-pair statistics every merge
    // decision is made from (word-frequency table → zip-of-slices pair
    // explode → weighted count), top 100 under a total order (count
    // desc, then pair) so the cut is deterministic on both engines.
    // The iterative trainer (Tokenization.trainBpe) and encoder
    // (applyBpe) are spec-verified — merge rounds aggregate over the
    // recursive term, which SQL recursion can't express; the spec
    // cross-checks round-0 of the trainer against THIS gated census.
    QueryDef.sql("q131_bpe_pair_stats",
      raw"""WITH words AS (
        |  SELECT word, count(*) AS n FROM (
        |    SELECT unnest(${tokensSql("text")}) AS word
        |    FROM documents) GROUP BY 1),
        |sym AS (SELECT n, string_split(word, '') AS s FROM words),
        |pairs AS (
        |  SELECT n, unnest(list_zip(s[1:-2], s[2:-1])) AS p
        |  FROM sym WHERE len(s) >= 2)
        |SELECT p[1] AS left_sym, p[2] AS right_sym,
        |       CAST(sum(n) AS BIGINT) AS pair_n
        |FROM pairs GROUP BY 1, 2
        |ORDER BY pair_n DESC, left_sym, right_sym LIMIT 100""".stripMargin) {
      (s, d) =>
        graft.operators.Tokenization.bpePairStats(
          Tables.documents(s, d), col("text"), 100)
    },

    // HYBRID RETRIEVAL FUSION (RRF, Cormack et al.): the lexical BM25
    // top-20 (q111's integer-exact scorer) and a semantic cosine
    // top-20 against one query embedding fuse by reciprocal rank —
    // ⌊10⁶/(60+rank)⌋ per list, integer division so the fused score
    // is engine-exact. Rank windows partition per ranker over
    // already-truncated candidate lists (bounded partitions); the
    // semantic scan is a broadcast one-row nested-loop, TakeOrdered
    // top-20 — no corpus shuffle anywhere.
    QueryDef.sql("q133_rrf_fusion",
      raw"""WITH $bm25TermCtes,
        |lexs AS (SELECT doc_id, CAST(sum(s_milli) AS BIGINT) AS score
        |         FROM ts GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20),
        |lexr AS (SELECT doc_id,
        |                row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        |         FROM lexs),
        |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 1),
        |sems AS (
        |  SELECT e.vec_id AS doc_id,
        |    CAST(round(
        |      list_sum(list_transform(list_zip(e.embedding, qv.q),
        |               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(qv.q, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      * 1000000.0) AS BIGINT) AS score
        |  FROM embeddings e, qv WHERE e.vec_id <> 1
        |  ORDER BY score DESC, doc_id LIMIT 20),
        |semr AS (SELECT doc_id,
        |                row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        |         FROM sems),
        |u AS (SELECT doc_id, 1000000 // (60 + rn) AS c FROM lexr
        |      UNION ALL SELECT doc_id, 1000000 // (60 + rn) FROM semr)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro,
        |       CAST(count(*) AS BIGINT) AS n_rankers
        |FROM u GROUP BY doc_id
        |ORDER BY rrf_micro DESC, doc_id LIMIT 10""".stripMargin) {
      (s, d) => {
        val lex = Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", col("text"),
          Seq("spark", "merge", "vector"), 20)
          .select(col("doc_id"), col("bm25_milli").as("score"))
        val emb = Tables.embeddings(s, d)
        val qv = emb.filter(col("vec_id") === 1).select(col("embedding").as("__qv"))
        val sem = emb.crossJoin(broadcast(qv)).filter(col("vec_id") =!= 1)
          .select(col("vec_id").as("doc_id"),
            round(graft.operators.Similarity.cosine(col("embedding"), col("__qv")) * 1e6)
              .cast("long").as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(20)
        Retrieval.rrfFuse(Seq("lex" -> lex, "sem" -> sem), "doc_id", "score", topK = 10)
      }
    },

    // MARKUP STRIPPING — the crawl-to-text extraction step. The gate
    // wraps each document in deterministic HTML (comment, script,
    // style, entities) and strips it back; the oracle replays the same
    // RE2-compatible regexp chain independently. Real pages go through
    // the identical code path — the wrapper just gives the testdata
    // markup to strip.
    QueryDef.sql("q137_markup_strip",
      raw"""WITH $markupDocsCte,
        |${stripMarkupCtes("m")}
        |SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean_text
        |FROM s5""".stripMargin) {
      (s, d) => {
        val markup = markupDoc
        Tables.documents(s, d)
          .select(col("doc_id"), stripMarkup(markup).as("clean_text"))
      }
    },

    // URL CANONICALIZATION — crawl-frontier dedup's join key. The gate
    // synthesizes messy URLs (upper-case scheme/host, default ports,
    // tracking params, unsorted query, fragments, empty paths) and
    // canonicalizes; the oracle re-implements every normalization step
    // independently in SQL.
    QueryDef.sql("q138_url_canonicalize",
      raw"""WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.' ELSE 'HTTPS://WWW.' END)
        |    || upper(source) || '.Example.COM'
        |    || (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '' ELSE '/Docs/' || doc_id END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '/%7euser/%2fseg%41%zz%25%' ELSE '' END)
        |    || '?z=' || doc_id || '&utm_source=feed&b=2&a=1&gclid=x'
        |    || (CASE WHEN doc_id % 7 = 0 THEN '&c=%7E&utm%5Fmedium=z' ELSE '' END)
        |    || '&#sec' AS raw
        |  FROM documents),
        |nf AS (SELECT doc_id, regexp_replace(raw, '#.*$$', '') AS nofrag0 FROM u),
        |pn AS (SELECT doc_id, ${UrlOracleSql.pctNormSql("nofrag0")} AS nofrag FROM nf),
        |parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(nofrag, '^[^:/?#]+://([^/?#]*)', 1)) AS hostport,
        |    regexp_extract(nofrag, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS rawpath,
        |    regexp_extract(nofrag, '\?([^#]*)', 1) AS q
        |  FROM pn),
        |canon AS (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
        |         ELSE hostport END AS host,
        |    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
        |    array_to_string(list_sort(list_filter(string_split(q, '&'),
        |      p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)(=.*)?$$'))),
        |      '&') AS cq
        |  FROM parts)
        |SELECT doc_id, scheme || '://' || host || path ||
        |  (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) AS url_canon
        |FROM canon""".stripMargin) {
      (s, d) => {
        val raw = concat(
          when(col("doc_id") % 2 === 0, lit("HTTP://WWW.")).otherwise(lit("HTTPS://WWW.")),
          upper(col("source")), lit(".Example.COM"),
          when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit(":443")),
          when(col("doc_id") % 3 === 0, lit(""))
            .otherwise(concat(lit("/Docs/"), col("doc_id").cast("string"))),
          // RFC 3986 §6.2.2 mixed-encoding battery: unreserved decodes
          // (%7e→~, %41→A), reserved uppercases (%2f→%2F, %25 stays),
          // malformed (%zz, trailing %) verbatim; in the query, an
          // ENCODED tracking key (utm%5Fmedium) must decode into the
          // drop list before the param filter sees it
          when(col("doc_id") % 5 === 0, lit("/%7euser/%2fseg%41%zz%25%"))
            .otherwise(lit("")),
          lit("?z="), col("doc_id").cast("string"),
          lit("&utm_source=feed&b=2&a=1&gclid=x"),
          when(col("doc_id") % 7 === 0, lit("&c=%7E&utm%5Fmedium=z"))
            .otherwise(lit("")),
          lit("&#sec"))
        Tables.documents(s, d)
          .select(col("doc_id"), canonicalizeUrl(raw).as("url_canon"))
      }
    },

    // TRAIN/EVAL SPLIT LEAKAGE: near-dup pairs (q29b's md5-LSH
    // pipeline, shared CTEs) whose members hash into DIFFERENT splits
    // — the eval contamination a per-doc hash split cannot prevent.
    // The 50/50 md5 split is the engine-replicable twin of q46's
    // xxhash64 split (same semantics, simpler oracle).
    QueryDef.sql("q140_split_leakage",
      s"""WITH $minhashMd5PairsCtes,
         |spl AS (SELECT doc_id,
         |        CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
         |             THEN 'train' ELSE 'val' END AS split
         |        FROM documents),
         |x AS (SELECT p.id_a, p.id_b, p.jaccard_ppm,
         |             sa.split AS split_a, sb.split AS split_b
         |      FROM pairs p JOIN spl sa ON sa.doc_id = p.id_a
         |                   JOIN spl sb ON sb.doc_id = p.id_b
         |      WHERE sa.split <> sb.split)
         |SELECT id_a, id_b, jaccard_ppm, split_a, split_b FROM x""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.minhashLshPairsMd5(docs.filter(col("doc_id") < 200),
          "doc_id", col("text"), bands = Md5Bands, rows = Md5Rows, minJaccardPpm = 0L)
        val splits = docs.select(col("doc_id"),
          when(substring(md5(col("doc_id").cast("string")), 1, 2) < "80", "train")
            .otherwise("val").as("split"))
        Dedup.crossSplitLeakage(pairs, "id_a", "id_b", splits, "doc_id", "split")
          .select("id_a", "id_b", "jaccard_ppm", "split_a", "split_b")
      }
    },

    // DETERMINISTIC SAMPLED QUANTILE: per-source median of n_chars
    // estimated from the k=16 smallest-md5(id) rows — an
    // order-independent, mergeable, bounded-state sample whose
    // estimate (unlike GK/t-digest) replays EXACTLY in the oracle.
    QueryDef.sql("q141_sampled_quantile",
      """WITH r AS (
        |  SELECT source, n_chars,
        |         count(*) OVER (PARTITION BY source) AS n_rows,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents),
        |g AS (SELECT source, max(n_rows) AS n_rows, count(*) AS sample_n,
        |             list_sort(list(n_chars)) AS sv
        |      FROM r WHERE rn <= 16 GROUP BY source)
        |SELECT source, n_rows, sample_n,
        |       sv[CAST(greatest(1, (500 * sample_n + 999) // 1000) AS INT)] AS est
        |FROM g""".stripMargin) {
      (s, d) =>
        Sketches.hashSampleQuantile(Tables.documents(s, d),
          "source", "doc_id", "n_chars", k = 16, qPermille = 500)
          .withColumnRenamed("grp", "source")
    },

    // EXACT similarity join via PREFIX FILTERING (SSJoin/PPJoin): all
    // pairs with 3-shingle Jaccard >= 0.3, NO false negatives — the
    // exact-recall complement of the LSH gates. Candidates come only
    // from each doc's rare-token prefix (|d| − ⌈t·|d|⌉ + 1 under
    // global rare-first order); the oracle is the BRUTE-FORCE
    // all-pairs join with the same exact rational threshold
    // (inter·10^6 ≥ t·union — never the rounded ppm), so the gate
    // proves the filter loses nothing.
    QueryDef.sql("q143_jaccard_prefix_join",
      raw"""${trigramJaccardSql("documents")}
        |WHERE inter * 1000000 >= 300000 * (sa.n_sh + sb.n_sh - inter)""".stripMargin) {
      (s, d) =>
        Dedup.jaccardPrefixJoin(Tables.documents(s, d),
          "doc_id", col("text"), n = 3, minJaccardPpm = 300000L)
    },

    // PMI COLLOCATION MINING: top-100 adjacent word pairs by
    // pointwise mutual information, quantized to whole bits with the
    // exact integer floor-log2 (q126's discipline) over
    // a = c12·N, b = c1·c2 — engine-identical on any partitioning;
    // strict total order (bits, count, w1, w2) makes the top-k
    // deterministic.
    QueryDef.sql("q145_pmi_collocations",
      raw"""WITH arr AS (
        |  SELECT ${tokensSql("text")} AS a
        |  FROM documents),
        |bi AS (
        |  SELECT unnest(a[1:len(a)-1]) AS w1, unnest(a[2:len(a)]) AS w2
        |  FROM arr WHERE len(a) >= 2),
        |pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM bi GROUP BY 1, 2),
        |m1 AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS c1 FROM pc GROUP BY 1),
        |m2 AS (SELECT w2, CAST(sum(cnt) AS BIGINT) AS c2 FROM pc GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM pc),
        |sc AS (
        |  SELECT pc.w1, pc.w2, pc.cnt AS n_pair,
        |         pc.cnt * tot.n AS a, m1.c1 * m2.c2 AS b
        |  FROM pc JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot
        |  WHERE pc.cnt >= 5 AND pc.cnt * tot.n >= m1.c1 * m2.c2)
        |SELECT w1, w2, n_pair,
        |       CAST(CASE WHEN a >= (b << (length(bin(a)) - length(bin(b))))
        |            THEN length(bin(a)) - length(bin(b))
        |            ELSE length(bin(a)) - length(bin(b)) - 1 END AS BIGINT) AS pmi_bits
        |FROM sc
        |ORDER BY pmi_bits DESC, n_pair DESC, w1, w2
        |LIMIT 100""".stripMargin) {
      (s, d) =>
        graft.operators.LanguageModel.pmiCollocations(
          Tables.documents(s, d), col("text"), minPairCount = 5, topK = 100)
    },

    // INVERTED INDEX construction over 3-gram SHINGLES (phrase
    // index): unit -> (df, ascending postings) for the df-band
    // [2, 20] — the hapax floor drops noise, the frequency CEILING is
    // the scale guard (a corpus-frequent phrase's postings are one
    // corpus-sized row; the census excludes it BEFORE any posting
    // list is collected).
    QueryDef.sql("q146_inverted_index",
      raw"""WITH toks AS (
        |  SELECT doc_id, ${tokensSql("text")} AS t
        |  FROM documents),
        |dt AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(${trigramsSql("t")}) AS term
        |  FROM toks),
        |g AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
        |             array_to_string(list_sort(list(doc_id)), ',') AS postings
        |      FROM dt GROUP BY 1)
        |SELECT term, df, postings FROM g WHERE df BETWEEN 2 AND 20""".stripMargin) {
      (s, d) =>
        graft.operators.Retrieval.invertedIndex(
          Tables.documents(s, d), "doc_id",
          Dedup.shingles(col("text"), 3), minDf = 2, maxDf = 20)
          .select(col("term"), col("df"),
            array_join(col("postings"), ",").as("postings"))
    },

    // EQUI-DEPTH BINNING per source (quantile bucketizer): 4 rank
    // bins of near-equal population over the strict (n_chars, doc_id)
    // order; bin boundaries double as exact per-source quartile
    // estimates. ntile's larger-bins-first remainder rule is ANSI
    // fixed — engine-identical.
    QueryDef.sql("q147_equidepth_bins",
      """WITH b AS (
        |  SELECT source, n_chars,
        |         ntile(4) OVER (PARTITION BY source
        |                        ORDER BY n_chars, doc_id) AS bin
        |  FROM documents)
        |SELECT source, CAST(bin AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       min(n_chars) AS lo, max(n_chars) AS hi
        |FROM b GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        graft.operators.Profiling.equiDepthBins(
          Tables.documents(s, d), "source", col("n_chars"), "doc_id",
          numBins = 4)
    },

    // FEATURE HASHING (the hashing trick): 64-bucket sparse token-
    // count vectors via xxhash64(token) mod 64 — no vocabulary table
    // at all. The oracle rebuilds Spark's XXH64 bit-exact
    // (XxHash64Sql), so even the bucket assignment is hash-verified;
    // power-of-two dims make the signed pmod equal the unsigned
    // residue on any engine. Scoped to doc_id < 200 for oracle cost
    // (the SQL XXH64 is the expensive twin, not the operator).
    QueryDef.sql("q153_feature_hash",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${tokensSql("text")}) AS t
         |  FROM documents WHERE doc_id < 200),
         |${XxHash64Sql.hashBytesCtes("toks", "t")},
         |bk AS (SELECT doc_id, CAST(xxh % 64 AS BIGINT) AS b, count(*) AS c
         |       FROM hb GROUP BY 1, 2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dims,
         |       string_agg(b || ':' || c, ' ' ORDER BY b) AS features
         |FROM bk GROUP BY doc_id""".stripMargin) {
      (s, d) =>
        graft.operators.Tokenization.featureHash(
          Tables.documents(s, d).filter(col("doc_id") < 200),
          "doc_id", col("text"), dims = 64)
    },

    // EXACT-SUBSTRING REMOVAL (the Lee et al. cut step — closes the
    // loop q112 opened): duplicated >= 8-gram spans are cut and each
    // doc reassembled from its surviving tokens; fully-duplicated
    // docs survive empty (caller's quality floor decides). The
    // oracle replays the whole chain — span formation AND the cut —
    // with the string-census spans.
    QueryDef.sql("q154_remove_dup_spans",
      raw"""WITH ${dupSpanCtes("documents WHERE text IS NOT NULL")},
        |spans AS (SELECT doc_id, min(start_pos) AS s, max(end_pos) AS e
        |          FROM islands GROUP BY doc_id, island),
        |tok AS (SELECT doc_id, i AS pos, a[i] AS tok
        |        FROM arr, unnest(generate_series(1, len(a))) AS g(i)),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok FROM tok t
        |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |                    WHERE sp.doc_id = t.doc_id
        |                      AND t.pos BETWEEN sp.s AND sp.e)),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |               string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |        FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(agg.clean_text, '') AS clean_text,
        |       CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept
        |FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
        |LEFT JOIN agg USING (doc_id)""".stripMargin) {
      (s, d) =>
        Dedup.removeDuplicateSpans(Tables.documents(s, d), "doc_id",
          col("text"), k = 8)
    },

    // EXACT-PROPORTION STRATIFIED SPLIT: per source, exactly
    // ⌊0.8·n_s⌋ docs to train by md5(id) rank — the guarantee the
    // Bernoulli hash split (q46) only hits in expectation (and can
    // starve a small stratum entirely).
    QueryDef.sql("q158_stratified_split",
      """WITH r AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |         count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source AS stratum,
        |       CASE WHEN rn <= (800 * n) // 1000 THEN 'train' ELSE 'val' END AS split
        |FROM r""".stripMargin) {
      (s, d) =>
        Sampling.stratifiedSplit(Tables.documents(s, d), "doc_id", "source",
          trainPermille = 800)
    },

    // CONFUSION MATRIX of the q27 language-ID heuristic against the
    // corpus's lang labels — the evaluation primitive for the
    // pipeline's own classifiers. Cells + exact milli recall shares;
    // the oracle reuses q27's CTE chain verbatim (shared constant).
    QueryDef.sql("q161_confusion_matrix",
      s"""WITH $langIdPredCtes,
         |j AS (SELECT d.lang AS label, p.lang_pred AS pred
         |      FROM documents d JOIN pred p ON p.doc_id = d.doc_id),
         |cells AS (SELECT label, pred, CAST(count(*) AS BIGINT) AS n
         |          FROM j GROUP BY 1, 2),
         |rt AS (SELECT label, CAST(sum(n) AS BIGINT) AS t FROM cells GROUP BY 1)
         |SELECT c.label, c.pred, c.n,
         |       CAST((1000 * c.n) // rt.t AS BIGINT) AS row_frac_milli
         |FROM cells c JOIN rt USING (label)""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        val joined = docs.select(col("doc_id"), col("lang"))
          .join(langIdRelational(docs, "doc_id", col("text")), Seq("doc_id"))
        graft.operators.Profiling.confusionMatrix(joined, "lang", "lang_pred")
      }
    },

    // DEDUP-CONFIG EVALUATION: the q29 MinHash-LSH banding's MEASURED
    // recall/precision against the exact prefix-join ground truth at
    // θ = 0.3 — how a banding choice is validated on a sample before
    // committing a 100 TB run to it. Truth and candidates share ONE
    // shingle universe (the chain's own sh/sizes CTEs feed the
    // brute-force side), so the comparison is apples-to-apples; both
    // engines build both sets independently and the confusion counts
    // hash-verify.
    QueryDef.sql("q174_dedup_config_eval",
      s"""WITH ${minhashXxPairCtes("documents")},
         |exactp AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT id_a, id_b FROM exactp
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE inter * 1000000 >= 300000 * (sa.n_sh + sb.n_sh - inter)),
         |lcand AS (SELECT id_a, id_b FROM lshpairs WHERE jaccard_ppm >= 300000),
         |m AS (SELECT (SELECT count(*) FROM truth) AS n_truth,
         |             (SELECT count(*) FROM lcand) AS n_cand,
         |             (SELECT count(*) FROM truth t JOIN lcand c
         |              ON t.id_a = c.id_a AND t.id_b = c.id_b) AS n_common)
         |SELECT n_truth, n_cand, n_common,
         |       CASE WHEN n_truth = 0 THEN 1000000
         |            ELSE (1000000 * n_common) // n_truth END AS recall_ppm,
         |       CASE WHEN n_cand = 0 THEN 1000000
         |            ELSE (1000000 * n_common) // n_cand END AS precision_ppm
         |FROM m""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        val truth = Dedup.jaccardPrefixJoin(docs, "doc_id", col("text"),
          n = 3, minJaccardPpm = 300000L)
        val cand = Dedup.minhashLshPairs(docs, "doc_id", col("text"),
            bands = XxBands, rows = XxRows, minJaccardPpm = 0L)
          .filter(col("jaccard_ppm") >= 300000L)
        Dedup.pairSetComparison(truth, cand)
      }
    },

    // SIMHASH NEAR-DUP PAIRS with guaranteed pair recall (Manku
    // block-split: fingerprints within Hamming 3 must share one of 4
    // exact 16-bit blocks — pigeonhole, zero false negatives), popcount
    // verify on candidates only. The oracle rebuilds the fingerprints
    // from the bit-exact XXH64 votes, replays the block join, the
    // hot-block cap and the xor/bit_count verify. Scoped to
    // doc_id < 200 like the other simhash gates.
    QueryDef.sql("q184_simhash_neardup", {
      import XxHash64Sql._
      val votes = (0 until 64)
        .map(b => s"sum(CASE WHEN (xxh // ${BigInt(1) << b}) % 2 = 1 THEN 1 ELSE -1 END) AS v$b")
        .mkString(", ")
      val fp = (0 until 64)
        .map(b => s"(CASE WHEN v$b > 0 THEN CAST(${BigInt(1) << b} AS HUGEINT) ELSE 0 END)")
        .mkString(" + ")
      val blockSelects = (0 until 4).map { b =>
        val off = BigInt(1) << (16 * b)
        s"SELECT doc_id, f, $b AS bid, CAST((f // $off) % 65536 AS BIGINT) AS bval FROM fps"
      }.mkString(" UNION ALL ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${tokensSql("text")}) AS t
         |  FROM documents WHERE doc_id < 200),
         |${hashBytesCtes("toks", "t")},
         |votes AS (SELECT doc_id, $votes FROM hb GROUP BY doc_id),
         |fpx AS (SELECT doc_id, $fp AS f FROM votes),
         |base AS (SELECT doc_id FROM documents
         |         WHERE doc_id < 200 AND text IS NOT NULL),
         |fps AS (SELECT b.doc_id, coalesce(f.f, 0) AS f
         |        FROM base b LEFT JOIN fpx f USING (doc_id)),
         |blocks AS ($blockSelects),
         |hot AS (SELECT bid, bval FROM blocks GROUP BY 1, 2
         |        HAVING count(*) > 100),
         |kept AS (
         |  SELECT blocks.* FROM blocks
         |  WHERE NOT EXISTS (SELECT 1 FROM hot h
         |                    WHERE h.bid = blocks.bid AND h.bval = blocks.bval)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.f AS fa, b.f AS fb
         |  FROM kept a JOIN kept b
         |    ON a.bid = b.bid AND a.bval = b.bval AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |       CAST(bit_count(xor(${u2s("fa")}, ${u2s("fb")})) AS BIGINT)
         |         AS hamming
         |FROM cand
         |WHERE bit_count(xor(${u2s("fa")}, ${u2s("fb")})) <= 3""".stripMargin
    }) {
      (s, d) =>
        Dedup.simhashNearDupPairs(
          Tables.documents(s, d).filter(col("doc_id") < 200),
          "doc_id", col("text"), maxHamming = 3, maxDocsPerBlock = 100)
    },

    // DSIR IMPORTANCE WEIGHTS (Xie et al. 2023): score every document
    // by the hashed-token log-likelihood ratio between a TARGET
    // distribution (here the lang='en' slice) and the raw corpus —
    // the data-selection step between heuristic filters and training.
    // EXACT integer end to end: buckets are xxhash64(token) mod 1024
    // (the q153 hashing trick, oracle-replayed bit-exact via
    // XxHash64Sql), both distributions add-one smoothed, each log
    // term IntMath's fixed-point log2 (2^-10-bit grain — the SAME
    // generated step list runs here as a lateral-alias CTE chain and
    // in the Spark plan, so the recurrences cannot drift), and the
    // per-doc sum/normalization pure integer arithmetic — both
    // engines agree bit-for-bit, negative weights included (div and
    // // both truncate toward zero). Scale: one explode of raw
    // (persisted — census + score join), λ table is ≤1024 rows
    // broadcast, totals are 1-row broadcasts, final agg doc-keyed.
    QueryDef.sql("q209_dsir_weights", {
      import XxHash64Sql._
      val (tSteps, tOut) = graft.functions.IntMath.duckSteps("at", "bt", "lt_")
      val (rSteps, rOut) = graft.functions.IntMath.duckSteps("ar", "br", "lr_")
      val (lamCtes, lamLast) = chainCtes("lam0", tSteps ++ rSteps, "lamc", per = 8)
      s"""WITH toks AS (
         |  SELECT doc_id, lang, unnest(${tokensSql("text")}) AS t
         |  FROM documents),
         |${hashBytesCtes("toks", "t")},
         |db AS (SELECT doc_id, CAST(xxh % 1024 AS BIGINT) AS b,
         |              CAST(count(*) AS BIGINT) AS c
         |       FROM hb GROUP BY 1, 2),
         |rb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM db GROUP BY 1),
         |tb AS (SELECT CAST(xxh % 1024 AS BIGINT) AS b,
         |              CAST(count(*) AS BIGINT) AS ct
         |       FROM hb WHERE lang = 'en' GROUP BY 1),
         |nr AS (SELECT CAST(sum(cr) AS BIGINT) AS nr FROM rb),
         |nt AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS nt FROM tb),
         |lam0 AS (
         |  SELECT rb.b, coalesce(tb.ct, 0) + 1 AS at, nt.nt + 1024 AS bt,
         |         rb.cr + 1 AS ar, nr.nr + 1024 AS br
         |  FROM rb LEFT JOIN tb USING (b) CROSS JOIN nr CROSS JOIN nt),
         |$lamCtes,
         |lam AS (SELECT b, $tOut - $rOut AS lam FROM $lamLast)
         |SELECT db.doc_id, CAST(sum(db.c) AS BIGINT) AS n_tokens,
         |       CAST(sum(db.c * lam.lam) AS BIGINT) AS logw_1024ths,
         |       CAST((1000 * sum(db.c * lam.lam)) // (1024 * sum(db.c)) AS BIGINT)
         |         AS avg_millibits
         |FROM db JOIN lam USING (b)
         |GROUP BY 1""".stripMargin
    }) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        Sampling.dsirWeights(docs, docs.filter(col("lang") === "en"),
          "doc_id", col("text"), dims = 1024)
      }
    },

    // C4 PAGE-CLEANING BATTERY (Raffel et al. 2020): the named line/
    // page filter set next to Gopher's (q197/q201). The fixture corpus
    // is single-line and unpunctuated, so the gate first BUILDS
    // structured pages deterministically from the data (the q199
    // packImageBlobs precedent): every ' line ' token becomes a
    // sentence break, and doc_id residues append a javascript line
    // (line rule), a curly-brace line (page rule), and a lorem-ipsum
    // line (page rule) — both engines replay the construction
    // (replace/concat are left-to-right and literal in each), then the
    // whole battery: counts, flags, conjunction, and the cleaned page
    // itself md5-compared.
    QueryDef.sql("q210_c4_rules",
      s"""WITH pg AS (
         |  SELECT doc_id,
         |    replace(text, ' line ', '.' || chr(10)) AS p0,
         |    CASE WHEN doc_id % 7 = 0
         |         THEN p0 || chr(10) || 'javascript is required to view this page here.'
         |         ELSE p0 END AS p1,
         |    CASE WHEN doc_id % 11 = 0
         |         THEN p1 || chr(10) || 'if (x) { return y; }'
         |         ELSE p1 END AS p2,
         |    CASE WHEN doc_id % 13 = 0
         |         THEN p2 || chr(10) || 'lorem ipsum dolor sit amet consectetur.'
         |         ELSE p2 END AS page
         |  FROM documents),
         |l AS (SELECT doc_id, page, string_split(page, chr(10)) AS ls FROM pg),
         |k AS (SELECT doc_id, page, ls,
         |        list_filter(ls, x -> right(trim(x), 1) IN ('.', '!', '?', '"')
         |          AND len(${splitSql("trim(x)", "w")}) >= 5
         |          AND NOT contains(lower(x), 'javascript')) AS kl
         |      FROM l),
         |j AS (SELECT doc_id, page, len(ls) AS n_lines, len(kl) AS n_kept_lines,
         |        -- DuckDB's array_to_string of an EMPTY list is NULL;
         |        -- Spark's array_join gives '' — align on ''
         |        coalesce(array_to_string(kl, chr(10)), '') AS kt FROM k)
         |SELECT doc_id,
         |  CAST(n_lines AS BIGINT) AS n_lines,
         |  CAST(n_kept_lines AS BIGINT) AS n_kept_lines,
         |  CAST(length(kt) - length(translate(kt, '.!?', '')) AS BIGINT) AS n_sentences,
         |  contains(lower(page), 'lorem ipsum') AS has_lorem,
         |  contains(page, '{') AS has_curly,
         |  (length(kt) - length(translate(kt, '.!?', '')) >= 3
         |   AND NOT contains(lower(page), 'lorem ipsum')
         |   AND NOT contains(page, '{')) AS passes,
         |  md5(kt) AS kept_md5
         |FROM j""".stripMargin) {
      (s, d) => {
        val page0 = replace(col("text"), lit(" line "), lit(".\n"))
        val page1 = when(col("doc_id") % 7 === 0,
          concat(page0, lit("\njavascript is required to view this page here.")))
          .otherwise(page0)
        val page2 = when(col("doc_id") % 11 === 0,
          concat(page1, lit("\nif (x) { return y; }"))).otherwise(page1)
        val page3 = when(col("doc_id") % 13 === 0,
          concat(page2, lit("\nlorem ipsum dolor sit amet consectetur.")))
          .otherwise(page2)
        Tables.documents(s, d)
          .select(col("doc_id"),
            graft.functions.TextFunctions.c4Rules(page3).as("c4"))
          .select(col("doc_id"), col("c4.n_lines"), col("c4.n_kept_lines"),
            col("c4.n_sentences"), col("c4.has_lorem"), col("c4.has_curly"),
            col("c4.passes"), md5(col("c4.kept_text")).as("kept_md5"))
      }
    },

    // CROSS-DOCUMENT EXACT SUBSTRING MATCHING (the pairwise form of
    // Lee et al. — q112 finds "my duplicated intervals", this finds
    // WHO shares WHAT with WHOM): maximal verbatim token spans >= 16
    // tokens between document pairs, as (pair, both start positions,
    // length) — one row per maximal exact match per alignment
    // diagonal. The distributed shape is anchor-and-extend in place of
    // the paper's suffix array: one positioned-8-gram-hash pass
    // (8-byte shuffle keys), a seed census capped at 50 corpus
    // occurrences (the stopword-gram cross-product guard; any
    // rarer-than-cap gram inside a span recovers the whole span
    // because extension joins the pair's FULL gram streams), distinct
    // anchor pairs, then a gaps-and-islands merge of consecutive
    // positions per (pair, diagonal) — every post-census stage keyed
    // by doc or pair. The oracle replays the identical funnel on gram
    // STRINGS, so agreement also witnesses xxhash64 collision-freedom
    // (the q112 adjudication).
    q212BpeEncode,
    q220BpeDecode,
    q221Blocklist,
    q227Perceptron,
    q228ScriptProfile,
    q233SentenceSplit,
    q235VocabGrowth,
    q238ZipfFit,
    q239DomainBlocklist,
    q241TokenEntropy,

    QueryDef.sql("q211_matched_spans",
      raw"""WITH arr AS (
        |  SELECT doc_id, ${tokensSql("text")} AS a
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i AS pos, array_to_string(a[i:i+7], ' ') AS gram
        |  FROM arr, unnest(generate_series(1, len(a) - 7)) AS g(i)),
        |seeds AS (SELECT gram FROM grams GROUP BY gram
        |          HAVING count(*) BETWEEN 2 AND 50),
        |anch AS (SELECT doc_id, gram FROM grams
        |         WHERE gram IN (SELECT gram FROM seeds)),
        |pairs AS (
        |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM anch x JOIN anch y ON x.gram = y.gram AND x.doc_id < y.doc_id),
        |m AS (
        |  SELECT p.id_a, p.id_b, ga.pos AS pos_a, gb.pos AS pos_b
        |  FROM pairs p
        |  JOIN grams ga ON ga.doc_id = p.id_a
        |  JOIN grams gb ON gb.doc_id = p.id_b AND gb.gram = ga.gram),
        |isl AS (
        |  SELECT id_a, id_b, pos_a, pos_b, pos_a - pos_b AS diag,
        |         pos_a - row_number() OVER (PARTITION BY id_a, id_b, pos_a - pos_b
        |                                    ORDER BY pos_a) AS grp
        |  FROM m)
        |SELECT id_a, id_b, CAST(min(pos_a) AS BIGINT) AS pos_a,
        |       CAST(min(pos_b) AS BIGINT) AS pos_b,
        |       CAST(max(pos_a) - min(pos_a) + 8 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY id_a, id_b, diag, grp
        |HAVING max(pos_a) - min(pos_a) + 8 >= 16""".stripMargin) {
      (s, d) =>
        Dedup.matchedSpans(Tables.documents(s, d), "doc_id", col("text"),
          k = 8, minTokens = 16, maxSeedOccurrences = 50)
    }
  )
}
