package graft.queries

import graft.Tables
import graft.operators.{Dedup, Graphs, Profiling, Retrieval, Sketches}
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Gate queries for the artifact / evaluation layer: storable
  * probabilistic filters, multi-criteria selection, ranking-quality
  * measurement, and graph link prediction.
  */
object EvalQueries {

  private val BloomBits = 4096
  private val BloomHashes = 3
  private val BloomProbes = Seq(1L, 2L, 3L, 4L, 500L, 1999L, 31337L, 424242L, 999999L)

  /** Unsigned u64 string of Spark's xxhash64(i) — the chained seed the
    * i-th bloom/count-min hash starts from (see q120).
    */
  private def seedU64(i: Int): String = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.LongType
    val sgn = XxHash64Function.hash(i.toLong, LongType, 42L)
    (if (sgn < 0) BigInt(sgn) + (BigInt(1) << 64) else BigInt(sgn)).toString
  }

  val all: Seq[QueryDef] = Seq(

    // BLOOM FILTER as a storable artifact (Sketches.bloomBuild /
    // bloomProbe): 4096 bits / 3 seed-chained engine hashes built over
    // the distinct part keys, then 9 probes (6 present / 3 absent)
    // checked THROUGH the packed 64-bit words. The oracle is an
    // independent derivation — it never packs words, it rebuilds each
    // probe's three bit POSITIONS from the bit-exact XXH64 chains and
    // asks set membership against the corpus position set — so the
    // gate witnesses the whole build+probe path, incl. the no-false-
    // negative guarantee (bloom_hit is true wherever actual is).
    QueryDef.sql("q162_bloom_filter", {
      import XxHash64Sql._
      var keyCtes = List.empty[String]
      var keySrc = "keys"
      val keyH = (0 until BloomHashes).map { i =>
        val (steps, h) = hashLongSteps(s2u("kk"), seedU64(i), s"K$i")
        val (c, last) = chainCtes(keySrc, steps, s"kc$i")
        keyCtes :+= c; keySrc = last; h
      }
      var prCtes = List.empty[String]
      var prSrc = "pr"
      val prH = (0 until BloomHashes).map { i =>
        val (steps, h) = hashLongSteps(s2u("pk"), seedU64(i), s"P$i")
        val (c, last) = chainCtes(prSrc, steps, s"pc$i")
        prCtes :+= c; prSrc = last; h
      }
      val posUnion = (0 until BloomHashes)
        .map(i => s"SELECT (${keyH(i)}) % $BloomBits AS p FROM $keySrc")
        .mkString(" UNION ")
      val pb = s"pb AS (SELECT pk, " +
        (0 until BloomHashes).map(i => s"(${prH(i)}) % $BloomBits AS b$i").mkString(", ") +
        s" FROM $prSrc)"
      val hit = (0 until BloomHashes)
        .map(i => s"(b$i IN (SELECT p FROM pos))").mkString(" AND ")
      s"""WITH keys AS (SELECT DISTINCT l_partkey AS kk FROM lineitem),
         |pr AS (SELECT CAST(unnest([${BloomProbes.mkString(", ")}]) AS BIGINT) AS pk),
         |${keyCtes.mkString(",\n")},
         |${prCtes.mkString(",\n")},
         |pos AS ($posUnion),
         |$pb
         |SELECT pb.pk, ($hit) AS bloom_hit,
         |       EXISTS (SELECT 1 FROM keys k WHERE k.kk = pb.pk) AS actual
         |FROM pb""".stripMargin
    }) {
      (s, d) => {
        import s.implicits._
        val keys = Tables.lineitem(s, d).select(col("l_partkey")).distinct()
        val words = Sketches.bloomBuild(keys, col("l_partkey"),
          BloomBits, BloomHashes)
        val probes = BloomProbes.toDF("pk")
        Sketches.bloomProbe(words, probes, "pk", BloomBits, BloomHashes)
          .join(keys.select(col("l_partkey").as("pk"))
            .withColumn("__in", lit(true)), Seq("pk"), "left_outer")
          .select(col("pk"), col("bloom_hit"),
            coalesce(col("__in"), lit(false)).as("actual"))
      }
    },

    // PARETO FRONTIER (2-D skyline) — the orders no other order beats
    // on BOTH recency and value: the multi-criteria selection no
    // single ORDER BY expresses. Spark runs the two-phase lossless
    // prune (bucket-local window kills dominated points early, global
    // window only sees the ≤ buckets × |frontier| survivors); the
    // oracle is the quadratic NOT-EXISTS dominance definition — an
    // independent derivation of the same set.
    QueryDef.sql("q163_pareto_frontier",
      """WITH pts AS (
        |  SELECT CAST(epoch(o_orderdate) AS BIGINT) AS x,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS y,
        |         count(*) AS n_rows
        |  FROM orders GROUP BY 1, 2)
        |SELECT x, y, n_rows FROM pts p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts q
        |  WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))""".stripMargin) {
      (s, d) =>
        Profiling.paretoFrontier(Tables.orders(s, d),
          unix_timestamp(col("o_orderdate")),
          round(col("o_totalprice") * 100).cast("long"))
    },

    // RANKING-QUALITY METRICS (NDCG@10 / MRR / recall@10): evaluating
    // the engine's own retrieval output — here the exact cosine top-10
    // (q35's ranker) against same-label relevance. The irrational log₂
    // discounts are frozen into a shared integer table
    // (Retrieval.ndcgDiscountMicro) that the plan bakes in as literals
    // and this oracle bakes in as VALUES — one source of constants, so
    // every metric is bit-portable integer arithmetic.
    QueryDef.sql("q164_ranking_metrics", {
      val disc = Retrieval.ndcgDiscountMicro(10)
      val cum = disc.scanLeft(0L)(_ + _._2).tail
      val discVals = disc.map { case (r, v) => s"($r, ${v}::BIGINT)" }.mkString(", ")
      val idealVals = cum.zipWithIndex
        .map { case (v, i) => s"(${i + 1}, ${v}::BIGINT)" }.mkString(", ")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql
         |           FROM embeddings WHERE vec_id < 20),
         |scored AS (
         |  SELECT query_id, v.vec_id AS neighbor_id,
         |    CAST(round(
         |      list_sum(list_transform(list_zip(qe, v.embedding),
         |               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         |      / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |         * sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
         |      * 1000000.0) AS BIGINT) AS cosine_ppm
         |  FROM q, embeddings v WHERE v.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cosine_ppm DESC, neighbor_id) AS rank
         |  FROM scored),
         |truth AS (
         |  SELECT q.query_id, v.vec_id AS doc_id
         |  FROM q JOIN embeddings v ON v.label = q.ql AND v.vec_id <> q.query_id),
         |disc(r, dv) AS (VALUES $discVals),
         |ideal(n, iv) AS (VALUES $idealVals),
         |hits AS (
         |  SELECT r.query_id, r.rank FROM ranked r
         |  JOIN truth t ON r.query_id = t.query_id AND r.neighbor_id = t.doc_id
         |  WHERE r.rank <= 10),
         |perq AS (
         |  SELECT h.query_id, sum(d.dv) AS dcg, min(h.rank) AS first_rel,
         |         count(*) AS hits_n
         |  FROM hits h JOIN disc d ON d.r = h.rank GROUP BY 1),
         |nrel AS (SELECT query_id, count(*) AS n_rel FROM truth GROUP BY 1)
         |SELECT n.query_id,
         |       CAST(coalesce(p.dcg, 0) AS BIGINT) AS dcg_micro,
         |       i.iv AS idcg_micro,
         |       CAST(coalesce(p.hits_n, 0) AS BIGINT) AS hits_at_k,
         |       n.n_rel,
         |       CAST(coalesce(1000000 // p.first_rel, 0) AS BIGINT) AS rr_micro,
         |       CAST((1000000 * coalesce(p.dcg, 0)) // i.iv AS BIGINT) AS ndcg_ppm,
         |       CAST((1000000 * coalesce(p.hits_n, 0)) // n.n_rel AS BIGINT) AS recall_ppm
         |FROM nrel n
         |LEFT JOIN perq p ON n.query_id = p.query_id
         |JOIN ideal i ON i.n = least(n.n_rel, 10)""".stripMargin
    }) {
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val ranked = Similarity.bruteForceTopK(e, "vec_id", "embedding",
            e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
        val q = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"), col("label").as("__ql"))
        val truth = q.join(
            e.select(col("vec_id").as("doc_id"), col("label")),
            col("label") === col("__ql") && col("doc_id") =!= col("query_id"))
          .select("query_id", "doc_id")
        Retrieval.rankingMetrics(ranked, truth, k = 10)
      }
    },

    // LINK PREDICTION (resource-allocation index) over the
    // supplier–part bipartite graph: which supplier pairs are most
    // entangled through shared parts, each shared part discounted by
    // its supplier fan-out (10⁶ DIV deg — exact integers). The hub cap
    // (maxUnitDegree) is what makes the wedge self-join survive a
    // 100 TB catalog; here nothing hits it, so the oracle's HAVING
    // mirror is exact. Top 50 by score, full tie order.
    QueryDef.sql("q165_link_prediction",
      """WITH links AS (SELECT DISTINCT l_suppkey AS ent, l_partkey AS u FROM lineitem),
        |deg AS (SELECT u, count(*) AS d FROM links GROUP BY 1 HAVING count(*) <= 1000),
        |kept AS (SELECT l.ent, l.u, d.d FROM links l JOIN deg d USING (u)),
        |pairs AS (
        |  SELECT x.ent AS a, y.ent AS b, count(*) AS n_common,
        |         sum(1000000 // x.d) AS ra
        |  FROM kept x JOIN kept y ON x.u = y.u AND x.ent < y.ent
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT a, b, n_common, CAST(ra AS BIGINT) AS ra_micro
        |FROM pairs ORDER BY ra_micro DESC, a, b LIMIT 50""".stripMargin) {
      (s, d) =>
        Graphs.resourceAllocationLinks(
            Tables.lineitem(s, d).select(col("l_suppkey").as("ent"),
              col("l_partkey").as("u")),
            "ent", "u", minCommon = 2, maxUnitDegree = 1000)
          .orderBy(col("ra_micro").desc, col("a"), col("b")).limit(50)
    },

    // NAIVE BAYES language classifier — trained on 4/5 of the corpus
    // (add-one multinomial over whitespace tokens), applied to the
    // held-out 1/5. Every log-prob is whole-bit floor-log2 integers
    // (q126's discipline), so the scores AND the argmin are
    // bit-portable; ties break to the lexicographically smallest
    // class. OOV test words carry no evidence on either engine.
    QueryDef.sql("q167_naive_bayes",
      """WITH tra AS (
        |  SELECT lang AS c,
        |         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |              ELSE list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') END AS a
        |  FROM documents WHERE doc_id % 5 != 0),
        |cw AS (SELECT c, w, count(*) AS cw
        |       FROM (SELECT c, unnest(a) AS w FROM tra) GROUP BY 1, 2),
        |totc AS (SELECT c, CAST(sum(cw) AS BIGINT) AS tot FROM cw GROUP BY 1),
        |vocab AS (SELECT DISTINCT w FROM cw),
        |v AS (SELECT count(*) AS v FROM vocab),
        |nc AS (SELECT lang AS c, count(*) AS nc FROM documents
        |       WHERE doc_id % 5 != 0 GROUP BY 1),
        |n AS (SELECT CAST(sum(nc) AS BIGINT) AS n FROM nc),
        |classes AS (
        |  SELECT totc.c, tot, v.v,
        |         CASE WHEN n.n >= (nc.nc << (length(bin(n.n)) - length(bin(nc.nc))))
        |              THEN length(bin(n.n)) - length(bin(nc.nc))
        |              ELSE length(bin(n.n)) - length(bin(nc.nc)) - 1
        |         END AS pbits
        |  FROM totc JOIN nc USING (c) CROSS JOIN v CROSS JOIN n),
        |tea AS (
        |  SELECT doc_id, lang AS true_lang,
        |         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |              ELSE list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') END AS a
        |  FROM documents WHERE doc_id % 5 = 0),
        |tw AS (SELECT doc_id, w, count(*) AS m
        |       FROM (SELECT doc_id, unnest(a) AS w FROM tea) GROUP BY 1, 2),
        |twv AS (SELECT tw.* FROM tw JOIN vocab USING (w)),
        |grid AS (
        |  SELECT t.doc_id, t.m, cl.c, cl.pbits,
        |         (cl.tot + cl.v) AS ga, (coalesce(cw.cw, 0) + 1) AS gb
        |  FROM twv t CROSS JOIN classes cl
        |  LEFT JOIN cw ON cw.c = cl.c AND cw.w = t.w),
        |bits AS (
        |  SELECT doc_id, c, m, pbits,
        |         CASE WHEN ga >= (gb << (length(bin(ga)) - length(bin(gb))))
        |              THEN length(bin(ga)) - length(bin(gb))
        |              ELSE length(bin(ga)) - length(bin(gb)) - 1
        |         END AS b
        |  FROM grid),
        |scores AS (
        |  SELECT doc_id, c, CAST(sum(m * b) + max(pbits) AS BIGINT) AS score
        |  FROM bits GROUP BY 1, 2),
        |pred AS (
        |  SELECT doc_id, c, score,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY score, c) AS rn
        |  FROM scores),
        |second AS (SELECT doc_id, score AS s2 FROM pred WHERE rn = 2)
        |SELECT p.doc_id, te.true_lang, p.c AS pred_lang, p.score AS score_bits,
        |       sec.s2 - p.score AS margin_bits
        |FROM pred p JOIN (SELECT DISTINCT doc_id, true_lang FROM tea) te
        |  USING (doc_id)
        |LEFT JOIN second sec USING (doc_id)
        |WHERE rn = 1""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        val preds = graft.operators.LanguageModel.naiveBayesClassify(
          docs.filter(col("doc_id") % 5 =!= 0), col("lang"), col("text"),
          docs.filter(col("doc_id") % 5 === 0), "doc_id", col("text"))
        preds.join(docs.select(col("doc_id"), col("lang").as("true_lang")),
            Seq("doc_id"))
          .select(col("doc_id"), col("true_lang"),
            col("pred_class").as("pred_lang"), col("score_bits"),
            col("margin_bits"))
      }
    },

    // SKEW DIAGNOSIS report over the events user dimension: the top-20
    // hottest keys with exact share, ×-mean skew, and the salt factor
    // that would level each — the evidence a pipeline gathers BEFORE
    // keying a 100 TB join. Pure integer arithmetic over one count
    // aggregate; the oracle recomputes every ratio from scratch.
    QueryDef.sql("q168_skew_report",
      """WITH c AS (SELECT user_id AS key, count(*) AS n_rows
        |           FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t,
        |             count(*) AS k FROM c)
        |SELECT key, n_rows,
        |       (1000000 * n_rows) // t.t AS share_ppm,
        |       (1000 * n_rows * t.k) // t.t AS skew_x_milli,
        |       (n_rows * t.k + t.t - 1) // t.t AS salt_factor
        |FROM c CROSS JOIN t
        |ORDER BY n_rows DESC, key LIMIT 20""".stripMargin) {
      (s, d) =>
        Profiling.skewReport(Tables.events(s, d), col("user_id"), topK = 20)
    },

    // SOURCE VOCABULARY OVERLAP: pairwise Jaccard of per-source token
    // sets — the corpus-level similarity audit (which sources are
    // near-mirrors, where a new crawl actually adds coverage). The
    // intersection self-join keys on the word, fan-out bounded by
    // |sources| — never word-frequency-quadratic.
    QueryDef.sql("q169_source_vocab_overlap",
      """WITH arr AS (
        |  SELECT source,
        |         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |              ELSE list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') END AS a
        |  FROM documents),
        |links AS (SELECT DISTINCT source AS g, unnest(a) AS i FROM arr),
        |sizes AS (SELECT g, count(*) AS n FROM links GROUP BY 1),
        |inter AS (
        |  SELECT x.g AS group_a, y.g AS group_b, count(*) AS n_inter
        |  FROM links x JOIN links y ON x.i = y.i AND x.g < y.g
        |  GROUP BY 1, 2)
        |SELECT i.group_a, i.group_b, sa.n AS n_a, sb.n AS n_b, i.n_inter,
        |       (1000000 * i.n_inter) // (sa.n + sb.n - i.n_inter) AS jaccard_ppm
        |FROM inter i
        |JOIN sizes sa ON sa.g = i.group_a
        |JOIN sizes sb ON sb.g = i.group_b""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        Profiling.groupSetOverlap(
          docs.select(col("source"),
            explode(graft.functions.TextFunctions.tokens(col("text"))).as("__w")),
          col("source"), col("__w"))
      }
    },

    // JOIN-SIZE ESTIMATION from two count-min sketches — optimizer
    // statistics without executing the join: |orders ⋈ customer| is
    // upper-bounded by the min-over-rows inner product of the two
    // sketches (collision cross-terms only ever ADD). Both the exact
    // size and the deterministic estimate are in the gated row, so the
    // contract est ≥ exact is itself hash-verified; the oracle rebuilds
    // every sketch cell from the bit-exact XXH64 chains (q120's
    // machinery) and takes the same per-row dot products.
    QueryDef.sql("q170_join_size_estimate", {
      import XxHash64Sql._
      val depth = 3; val width = 4096
      def cellCtes(table: String, keyCol: String, tag: String): (Seq[String], Seq[String]) = {
        var ctes = List.empty[String]
        var src = table
        val cellNames = (0 until depth).map { i =>
          val (steps, h) = hashLongSteps(s2u(keyCol), seedU64(i), s"${tag}H$i")
          val (c, last) = chainCtes(src, steps, s"${tag}c$i")
          ctes :+= c; src = last
          val cn = s"${tag}cells$i"
          ctes :+= s"$cn AS (SELECT (($h) % $width) AS b, count(*) AS c FROM $last GROUP BY 1)"
          cn
        }
        (ctes, cellNames)
      }
      val (aCtes, aCells) = cellCtes("orders", "o_custkey", "A")
      val (bCtes, bCells) = cellCtes("customer", "c_custkey", "B")
      val dots = (0 until depth).map(i =>
        s"d$i AS (SELECT coalesce(sum(a.c * b.c), 0) AS v " +
          s"FROM ${aCells(i)} a JOIN ${bCells(i)} b USING (b))")
      s"""WITH ${(aCtes ++ bCtes ++ dots).mkString(",\n")},
         |ex AS (SELECT count(*) AS exact_size
         |       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
         |SELECT ex.exact_size,
         |       CAST(least(${(0 until depth).map(i => s"(SELECT v FROM d$i)").mkString(", ")})
         |            AS BIGINT) AS cm_est
         |FROM ex""".stripMargin
    }) {
      (s, d) => {
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val est = Sketches.joinSizeEstimate(o, col("o_custkey"),
          c, col("c_custkey"), depth = 3, width = 4096)
        val exact = o.join(c, col("o_custkey") === col("c_custkey"))
          .agg(count(lit(1)).as("exact_size"))
        exact.crossJoin(broadcast(est))
          .select(col("exact_size"), col("cm_join_size").as("cm_est"))
      }
    },

    // LABEL PROPAGATION community detection (3 synchronous rounds,
    // min-label tie-break) over the part co-occurrence graph — parts
    // bought together in ≥ 2 orders (sparse: real community structure,
    // unlike the near-clique supplier graph). Fixed rounds + total-
    // order tie-break make the heuristic bit-deterministic; the oracle
    // unrolls the same three rounds as chained CTEs.
    QueryDef.sql("q171_label_propagation", {
      def round(i: Int): String =
        s"""c${i + 1} AS (
           |  SELECT e.b AS node, l$i.community, count(*) AS n
           |  FROM e JOIN l$i ON e.a = l$i.node GROUP BY 1, 2),
           |l${i + 1} AS (
           |  SELECT node, community FROM c${i + 1}
           |  QUALIFY row_number() OVER (PARTITION BY node
           |                             ORDER BY n DESC, community) = 1)""".stripMargin
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS k, l_partkey AS i FROM lineitem),
         |kept AS (
         |  SELECT items.k, items.i FROM items
         |  JOIN (SELECT k, count(*) AS n FROM items GROUP BY 1) sz
         |    ON items.k = sz.k
         |  WHERE sz.n <= 1000),
         |e0 AS (
         |  SELECT x.i AS a, y.i AS b
         |  FROM kept x JOIN kept y ON x.k = y.k AND x.i < y.i
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
         |nodes AS (SELECT DISTINCT a AS node FROM e),
         |l0 AS (SELECT node, node AS community FROM nodes),
         |${(0 until 3).map(round).mkString(",\n")}
         |SELECT node, community FROM l3""".stripMargin
    }) {
      (s, d) => {
        val edges = Graphs.cooccurrenceEdges(
          Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", minShared = 2, maxBasketSize = 1000)
          .select("a", "b")
        Graphs.labelPropagation(edges, rounds = 3)
      }
    },

    // ASSOCIATION RULES (market basket) over order→part baskets:
    // directional confidence, exact-integer support/lift in ppm, rules
    // pruned by shared-basket count, top-100 under the strict
    // (lift, support, a, b) order. The hub cap and the marginals share
    // ONE capped basket set, so a degenerate basket is one uniform
    // filter on both sides of every ratio.
    QueryDef.sql("q172_association_rules",
      """WITH links AS (
        |  SELECT DISTINCT l_orderkey AS k, l_partkey AS i FROM lineitem),
        |kept AS (
        |  SELECT links.k, links.i FROM links
        |  JOIN (SELECT k, count(*) AS n FROM links GROUP BY 1) sz
        |    ON links.k = sz.k
        |  WHERE sz.n <= 1000),
        |nb AS (SELECT count(DISTINCT k) AS nb FROM kept),
        |itn AS (SELECT i, count(*) AS ni FROM kept GROUP BY 1),
        |p AS (
        |  SELECT x.i AS a, y.i AS b, count(*) AS n_ab
        |  FROM kept x JOIN kept y ON x.k = y.k AND x.i != y.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT a, b, n_ab, na.ni AS n_a, nbb.ni AS n_b,
        |       (1000000 * n_ab) // nb.nb AS support_ppm,
        |       (1000000 * n_ab) // na.ni AS confidence_ppm,
        |       (1000000 * n_ab * nb.nb) // (na.ni * nbb.ni) AS lift_ppm
        |FROM p JOIN itn na ON p.a = na.i JOIN itn nbb ON p.b = nbb.i
        |CROSS JOIN nb
        |ORDER BY lift_ppm DESC, support_ppm DESC, a, b LIMIT 100""".stripMargin) {
      (s, d) =>
        Graphs.associationRules(
          Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", minShared = 2, maxBasketSize = 1000,
          topK = 100)
    },

    // BINARY CHUNK-FINGERPRINT near-dup over the multimodal blob
    // column (storage-dedup applied to opaque media): blobs sharing
    // ≥ 2 position-aligned 64-byte chunks. Spark shuffles only 8-byte
    // xxhash64 fingerprints; the oracle joins on the chunk CONTENT
    // (hex slices) — an independent derivation that also witnesses
    // zero 64-bit collisions on this corpus.
    QueryDef.sql("q173_chunk_neardup",
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS hx FROM documents
        |  WHERE octet_length(encode(text)) > 0),
        |ch0 AS (
        |  SELECT doc_id, hx,
        |         CAST(ceil((length(hx) / 2) / 64.0) AS BIGINT) AS nc
        |  FROM b),
        |ch1 AS (
        |  SELECT doc_id, nc, hx,
        |         unnest(generate_series(0, CAST(nc - 1 AS INT))) AS idx
        |  FROM ch0),
        |c2 AS (
        |  SELECT doc_id, nc, idx,
        |         substring(hx, CAST(1 + idx * 128 AS BIGINT), 128) AS c
        |  FROM ch1),
        |hot AS (SELECT idx, c FROM c2 GROUP BY 1, 2 HAVING count(*) > 100),
        |kept AS (
        |  SELECT c2.* FROM c2
        |  WHERE NOT EXISTS (SELECT 1 FROM hot h
        |                    WHERE h.idx = c2.idx AND h.c = c2.c)),
        |p AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_shared,
        |         max(x.nc) AS n_chunks_a, max(y.nc) AS n_chunks_b
        |  FROM kept x JOIN kept y
        |    ON x.idx = y.idx AND x.c = y.c AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT id_a, id_b, n_shared, n_chunks_a, n_chunks_b,
        |       (1000000 * n_shared) // least(n_chunks_a, n_chunks_b)
        |         AS overlap_ppm
        |FROM p""".stripMargin) {
      (s, d) =>
        graft.operators.Multimodal.chunkHashPairs(
          graft.operators.Multimodal.packBlobs(Tables.documents(s, d)),
          "doc_id", "blob", chunkBytes = 64, minShared = 2,
          maxDocsPerChunk = 100)
    },

    // k-CORE (k=3, 4 peeling rounds) of the part co-occurrence graph:
    // the dense-core extraction degree alone can't do — a surviving
    // part has ≥ 3 co-purchase partners that THEMSELVES survive.
    // Fixed synchronous rounds make the peel a value contract; the
    // oracle unrolls the identical four rounds.
    QueryDef.sql("q175_kcore", {
      def round(i: Int): String =
        s"""k${i + 1} AS (SELECT src FROM e$i GROUP BY src HAVING count(*) >= 3),
           |e${i + 1} AS (
           |  SELECT e.src, e.dst FROM e$i e
           |  JOIN k${i + 1} a ON e.src = a.src
           |  JOIN k${i + 1} b ON e.dst = b.src)""".stripMargin
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS k, l_partkey AS i FROM lineitem),
         |kept AS (
         |  SELECT items.k, items.i FROM items
         |  JOIN (SELECT k, count(*) AS n FROM items GROUP BY 1) sz
         |    ON items.k = sz.k
         |  WHERE sz.n <= 1000),
         |ex AS (
         |  SELECT x.i AS a, y.i AS b
         |  FROM kept x JOIN kept y ON x.k = y.k AND x.i < y.i
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |e0 AS (SELECT a AS src, b AS dst FROM ex UNION SELECT b, a FROM ex),
         |${(0 until 4).map(round).mkString(",\n")}
         |SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
         |FROM e4 GROUP BY 1""".stripMargin
    }) {
      (s, d) => {
        val edges = Graphs.cooccurrenceEdges(
          Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", minShared = 2, maxBasketSize = 1000)
          .select("a", "b")
        Graphs.kCore(edges, k = 3, rounds = 4)
      }
    },

    // JSONL ROUND-TRIP: the LLM-corpus interchange contract end to
    // end — documents exported as sharded jsonl.gz (Layout.exportJsonl:
    // to_json escaping, md5-sharded layout, gzip) and read back with
    // the pinned-schema FAILFAST reader (Layout.readJsonl: no inference
    // scan, no silent nulls), hash-compared field by field against the
    // parquet originals. A lossy escape, a compression fault, or a
    // type-widening parse would all break the md5 column.
    QueryDef.sql("q202_jsonl_roundtrip",
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        // exit-cleaned, stale-swept per-JVM scratch (see Scratch)
        val dir = graft.operators.Scratch.dir(
          s"graft_jsonl_${new java.io.File(d).getName}")
        graft.operators.Layout.exportJsonl(docs, "doc_id", dir,
          numShards = 4, compression = Some("gzip"))
        graft.operators.Layout.readJsonl(s, dir, docs.schema)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            md5(col("text")).as("text_md5"))
      }
    },

    // ZONE-MAP FILE SKIPPING: per-file min/max stats (Layout.zoneMap)
    // under a partkey-CLUSTERED layout vs a modulo-SCATTERED layout,
    // probed with the predicate l_partkey BETWEEN 100 AND 199 — the
    // lakehouse scan-planning mechanism as a measurable value: the
    // clustered layout's map prunes all but the overlapping range
    // files, the scattered layout scans everything. rows_matched
    // (identical on both rows) anchors that pruning loses nothing.
    QueryDef.sql("q176_zone_map_skipping",
      """WITH mx AS (SELECT max(l_partkey) AS m FROM lineitem),
        |assigned AS (
        |  SELECT l_partkey,
        |         (l_partkey * 32) // (mx.m + 1) AS f_clustered,
        |         l_partkey % 32 AS f_scattered
        |  FROM lineitem CROSS JOIN mx),
        |zc AS (SELECT f_clustered AS f, count(*) AS n, min(l_partkey) AS lo,
        |              max(l_partkey) AS hi FROM assigned GROUP BY 1),
        |zh AS (SELECT f_scattered AS f, count(*) AS n, min(l_partkey) AS lo,
        |              max(l_partkey) AS hi FROM assigned GROUP BY 1),
        |matched AS (SELECT count(*) AS rm FROM lineitem
        |            WHERE l_partkey BETWEEN 100 AND 199)
        |SELECT 'clustered' AS layout, count(*) AS n_files,
        |       CAST(sum(CASE WHEN lo <= 199 AND hi >= 100 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS hit_files,
        |       CAST(sum(CASE WHEN lo <= 199 AND hi >= 100 THEN n ELSE 0 END)
        |            AS BIGINT) AS rows_scanned,
        |       (SELECT rm FROM matched) AS rows_matched
        |FROM zc
        |UNION ALL
        |SELECT 'scattered', count(*),
        |       CAST(sum(CASE WHEN lo <= 199 AND hi >= 100 THEN 1 ELSE 0 END)
        |            AS BIGINT),
        |       CAST(sum(CASE WHEN lo <= 199 AND hi >= 100 THEN n ELSE 0 END)
        |            AS BIGINT),
        |       (SELECT rm FROM matched)
        |FROM zh""".stripMargin) {
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val mx = li.agg(max("l_partkey").as("__m"))
        val matched = li.filter(col("l_partkey").between(100, 199))
          .agg(count(lit(1)).as("rows_matched"))
        def layoutStats(label: String, fileCol: org.apache.spark.sql.Column) = {
          val zm = graft.operators.Layout.zoneMap(
            li.crossJoin(broadcast(mx)).withColumn("__f", fileCol),
            col("__f"), Seq("l_partkey"))
          val hit = col("__lo") <= 199 && col("__hi") >= 100
          zm.select(col("file_id"), col("n_rows"),
              col("min_val").cast("long").as("__lo"),
              col("max_val").cast("long").as("__hi"))
            .agg(count(lit(1)).as("n_files"),
              sum(when(hit, 1L).otherwise(0L)).as("hit_files"),
              sum(when(hit, col("n_rows")).otherwise(0L)).as("rows_scanned"))
            .select(lit(label).as("layout"), col("n_files"), col("hit_files"),
              col("rows_scanned"))
        }
        layoutStats("clustered",
            expr("(l_partkey * 32) div (__m + 1)"))
          .unionByName(layoutStats("scattered",
            pmod(col("l_partkey"), lit(32))))
          .crossJoin(broadcast(matched))
      }
    },

    // TOKENIZER FERTILITY per language — the tokenizer-fairness audit
    // (how many subwords a whitespace word costs, bytes per char) that
    // decides whether a vocabulary under-serves a language. Exact
    // integer milli ratios over one aggregate of existing engine
    // functions (q25 tokens / q41 subwords).
    QueryDef.sql("q177_tokenizer_fertility",
      """WITH per AS (
        |  SELECT lang,
        |         CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) END AS toks,
        |         len(regexp_extract_all(text, '[\p{L}\p{N}]+|[^\p{L}\p{N}\s]')) AS subs,
        |         length(text) AS chars,
        |         octet_length(encode(text)) AS bytes
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(toks) AS BIGINT) AS tokens_total,
        |       CAST(sum(subs) AS BIGINT) AS subwords_total,
        |       CAST((1000 * sum(subs)) // sum(toks) AS BIGINT) AS subwords_per_token_milli,
        |       CAST((1000 * sum(bytes)) // sum(chars) AS BIGINT) AS bytes_per_char_milli,
        |       CAST((1000 * sum(chars)) // sum(toks) AS BIGINT) AS chars_per_token_milli
        |FROM per GROUP BY 1""".stripMargin) {
      (s, d) => {
        import graft.functions.TextFunctions.{subwordCount, tokenCount}
        Tables.documents(s, d)
          .select(col("lang"), tokenCount(col("text")).as("__t"),
            subwordCount(col("text")).as("__s"),
            length(col("text")).cast("long").as("__c"),
            length(encode(col("text"), "UTF-8")).cast("long").as("__b"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("__t").as("tokens_total"),
            sum("__s").as("subwords_total"),
            expr("(1000 * sum(__s)) div sum(__t)").as("subwords_per_token_milli"),
            expr("(1000 * sum(__b)) div sum(__c)").as("bytes_per_char_milli"),
            expr("(1000 * sum(__c)) div sum(__t)").as("chars_per_token_milli"))
      }
    },

    // NEAR-CONTAINMENT pairs — the asymmetric duplication Jaccard
    // misses (a short doc quoted inside a long one): ≥ 60% of the
    // smaller side's shingles shared, over the df ≤ 50 informative-
    // shingle universe (sizes and intersections share the SAME filter,
    // so the ratio is exact and ≤ 10⁶). Oracle is the brute-force
    // join over the identically filtered universe.
    QueryDef.sql("q178_containment_pairs",
      """WITH toks AS (
        |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |                      ELSE list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') END AS t
        |  FROM documents),
        |shl AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(CASE WHEN len(t) = 0 THEN []::VARCHAR[]
        |                     WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |                     ELSE list_transform(generate_series(1, len(t) - 2),
        |                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS g
        |  FROM toks),
        |sh2 AS (
        |  SELECT shl.* FROM shl
        |  WHERE NOT EXISTS (SELECT 1 FROM (SELECT g FROM shl GROUP BY g
        |                                   HAVING count(*) > 50) h
        |                    WHERE h.g = shl.g)),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |      FROM sh2 a JOIN sh2 b ON a.g = b.g AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |s AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY 1)
        |SELECT id_a, id_b, inter,
        |       (1000000 * inter) // least(sa.n, sb.n) AS containment_ppm
        |FROM p JOIN s sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b
        |WHERE (1000000 * inter) // least(sa.n, sb.n) >= 600000""".stripMargin) {
      (s, d) =>
        Dedup.containmentPairs(Tables.documents(s, d), "doc_id", col("text"),
          n = 3, minContainmentPpm = 600000, maxDf = 50)
    },

    // NOVELTY SCORE vs a reference corpus (q48's contamination gate
    // generalized to a per-doc fraction): what share of each incoming
    // doc's shingles the reference has never seen — the freshness /
    // leakage dial. Reference = the doc_id % 50 = 0 slice.
    QueryDef.sql("q179_novelty_score",
      """WITH mk AS (
        |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |                      ELSE list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') END AS t
        |  FROM documents),
        |shl AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(CASE WHEN len(t) = 0 THEN []::VARCHAR[]
        |                     WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |                     ELSE list_transform(generate_series(1, len(t) - 2),
        |                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS g
        |  FROM mk),
        |ref AS (SELECT DISTINCT g FROM shl WHERE doc_id % 50 = 0),
        |corpus AS (SELECT * FROM shl WHERE doc_id % 50 != 0)
        |SELECT c.doc_id, count(*) AS n_shingles,
        |       CAST(sum(CASE WHEN r.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_novel,
        |       CAST((1000000 * sum(CASE WHEN r.g IS NULL THEN 1 ELSE 0 END))
        |            // count(*) AS BIGINT) AS novelty_ppm
        |FROM corpus c LEFT JOIN ref r ON c.g = r.g
        |GROUP BY 1""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.noveltyScore(
          docs.filter(col("doc_id") % 50 =!= 0), "doc_id", col("text"),
          docs.filter(col("doc_id") % 50 === 0), col("text"), n = 3)
      }
    },

    // MATRYOSHKA TRUNCATION EVAL: top-1 neighbor agreement between the
    // full 8-dim embedding and its 4-dim prefix — the measurement that
    // decides whether a cheaper truncated index is safe. Pure
    // composition of the exact top-k machinery over sliced vectors.
    QueryDef.sql("q180_matryoshka_eval",
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
        |full_sc AS (
        |  SELECT q.vec_id AS query_id, v.vec_id AS nid,
        |    CAST(round(
        |      list_sum(list_transform(list_zip(q.embedding, v.embedding),
        |               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      * 1000000.0) AS BIGINT) AS c
        |  FROM q, embeddings v WHERE v.vec_id <> q.vec_id),
        |tr AS (SELECT vec_id, embedding[1:4] AS e FROM embeddings),
        |tq AS (SELECT vec_id, e FROM tr WHERE vec_id < 50),
        |tr_sc AS (
        |  SELECT tq.vec_id AS query_id, v.vec_id AS nid,
        |    CAST(round(
        |      list_sum(list_transform(list_zip(tq.e, v.e),
        |               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(tq.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(v.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      * 1000000.0) AS BIGINT) AS c
        |  FROM tq, tr v WHERE v.vec_id <> tq.vec_id),
        |tf AS (SELECT query_id, nid FROM full_sc
        |       QUALIFY row_number() OVER (PARTITION BY query_id
        |                                  ORDER BY c DESC, nid) = 1),
        |tt AS (SELECT query_id, nid FROM tr_sc
        |       QUALIFY row_number() OVER (PARTITION BY query_id
        |                                  ORDER BY c DESC, nid) = 1)
        |SELECT tf.query_id, tf.nid AS top_full, tt.nid AS top_trunc,
        |       tf.nid = tt.nid AS agree
        |FROM tf JOIN tt USING (query_id)""".stripMargin) {
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val tr = e.select(col("vec_id"), slice(col("embedding"), 1, 4).as("embedding"))
        val full = Similarity.bruteForceTopK(e, "vec_id", "embedding",
            e.filter(col("vec_id") < 50), "vec_id", "embedding", k = 1)
          .select(col("query_id"), col("neighbor_id").as("top_full"))
        val trunc = Similarity.bruteForceTopK(tr, "vec_id", "embedding",
            tr.filter(col("vec_id") < 50), "vec_id", "embedding", k = 1)
          .select(col("query_id"), col("neighbor_id").as("top_trunc"))
        full.join(trunc, Seq("query_id"))
          .withColumn("agree", col("top_full") === col("top_trunc"))
      }
    },

    // INTEGER EWMA (α = 1/8) of event values per type — the smoothed
    // monitoring signal as a bit-portable recurrence. The engine side
    // floors via arithmetic shift; DuckDB's integer `//` TRUNCATES
    // toward zero (unlike its documented float behavior), so the
    // oracle applies the explicit floor correction for negative
    // differences — the trunc-vs-floor trap handled where it actually
    // lives. The fold replays over the identically-ordered list.
    QueryDef.sql("q181_ewma",
      """WITH o AS (
        |  SELECT event_type,
        |         list(struct_pack(t := epoch_us(ts),
        |                          v := CAST(round(value * 100) AS BIGINT))
        |              ORDER BY epoch_us(ts), CAST(round(value * 100) AS BIGINT))
        |           AS s
        |  FROM events GROUP BY 1)
        |SELECT event_type, CAST(len(s) AS BIGINT) AS n_obs,
        |       CAST(list_reduce(
        |         list_prepend(s[1].v, list_transform(s[2:len(s)], e -> e.v)),
        |         (acc, x) -> acc + (x - acc) // 8
        |                     - CASE WHEN (x - acc) < 0 AND (x - acc) % 8 != 0
        |                            THEN 1 ELSE 0 END) AS BIGINT) AS ewma_cents
        |FROM o""".stripMargin) {
      (s, d) =>
        graft.operators.TimeSeries.ewmaInteger(Tables.events(s, d),
          "event_type", unix_micros(col("ts")),
          round(col("value") * 100), shiftK = 3)
    },

    // SCHEMA-EVOLUTION UNION: merge two snapshot generations whose
    // schemas drifted (the new one adds discount_cents, the old one
    // lacks it) by NAME with null back-fill — `unionByName(
    // allowMissingColumns)` against DuckDB's UNION ALL BY NAME. The
    // everyday lakehouse ingestion pattern that positional UNION
    // silently corrupts.
    QueryDef.sql("q182_schema_evolution_union",
      """SELECT o_orderkey, o_custkey,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |       'v1' AS gen
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL BY NAME
        |SELECT o_orderkey, o_custkey,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |       CAST(round(o_totalprice) AS BIGINT) AS discount_cents,
        |       'v2' AS gen
        |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin) {
      (s, d) => {
        val o = Tables.orders(s, d)
        val v1 = o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            round(col("o_totalprice") * 100).cast("long").as("price_cents"),
            lit("v1").as("gen"))
        val v2 = o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_custkey"),
            round(col("o_totalprice") * 100).cast("long").as("price_cents"),
            round(col("o_totalprice")).cast("long").as("discount_cents"),
            lit("v2").as("gen"))
        v1.unionByName(v2, allowMissingColumns = true)
      }
    },

    // INTERVAL COVERAGE (gaps-and-islands union of half-open spans):
    // per user, merge overlapping activity intervals (event start +
    // value-scaled duration) and report exact covered time — the
    // uptime/SLA primitive. Both windows share one key-partitioned
    // exchange; tie order (s, e) makes the island ids a value.
    QueryDef.sql("q191_interval_coverage",
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s,
        |         epoch_us(ts) + CAST(round(value * 1000000) AS BIGINT) AS e
        |  FROM events),
        |f AS (SELECT * FROM iv WHERE e > s),
        |m AS (SELECT user_id, s, e,
        |             max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |                          ROWS BETWEEN UNBOUNDED PRECEDING
        |                          AND 1 PRECEDING) AS pm
        |      FROM f),
        |n AS (SELECT *, CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS ni
        |      FROM m),
        |isl AS (SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY s, e
        |                                ROWS BETWEEN UNBOUNDED PRECEDING
        |                                AND CURRENT ROW) AS island
        |        FROM n),
        |g AS (SELECT user_id, island, count(*) AS n, min(s) AS i_s, max(e) AS i_e
        |      FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(n) AS BIGINT) AS n_intervals,
        |       count(*) AS n_islands,
        |       CAST(sum(i_e - i_s) AS BIGINT) AS covered_us
        |FROM g GROUP BY 1""".stripMargin) {
      (s, d) =>
        graft.operators.TimeSeries.intervalCoverage(Tables.events(s, d),
          "user_id", unix_micros(col("ts")),
          unix_micros(col("ts")) + round(col("value") * 1e6).cast("long"))
    },

    // LINEAR-INTERPOLATION RESAMPLE (the numeric twin of q129's LOCF):
    // hourly grid per event type, gaps filled by the integer straight
    // line between surrounding observations with the explicit
    // negative-slope floor correction baked into the formula on BOTH
    // engines (the q181 trunc-vs-floor lesson).
    QueryDef.sql("q192_resample_linear",
      """WITH obs AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
        |         CAST(max_by(CAST(round(value * 100) AS BIGINT), event_id)
        |              AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, bucket_ts, v,
        |         lead(bucket_ts) OVER w AS nts, lead(v) OVER w AS nv
        |  FROM obs WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)),
        |g AS (
        |  SELECT event_type, bucket_ts, v, nv,
        |         (epoch_us(nts) - epoch_us(bucket_ts)) // 3600000000 AS n
        |  FROM l),
        |e AS (
        |  SELECT event_type, bucket_ts, v, nv, n,
        |         unnest(generate_series(0,
        |           CAST(least(coalesce(n - 1, 0), 100000) AS BIGINT))) AS k
        |  FROM g)
        |SELECT event_type,
        |       bucket_ts + to_microseconds(k * 3600000000) AS bucket_ts,
        |       CAST(v + CASE WHEN k = 0 THEN 0
        |                ELSE ((nv - v) * k) // n
        |                     - (CASE WHEN ((nv - v) * k) % n != 0
        |                              AND (nv - v) < 0 THEN 1 ELSE 0 END)
        |                END AS BIGINT) AS value_cents,
        |       k = 0 AS observed
        |FROM e""".stripMargin) {
      (s, d) =>
        graft.operators.TimeSeries.resampleLinear(Tables.events(s, d),
          "event_type", "ts", round(col("value") * 100), "value_cents",
          "event_id", bucket = "hour")
    },

    // STRATIFIED 5-FOLD assignment: round-robin folds in md5-rank
    // order within each source — every fold carries an exact
    // ⌈n_s/5⌉/⌊n_s/5⌋ share of every stratum, the cross-validation
    // guarantee a Bernoulli hash split only hits in expectation.
    QueryDef.sql("q196_stratified_kfold",
      """SELECT doc_id, source,
        |       CAST((row_number() OVER (PARTITION BY source
        |                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
        |                                         doc_id) - 1) % 5 AS BIGINT)
        |         AS fold
        |FROM documents""".stripMargin) {
      (s, d) =>
        graft.operators.Sampling.stratifiedKFold(
          Tables.documents(s, d).select(col("doc_id"), col("source")),
          "doc_id", "source", k = 5)
    },

    // GOPHER-STYLE quality rules (Rae et al.) as one integer bundle:
    // word-count window, mean word length, symbol ratio, stopword
    // presence, and the conjunction — the named filter battery most
    // curation stacks start from, hash-verified field by field.
    QueryDef.sql("q197_gopher_rules",
      """WITH t AS (
        |  SELECT doc_id, text,
        |         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |              ELSE list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') END AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
        |         CASE WHEN len(toks) = 0 THEN 0
        |              ELSE CAST(round(list_sum(list_transform(toks, x -> length(x)))
        |                        * 1000.0 / len(toks)) AS BIGINT) END
        |           AS mean_word_len_milli,
        |         CAST(len(regexp_extract_all(text, '[#…]|\.\.\.'))
        |           AS BIGINT) AS n_symbols,
        |         CAST(len(list_filter(toks,
        |              x -> x IN ('the','and','of','to','is'))) AS BIGINT)
        |           AS stopword_hits
        |  FROM t)
        |SELECT doc_id, n_words, mean_word_len_milli, n_symbols, stopword_hits,
        |       (n_words >= 50 AND n_words <= 100000
        |        AND mean_word_len_milli >= 3000 AND mean_word_len_milli <= 10000
        |        AND n_symbols * 10 <= n_words
        |        AND stopword_hits >= 2) AS passes
        |FROM m""".stripMargin) {
      (s, d) => {
        import graft.functions.TextFunctions.gopherRules
        Tables.documents(s, d)
          .select(col("doc_id"),
            gopherRules(col("text"), Seq("the", "and", "of", "to", "is")).as("g"))
          .select(col("doc_id"), col("g.n_words"), col("g.mean_word_len_milli"),
            col("g.n_symbols"), col("g.stopword_hits"), col("g.passes"))
      }
    },

    // GOPHER REPETITION rules (Rae et al. Table A1): duplicate-line
    // fractions, top-{2,3,4}-gram character claims, and duplicated
    // {5,10}-gram character COVERAGE (overlaps counted once), all ppm
    // integers. The corpus has no intra-doc 5-gram repeats or
    // newlines, so those fields gate the zero path here; the synthetic
    // spec exercises them positively (the q49 clean-corpus precedent).
    QueryDef.sql("q201_gopher_repetition",
      """WITH base AS (
        |  SELECT doc_id, coalesce(text, '') AS t,
        |         CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
        |              ELSE list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') END AS tk
        |  FROM documents),
        |tot AS (
        |  SELECT doc_id, t, tk, len(tk) AS nt,
        |         CASE WHEN len(tk) = 0 THEN 0
        |              ELSE list_sum(list_transform(tk, x -> length(x))) + len(tk) - 1 END AS tc
        |  FROM base),
        |lstats AS (
        |  SELECT doc_id, string_split(t, chr(10)) AS ls FROM tot),
        |lineppm AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ls) = 0 THEN 0
        |         ELSE (1000000 * (len(ls) - len(list_distinct(ls)))) // len(ls) END AS dup_line_ppm,
        |    CASE WHEN coalesce(list_sum(list_transform(ls, x -> length(x))), 0) = 0 THEN 0
        |         ELSE (1000000 * (list_sum(list_transform(ls, x -> length(x)))
        |               - list_sum(list_transform(list_distinct(ls), x -> length(x)))))
        |              // list_sum(list_transform(ls, x -> length(x))) END AS dup_line_char_ppm
        |  FROM lstats),
        |gr AS (
        |  SELECT doc_id, tc, n,
        |         unnest(list_transform(generate_series(1, greatest(nt - (n - 1), 0)),
        |                i -> array_to_string(tk[i:i+n-1], ' '))) AS g
        |  FROM tot, (VALUES (2), (3), (4)) AS nn(n)),
        |gc AS (SELECT doc_id, tc, n, g, count(*) AS c FROM gr GROUP BY ALL),
        |topg AS (
        |  SELECT doc_id, n, (1000000 * c * length(g)) // tc AS frac
        |  FROM gc
        |  QUALIFY row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, g) = 1),
        |tops AS (
        |  SELECT doc_id,
        |    max(CASE WHEN n = 2 THEN frac END) AS top2_char_ppm,
        |    max(CASE WHEN n = 3 THEN frac END) AS top3_char_ppm,
        |    max(CASE WHEN n = 4 THEN frac END) AS top4_char_ppm
        |  FROM topg GROUP BY 1),
        |sg AS (
        |  SELECT doc_id, tc, n,
        |         unnest(generate_series(1, greatest(nt - (n - 1), 0))) AS s
        |  FROM tot, (VALUES (5), (10)) AS nn(n)),
        |sgg AS (
        |  SELECT sg.doc_id, sg.tc, sg.n, sg.s, array_to_string(t.tk[sg.s:sg.s+sg.n-1], ' ') AS g
        |  FROM sg JOIN tot t USING (doc_id)),
        |dupg AS (
        |  SELECT doc_id, n, g FROM sgg GROUP BY 1, 2, 3 HAVING count(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT x.doc_id, x.n, x.tc, unnest(generate_series(x.s, x.s + x.n - 1)) AS p
        |  FROM sgg x JOIN dupg d ON d.doc_id = x.doc_id AND d.n = x.n AND d.g = x.g),
        |tokl AS (
        |  SELECT doc_id, unnest(generate_series(1, nt)) AS p FROM tot),
        |tokl2 AS (
        |  SELECT k.doc_id, k.p, length(t.tk[k.p]) AS l FROM tokl k JOIN tot t USING (doc_id)),
        |covl AS (
        |  SELECT c.doc_id, c.n, c.tc, c.p, t.l,
        |         CASE WHEN lag(c.p) OVER (PARTITION BY c.doc_id, c.n ORDER BY c.p) = c.p - 1
        |              THEN 1 ELSE 0 END AS adj
        |  FROM cov c JOIN tokl2 t ON t.doc_id = c.doc_id AND t.p = c.p),
        |covagg AS (
        |  SELECT doc_id, n, (1000000 * (sum(l) + sum(adj))) // any_value(tc) AS frac
        |  FROM covl GROUP BY 1, 2),
        |covp AS (
        |  SELECT doc_id,
        |    max(CASE WHEN n = 5 THEN frac END) AS dup5_char_ppm,
        |    max(CASE WHEN n = 10 THEN frac END) AS dup10_char_ppm
        |  FROM covagg GROUP BY 1)
        |SELECT b.doc_id,
        |  CAST(coalesce(l.dup_line_ppm, 0) AS BIGINT) AS dup_line_ppm,
        |  CAST(coalesce(l.dup_line_char_ppm, 0) AS BIGINT) AS dup_line_char_ppm,
        |  CAST(coalesce(tp.top2_char_ppm, 0) AS BIGINT) AS top2_char_ppm,
        |  CAST(coalesce(tp.top3_char_ppm, 0) AS BIGINT) AS top3_char_ppm,
        |  CAST(coalesce(tp.top4_char_ppm, 0) AS BIGINT) AS top4_char_ppm,
        |  CAST(coalesce(cv.dup5_char_ppm, 0) AS BIGINT) AS dup5_char_ppm,
        |  CAST(coalesce(cv.dup10_char_ppm, 0) AS BIGINT) AS dup10_char_ppm
        |FROM tot b
        |LEFT JOIN lineppm l USING (doc_id)
        |LEFT JOIN tops tp USING (doc_id)
        |LEFT JOIN covp cv USING (doc_id)""".stripMargin) {
      (s, d) =>
        graft.functions.TextFunctions.gopherRepetition(
          Tables.documents(s, d), "doc_id", col("text"))
    },

    // GINI CONCENTRATION of tokens across sources — "is this corpus a
    // monoculture" as one exact-integer number; ranks via an
    // inequality self-join of the source-sized frame (no global
    // window). 0 ppm = perfectly even.
    QueryDef.sql("q198_source_gini",
      """WITH s AS (
        |  SELECT source,
        |         CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |                  ELSE len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) END)
        |           AS BIGINT) AS x
        |  FROM documents GROUP BY 1),
        |r AS (
        |  SELECT a.source, a.x, count(*) AS i
        |  FROM s a JOIN s b
        |    ON b.x < a.x OR (b.x = a.x AND b.source <= a.source)
        |  GROUP BY 1, 2),
        |agg AS (SELECT count(*) AS n_groups, CAST(sum(x) AS BIGINT) AS total_weight,
        |               CAST(sum(i * x) AS BIGINT) AS ix
        |        FROM r)
        |SELECT n_groups, total_weight,
        |       CAST((2 * ix * 1000000) // (n_groups * total_weight)
        |            - ((n_groups + 1) * 1000000) // n_groups AS BIGINT) AS gini_ppm
        |FROM agg""".stripMargin) {
      (s, d) =>
        Profiling.giniConcentration(Tables.documents(s, d), col("source"),
          graft.functions.TextFunctions.tokenCount(col("text")))
    },

    // PER-SOURCE DEDUP-RATE report: the curation dashboard's first
    // column — which sources are duplicate-heavy (one md5 census per
    // source, exact ppm rate), before any expensive near-dup pass.
    QueryDef.sql("q194_source_dedup_rate",
      """SELECT source, count(*) AS n_docs,
        |       count(*) - count(DISTINCT md5(text)) AS n_dup_docs,
        |       (1000000 * (count(*) - count(DISTINCT md5(text)))) // count(*)
        |         AS dup_rate_ppm
        |FROM documents GROUP BY 1""".stripMargin) {
      (s, d) =>
        Tables.documents(s, d)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dup_docs"),
            expr("(1000000 * (count(1) - count(DISTINCT md5(text)))) div count(1)")
              .as("dup_rate_ppm"))
    },

    // DATASET CARD: the one-pass corpus summary a release ships with —
    // doc/token/char totals, language and source cardinalities, exact
    // duplicate surplus, integer mean quality, split sizes — as a
    // (metric, value) frame. ONE scan: parallel aggregate expressions
    // reshaped long (columnProfile's discipline).
    QueryDef.sql("q193_dataset_card",
      """WITH p AS (
        |  SELECT doc_id, lang, source,
        |         CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) END AS toks,
        |         length(text) AS chars,
        |         md5(text) AS h
        |  FROM documents),
        |a AS (
        |  SELECT count(*) AS n_docs,
        |         CAST(sum(toks) AS BIGINT) AS n_tokens,
        |         CAST(sum(chars) AS BIGINT) AS n_chars,
        |         count(DISTINCT lang) AS n_langs,
        |         count(DISTINCT source) AS n_sources,
        |         count(*) - count(DISTINCT h) AS n_exact_dup_docs
        |  FROM p)
        |SELECT unnest(['n_docs', 'n_tokens', 'n_chars', 'n_langs',
        |               'n_sources', 'n_exact_dup_docs']) AS metric,
        |       unnest([n_docs, n_tokens, n_chars, n_langs,
        |               n_sources, n_exact_dup_docs]) AS value
        |FROM a""".stripMargin) {
      (s, d) => {
        import graft.functions.TextFunctions.tokenCount
        val wide = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"),
            tokenCount(col("text")).as("__t"),
            length(col("text")).cast("long").as("__c"),
            md5(col("text")).as("__h"))
          .agg(count(lit(1)).as("n_docs"), sum("__t").as("n_tokens"),
            sum("__c").as("n_chars"),
            countDistinct(col("lang")).as("n_langs"),
            countDistinct(col("source")).as("n_sources"),
            (count(lit(1)) - countDistinct(col("__h"))).as("n_exact_dup_docs"))
        val metrics = Seq("n_docs", "n_tokens", "n_chars", "n_langs",
          "n_sources", "n_exact_dup_docs")
        wide.select(explode(array(metrics.map(m =>
            struct(lit(m).as("metric"), col(m).cast("long").as("value"))): _*))
            .as("__e"))
          .select(col("__e.metric").as("metric"), col("__e.value").as("value"))
      }
    },

    // PERSONALIZED PageRank (topic-sensitive seed expansion) over the
    // customer→supplier trade graph, seeded at customers 1-5: restart
    // mass returns to the seeds, so ranks measure proximity TO THE
    // SEED SET — the targeted-corpus scorer. Integer micro-mass like
    // q116; the oracle unrolls the same four seeded iterations.
    QueryDef.sql("q190_personalized_pagerank", {
      def it(i: Int): String =
        s"""r${i + 1} AS (
           |  SELECT n.node, n.seed * st.base + (85 * coalesce(inf.s, 0)) // 100 AS r
           |  FROM nodes n CROSS JOIN st
           |  LEFT JOIN (
           |    SELECT e.dst AS node, sum(r$i.r // od.c) AS s
           |    FROM edges e JOIN r$i ON e.src = r$i.node
           |    JOIN outdeg od ON e.src = od.src
           |    GROUP BY e.dst) inf ON n.node = inf.node)""".stripMargin
      s"""WITH edges AS (
         |  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |sd AS (SELECT unnest([2, 4, 6, 8, 10]) AS node),
         |nodes AS (
         |  SELECT node, CASE WHEN node IN (SELECT node FROM sd) THEN 1 ELSE 0 END AS seed
         |  FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges
         |        UNION SELECT node FROM sd)),
         |st AS (SELECT 1000000000000 // (SELECT count(*) FROM sd) AS r0,
         |              (15 * (1000000000000 // (SELECT count(*) FROM sd))) // 100 AS base),
         |outdeg AS (SELECT src, count(*) AS c FROM edges GROUP BY src),
         |r0 AS (SELECT node, seed * st.r0 AS r FROM nodes CROSS JOIN st),
         |${(0 until 4).map(it).mkString(",\n")}
         |SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r4
         |ORDER BY rank_micro DESC, node LIMIT 30""".stripMargin
    }) {
      (s, d) => {
        import s.implicits._
        val edges = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        val seeds = Seq(2L, 4L, 6L, 8L, 10L).toDF("node")
        Graphs.personalizedPageRank(edges, seeds, iterations = 4)
          .orderBy(col("rank_micro").desc, col("node")).limit(30)
      }
    },

    // TRENDING DETECTION by rank movement: per day, event types ranked
    // by volume, each joined to its previous-day rank — "what rose"
    // as a volume-shift-proof signal. Two different window
    // partitionings over the (days × types)-bounded count frame.
    QueryDef.sql("q187_trending_rank",
      """WITH c AS (
        |  SELECT date_trunc('day', ts) AS bucket, event_type AS key,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT bucket, key, n,
        |             CAST(row_number() OVER (PARTITION BY bucket
        |                                     ORDER BY n DESC, key) AS BIGINT) AS rank
        |      FROM c)
        |SELECT bucket, key, n, rank,
        |       lag(rank) OVER (PARTITION BY key ORDER BY bucket) AS prev_rank,
        |       lag(rank) OVER (PARTITION BY key ORDER BY bucket) - rank
        |         AS movement
        |FROM r""".stripMargin) {
      (s, d) =>
        graft.operators.TimeSeries.trendingRank(Tables.events(s, d),
          date_trunc("day", col("ts")), col("event_type"))
    },

    // EVENT PATH TRIGRAMS: the 3-step behavioral motifs per user
    // (transition bigrams one step deeper) — two leads over ONE
    // key-partitioned exchange, top-50 under a strict total order.
    QueryDef.sql("q188_path_trigrams",
      """WITH t AS (SELECT user_id, epoch_us(ts) AS t, event_type AS s1,
        |                  event_id
        |           FROM events),
        |l AS (SELECT s1, lead(s1) OVER w AS s2, lead(s1, 2) OVER w AS s3
        |      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT s1, s2, s3, count(*) AS n
        |FROM l WHERE s3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, s1, s2, s3 LIMIT 50""".stripMargin) {
      (s, d) =>
        graft.operators.TimeSeries.pathTrigrams(Tables.events(s, d),
          "user_id", unix_micros(col("ts")), col("event_type"), "event_id",
          topK = 50)
    },

    // CLUSTER-BALANCED SAMPLE: ≤ 10 embeddings per label cluster by
    // md5-rank — the diversity-preserving subsample that keeps tail
    // clusters represented after clustering (a uniform sample would
    // re-concentrate on the biggest clusters).
    QueryDef.sql("q185_balanced_sample",
      """SELECT vec_id, label, sample_rank FROM (
        |  SELECT vec_id, label,
        |         row_number() OVER (PARTITION BY label
        |                            ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |                                     vec_id) AS sample_rank
        |  FROM embeddings)
        |WHERE sample_rank <= 10""".stripMargin) {
      (s, d) =>
        graft.operators.Sampling.balancedByCluster(
            Tables.embeddings(s, d).select(col("vec_id"), col("label")),
            "vec_id", "label", maxPerCluster = 10)
          .select(col("vec_id"), col("label"), col("sample_rank"))
    },

    // COMPRESSIBILITY quality signal, hash-gated: zlib's exact output
    // is a library-build contract (the real deflate operator,
    // Profiling.compressionRatio, is spec-gated for determinism and
    // ordering), so the GATE runs the cross-engine-exact restatement —
    // RLE run count + alphabet size over the UTF-8 bytes, pure integer
    // arithmetic both engines replicate bit-for-bit.
    QueryDef.sql("q183_compressibility",
      """WITH b AS (
        |  SELECT doc_id,
        |         regexp_extract_all(upper(hex(encode(text))), '..') AS ba
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |         CAST(len(ba) AS BIGINT) AS n_raw_bytes,
        |         CAST(CASE WHEN len(ba) = 0 THEN 0
        |              ELSE 1 + len(list_filter(generate_series(2, len(ba)),
        |                           i -> ba[i] <> ba[i-1])) END AS BIGINT) AS n_runs,
        |         CAST(len(list_distinct(ba)) AS BIGINT) AS n_distinct_bytes
        |  FROM b)
        |SELECT doc_id, n_raw_bytes, n_runs, n_distinct_bytes,
        |       CAST(CASE WHEN n_raw_bytes = 0 THEN 0
        |            ELSE (2000 * n_runs) // n_raw_bytes END AS BIGINT)
        |         AS rle_ratio_milli
        |FROM m""".stripMargin) {
      (s, d) =>
        Profiling.byteCompressibility(Tables.documents(s, d), "doc_id",
          col("text"))
    },

    // WARC ROUND-TRIP: the Common Crawl ingestion contract end to end.
    // Documents are exported as sharded per-record-gzip WARC
    // (Warc.export: warcinfo file head, deterministic urn:uuid record
    // ids from md5, second-precision WARC-Date, id-ordered records)
    // and read back through the DSv2 source (format("warc"), one
    // input partition per file, warc_type filter pushed pre-payload).
    // The oracle re-derives EVERY read-back field from the documents
    // table alone — including warc_offset, rebuilt as the window sum
    // of the exact per-record byte sizes over the in-file order, and
    // warc_file from the shard expression — so a single byte of
    // header drift, a lost record, a mis-ordered shard, or an off-by-
    // one in the parser's offset accounting all hash-mismatch.
    QueryDef.sql("q219_warc_roundtrip", {
      // per-record byte size: WARC/1.0(10) + Type(21) + Record-ID(65)
      // + Date(33) + Target-URI(17+len+2) + Content-Type(26) +
      // Content-Length(16+digits+2) + blank(2) + payload + sep(4)
      """WITH base AS (
        |  SELECT doc_id,
        |         md5(CAST(doc_id AS VARCHAR)) AS h,
        |         'http://corpus.example/doc/' || doc_id AS uri,
        |         TIMESTAMP '2024-01-01 00:00:00'
        |           + (doc_id % 86400) * INTERVAL 1 SECOND AS d,
        |         strlen(text) AS len, md5(text) AS pmd5,
        |         doc_id % 8 AS shard
        |  FROM documents),
        |sized AS (
        |  SELECT *,
        |         10 + 21 + 65 + 33 + (17 + strlen(uri) + 2) + 26
        |           + (16 + strlen(CAST(len AS VARCHAR)) + 2) + 2 + len + 4
        |           AS rec_size
        |  FROM base)
        |SELECT 'urn:uuid:' || substr(h, 1, 8) || '-' || substr(h, 9, 4)
        |         || '-' || substr(h, 13, 4) || '-' || substr(h, 17, 4)
        |         || '-' || substr(h, 21, 12) AS record_id,
        |       uri AS target_uri, d AS warc_date,
        |       'text/plain' AS content_type,
        |       CAST(len AS BIGINT) AS content_length,
        |       CAST(250 + COALESCE(SUM(rec_size) OVER (
        |              PARTITION BY shard ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |            AS BIGINT) AS warc_offset,
        |       printf('part-%05d.warc.gz', shard) AS warc_file,
        |       pmd5 AS payload_md5
        |FROM sized""".stripMargin
    }) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dir = graft.operators.Scratch.dir(
          s"graft_warc_${new java.io.File(d).getName}")
        val staged = docs.select(col("doc_id"),
          concat(lit("http://corpus.example/doc/"), col("doc_id")).as("uri"),
          timestamp_seconds(lit(1704067200L) // 2024-01-01T00:00:00Z
            + pmod(col("doc_id"), lit(86400L))).as("d"),
          col("text"))
        graft.sources.Warc.export(staged, "doc_id", "uri", "d", "text", dir,
          numShards = 8, compress = true, infoDateSecs = 0L,
          shardCol = Some(pmod(col("doc_id"), lit(8))))
        s.read.format("warc").load(dir)
          .filter(col("warc_type") === "response")
          .select(col("record_id"), col("target_uri"), col("warc_date"),
            col("content_type"), col("content_length"), col("warc_offset"),
            col("warc_file"), md5(col("payload")).as("payload_md5"))
      }
    },

    // SMALL-FILE COMPACTION PLAN: the 100 TB lakehouse tax made a
    // deterministic, auditable assignment (Layout.compactionPlan —
    // cumulative fill over size-desc order per table partition, bin =
    // pre-fill div target; Spark's own coalescing strategy writ
    // relational). File catalog synthesized from lineitem (311
    // "files" per returnflag partition, integer sizes); the oracle
    // replays the window fold with both engines' positive-operand
    // integer division agreeing exactly.
    QueryDef.sql("q223_compaction_plan",
      """WITH f AS (
        |  SELECT l_returnflag AS part, l_orderkey % 311 AS file_id,
        |         CAST(sum(l_quantity) AS BIGINT) AS size_bytes
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT *, sum(size_bytes) OVER (PARTITION BY part
        |               ORDER BY size_bytes DESC, file_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM f)
        |SELECT part, CAST(file_id AS BIGINT) AS file_id, size_bytes,
        |       CAST((cum - size_bytes) // 5000 AS BIGINT) AS bin
        |FROM c""".stripMargin) {
      (s, d) => {
        val files = Tables.lineitem(s, d)
          .groupBy(col("l_returnflag").as("part"),
            (col("l_orderkey") % 311).as("file_id"))
          .agg(sum("l_quantity").cast("long").as("size_bytes"))
        graft.operators.Layout.compactionPlan(files, "file_id", "size_bytes",
          targetBytes = 5000L, partitionCols = Seq("part"))
      }
    },

    // CDX CAPTURE INDEX: the side index that makes a .warc.gz corpus
    // randomly accessible (per-record gzip members ⇒ (file, offset)
    // seeks) — built by composing the WARC source with URL
    // canonicalization (q138's operator) as the sort key. The export
    // here writes MESSY URIs (upper-case scheme/host, default port,
    // tracking params, unsorted query) so the index's url_key proves
    // the canonicalizer ran; offsets/files replay exactly as q219.
    QueryDef.sql("q224_warc_cdx_index",
      """WITH base AS (
        |  SELECT doc_id,
        |         'http://corpus.example/doc/' || doc_id || '?a=1&b=2' AS url_key,
        |         TIMESTAMP '2024-01-01 00:00:00'
        |           + (doc_id % 86400) * INTERVAL 1 SECOND AS warc_date,
        |         strlen(text) AS len, md5(text) AS digest,
        |         doc_id % 4 AS shard,
        |         53 + strlen(CAST(doc_id AS VARCHAR)) AS uri_len
        |  FROM documents),
        |sized AS (
        |  SELECT *, 10 + 21 + 65 + 33 + (17 + uri_len + 2) + 26
        |          + (16 + strlen(CAST(len AS VARCHAR)) + 2) + 2 + len + 4
        |          AS rec_size
        |  FROM base)
        |SELECT url_key, warc_date,
        |       printf('part-%05d.warc.gz', shard) AS warc_file,
        |       CAST(250 + COALESCE(SUM(rec_size) OVER (
        |              PARTITION BY shard ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |            AS BIGINT) AS warc_offset,
        |       CAST(len AS BIGINT) AS content_length, digest
        |FROM sized""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dir = graft.operators.Scratch.dir(
          s"graft_cdx_${new java.io.File(d).getName}")
        val staged = docs.select(col("doc_id"),
          concat(lit("HTTP://Corpus.EXAMPLE:80/doc/"), col("doc_id"),
            lit("?utm_source=feed&b=2&a=1")).as("uri"),
          timestamp_seconds(lit(1704067200L)
            + pmod(col("doc_id"), lit(86400L))).as("d"),
          col("text"))
        graft.sources.Warc.export(staged, "doc_id", "uri", "d", "text", dir,
          numShards = 4, compress = true, infoDateSecs = 0L,
          shardCol = Some(pmod(col("doc_id"), lit(4))))
        graft.sources.Warc.cdxIndex(s.read.format("warc").load(dir))
      }
    },

    // HTTP MESSAGE PARSE: what a Common Crawl response record holds
    // is the full HTTP response, not the page — so the gate wraps
    // each document in a status line + headers + CRLFCRLF + body,
    // ships it through the WARC sink/source, and splits it back with
    // Warc.httpMessage (one codegen'd locate/split/regexp chain, no
    // UDF). doc_id comes back OUT OF the X-Doc-Id header — the
    // parse, not the export order, carries the identity — and every
    // parsed field (status by doc residue, version, reason, header
    // count, first content-type, body md5) re-derives from documents.
    QueryDef.sql("q225_warc_http_parse",
      """SELECT doc_id,
        |       CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS status_code,
        |       '1.1' AS http_version,
        |       CASE WHEN doc_id % 7 = 0 THEN 'Not Found' ELSE 'OK' END AS reason,
        |       CAST(3 AS BIGINT) AS n_headers,
        |       'text/plain; charset=UTF-8' AS content_type,
        |       md5(text) AS body_md5
        |FROM documents""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dir = graft.operators.Scratch.dir(
          s"graft_http_${new java.io.File(d).getName}")
        val staged = docs.select(col("doc_id"),
          concat(lit("http://corpus.example/doc/"), col("doc_id")).as("uri"),
          timestamp_seconds(lit(1704067200L)
            + pmod(col("doc_id"), lit(86400L))).as("d"),
          concat(
            lit("HTTP/1.1 "),
            when(pmod(col("doc_id"), lit(7)) === 0, lit("404 Not Found"))
              .otherwise(lit("200 OK")),
            lit("\r\nContent-Type: text/plain; charset=UTF-8\r\nX-Doc-Id: "),
            col("doc_id").cast("string"),
            lit("\r\nContent-Length: "),
            octet_length(col("text")).cast("string"),
            lit("\r\n\r\n"), col("text")).as("http"))
        graft.sources.Warc.export(staged, "doc_id", "uri", "d", "http", dir,
          numShards = 4, compress = true, infoDateSecs = 0L,
          shardCol = Some(pmod(col("doc_id"), lit(4))),
          contentType = "application/http; msgtype=response")
        s.read.format("warc").load(dir)
          .filter(col("warc_type") === "response")
          .select(graft.sources.Warc.httpMessage(col("payload")).as("m"))
          .select(
            get(filter(col("m.headers"),
              h => h.getField("name") === lit("x-doc-id")), lit(0))
              .getField("value").cast("long").as("doc_id"),
            col("m.status_code"), col("m.http_version"), col("m.reason"),
            col("m.n_headers"), col("m.content_type"),
            md5(col("m.body")).as("body_md5"))
      }
    },

    // WARC REVISIT-RECORD DEDUP: the format's OWN storage dedup
    // (identical-payload-digest profile — how Common Crawl stops
    // re-storing duplicated pages). Docs are grouped in threes
    // sharing the leader's text (same content at different URLs);
    // export(dedupByDigest=true) runs the digest census and writes
    // ONE full response per distinct payload (min-id, q24's keep
    // rule) plus body-less revisits whose WARC-Refers-To points at
    // the original's record URN — across shard files. The oracle
    // re-derives every field INCLUDING the mixed-record-size offset
    // fold (response and revisit layouts differ) from documents
    // alone.
    QueryDef.sql("q226_warc_revisit_dedup",
      """WITH src AS (
        |  SELECT d.doc_id, l.text AS ptext
        |  FROM documents d
        |  JOIN documents l ON l.doc_id = d.doc_id - d.doc_id % 3),
        |base AS (
        |  SELECT doc_id,
        |         md5(CAST(doc_id - doc_id % 3 AS VARCHAR)) AS oh,
        |         doc_id % 3 = 0 AS is_orig,
        |         'http://corpus.example/doc/' || doc_id AS uri,
        |         strlen(ptext) AS len, md5(ptext) AS pdig,
        |         doc_id % 4 AS shard
        |  FROM src),
        |sized AS (
        |  SELECT *,
        |    CASE WHEN is_orig
        |      THEN 10 + 21 + 65 + 33 + (17 + strlen(uri) + 2) + 26
        |           + (16 + strlen(CAST(len AS VARCHAR)) + 2) + 2 + len + 4
        |      ELSE 10 + 20 + 65 + 33 + (17 + strlen(uri) + 2) + 65
        |           + (14 + strlen('http://netpreserve.org/warc/1.0/revisit/identical-payload-digest') + 2)
        |           + (25 + 32 + 2) + 19 + 2 + 4
        |    END AS rec_size
        |  FROM base)
        |SELECT doc_id,
        |  CASE WHEN is_orig THEN 'response' ELSE 'revisit' END AS warc_type,
        |  CAST(CASE WHEN is_orig THEN len ELSE 0 END AS BIGINT) AS content_length,
        |  CASE WHEN is_orig THEN NULL
        |       ELSE 'urn:uuid:' || substr(oh, 1, 8) || '-' || substr(oh, 9, 4)
        |            || '-' || substr(oh, 13, 4) || '-' || substr(oh, 17, 4)
        |            || '-' || substr(oh, 21, 12) END AS refers_to,
        |  CASE WHEN is_orig THEN NULL ELSE 'md5:' || pdig END AS payload_digest,
        |  CASE WHEN is_orig THEN pdig ELSE md5('') END AS payload_md5,
        |  printf('part-%05d.warc.gz', shard) AS warc_file,
        |  CAST(250 + COALESCE(SUM(rec_size) OVER (
        |         PARTITION BY shard ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |       AS BIGINT) AS warc_offset
        |FROM sized""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dir = graft.operators.Scratch.dir(
          s"graft_revisit_${new java.io.File(d).getName}")
        val leaders = docs.select(col("doc_id").as("__lid"),
          col("text").as("__ltext"))
        val staged = docs
          .select(col("doc_id"),
            (col("doc_id") - pmod(col("doc_id"), lit(3))).as("__lid"))
          .join(leaders, Seq("__lid"))
          .select(col("doc_id"),
            concat(lit("http://corpus.example/doc/"), col("doc_id")).as("uri"),
            timestamp_seconds(lit(1704067200L)
              + pmod(col("doc_id"), lit(86400L))).as("d"),
            col("__ltext").as("ptext"))
        graft.sources.Warc.export(staged, "doc_id", "uri", "d", "ptext", dir,
          numShards = 4, compress = true, infoDateSecs = 0L,
          shardCol = Some(pmod(col("doc_id"), lit(4))), dedupByDigest = true)
        s.read.format("warc").load(dir)
          .filter(col("warc_type") =!= "warcinfo")
          .select(
            regexp_extract(col("target_uri"), "(\\d+)$", 1).cast("long")
              .as("doc_id"),
            col("warc_type"), col("content_length"), col("refers_to"),
            col("payload_digest"), md5(col("payload")).as("payload_md5"),
            col("warc_file"), col("warc_offset"))
      }
    },

    // STREAMING WARC INGESTION (transcript gate, the q213-q218
    // discipline applied to the DSv2 file stream): a crawl lands in
    // two waves — even docs as part-0000{0..3}, then odd docs as
    // part-0000{4..7}, names sorting after, the monotone-name
    // contract of the streaming watermark — against a LIVE
    // readStream.format("warc") query. Each micro-batch's rows are
    // captured with their batch id via foreachBatch; the gate pins
    // that batch 1 saw EXACTLY the even docs and batch 2 exactly the
    // odd ones (no reprocessing, no holes), with per-record fields
    // intact through the streaming scan. Oracle: wave == doc parity.
    QueryDef.sql("q229_warc_stream_ingest",
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS content_length,
        |       CAST(doc_id % 2 AS BIGINT) AS wave
        |FROM documents""".stripMargin) {
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val dir = graft.operators.Scratch.dir(
          s"graft_wstream_${new java.io.File(d).getName}")
        // a prior run in this JVM leaves both waves on disk; the
        // transcript needs an empty watch dir at start
        Option(new java.io.File(dir).listFiles())
          .foreach(_.foreach(f => if (f.getName.endsWith(".warc.gz")) f.delete()))
        def wave(parity: Int, shardBase: Int): Unit =
          graft.sources.Warc.export(
            docs.filter(pmod(col("doc_id"), lit(2)) === parity)
              .select(col("doc_id"),
                concat(lit("http://corpus.example/doc/"), col("doc_id")).as("uri"),
                timestamp_seconds(lit(1704067200L)).as("dt"), col("text")),
            "doc_id", "uri", "dt", "text", dir, numShards = 4,
            compress = true, infoDateSecs = 0L,
            shardCol = Some(pmod(col("doc_id"), lit(4)) + lit(shardBase)))
        wave(0, 0)
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        val q = s.readStream.format("warc").load(dir)
          .filter(col("warc_type") === "response")
          .writeStream.foreachBatch {
            (b: org.apache.spark.sql.DataFrame, id: Long) =>
              val rows = b.select(
                regexp_extract(col("target_uri"), "(\\d+)$", 1).cast("long"),
                col("content_length")).collect()
              buf.synchronized {
                buf ++= rows.map(r => (id, r.getLong(0), r.getLong(1)))
              }
              ()
          }.start()
        try { q.processAllAvailable(); wave(1, 4); q.processAllAvailable() }
        finally q.stop()
        val snapshot = buf.synchronized { buf.toList }
        val firstBatch = snapshot.map(_._1).min
        snapshot.map { case (bid, id, len) =>
          (id, len, if (bid == firstBatch) 0L else 1L) }
          .toDF("doc_id", "content_length", "wave")
      }
    },

    // WET EXTRACTION (WARC conversion records — Common Crawl's
    // derived-text sidecar): the full crawl-to-text round trip. Docs
    // wrapped in deterministic HTML are exported as `response`
    // records; a second pass reads them back, strips the markup
    // (q137's exact chain) and exports the text as `conversion`
    // records whose WARC-Refers-To points at the source response —
    // the WET layout. The gate reads the conversion files and
    // re-derives EVERY field from `documents` alone: both record
    // URNs (response id from the doc key, conversion id from its
    // 'conv-' key), the type/content-type contract, and the cleaned
    // text's length and md5 via the oracle-replayed strip chain.
    QueryDef.sql("q230_warc_wet_extract", {
      def urn(h: String) =
        s"'urn:uuid:' || substr($h,1,8) || '-' || substr($h,9,4) || '-' || " +
          s"substr($h,13,4) || '-' || substr($h,17,4) || '-' || substr($h,21,12)"
      """WITH m AS (
        |  SELECT doc_id,
        |    '<html><!-- doc ' || doc_id || ' --><body class="doc"><h1>' || source ||
        |    '</h1><script type="text/javascript">var x = 1 < 2;</script><p>' || text ||
        |    '</p><style media="all">p { color: red; }</style>&amp;amp; &lt;escaped&gt;&nbsp;ok</body></html>'
        |    AS raw
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(raw, '(?s)<!--.*?-->', ' ', 'g') AS t FROM m),
        |s2 AS (SELECT doc_id,
        |         regexp_replace(t, '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id,
        |         regexp_replace(t, '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS t FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s3),
        |s5 AS (SELECT doc_id,
        |         replace(replace(replace(replace(replace(replace(t,
        |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |           '&nbsp;', ' '), '&amp;', '&') AS t FROM s4),
        |clean AS (SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS c FROM s5),
        |h AS (SELECT doc_id, c, md5('conv-' || doc_id) AS ch,
        |             md5(CAST(doc_id AS VARCHAR)) AS rh FROM clean)
        |SELECT doc_id,
        |""".stripMargin +
        s"       ${urn("ch")} AS record_id,\n" +
        s"       'conversion' AS warc_type,\n" +
        s"       ${urn("rh")} AS refers_to,\n" +
        """       'text/plain' AS content_type,
        |       CAST(strlen(c) AS BIGINT) AS content_length,
        |       md5(c) AS payload_md5
        |FROM h""".stripMargin
    }) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        val base = new java.io.File(d).getName
        val dir1 = graft.operators.Scratch.dir(s"graft_wet_src_$base")
        val dir2 = graft.operators.Scratch.dir(s"graft_wet_out_$base")
        Seq(dir1, dir2).foreach { dir => // fingerprint re-runs need clean dirs
          Option(new java.io.File(dir).listFiles())
            .foreach(_.foreach(f => if (f.getName.endsWith(".warc.gz")) f.delete()))
        }
        val markup = concat(
          lit("<html><!-- doc "), col("doc_id").cast("string"),
          lit(" --><body class=\"doc\"><h1>"), col("source"),
          lit("</h1><script type=\"text/javascript\">var x = 1 < 2;</script><p>"),
          col("text"),
          lit("</p><style media=\"all\">p { color: red; }</style>&amp;amp; &lt;escaped&gt;&nbsp;ok</body></html>"))
        val staged = docs.select(col("doc_id"),
          concat(lit("http://corpus.example/doc/"), col("doc_id")).as("uri"),
          timestamp_seconds(lit(1704067200L)).as("dt"), markup.as("raw"))
        graft.sources.Warc.export(staged, "doc_id", "uri", "dt", "raw", dir1,
          numShards = 4, compress = true, contentType = "text/html",
          infoDateSecs = 0L, shardCol = Some(pmod(col("doc_id"), lit(4))))
        val wet = s.read.format("warc").load(dir1)
          .filter(col("warc_type") === "response")
          .select(
            concat(lit("conv-"),
              regexp_extract(col("target_uri"), "(\\d+)$", 1)).as("conv_key"),
            regexp_extract(col("target_uri"), "(\\d+)$", 1).cast("long")
              .as("doc_num"),
            col("target_uri").as("uri"), col("warc_date").as("dt"),
            col("record_id").as("orig_id"),
            graft.functions.TextFunctions.stripMarkup(
              col("payload").cast("string")).as("clean"))
        graft.sources.Warc.export(wet, "conv_key", "uri", "dt", "clean", dir2,
          numShards = 4, compress = true, contentType = "text/plain",
          infoDateSecs = 0L, shardCol = Some(pmod(col("doc_num"), lit(4))),
          warcType = "conversion", refersToCol = Some(col("orig_id")))
        s.read.format("warc").load(dir2)
          .filter(col("warc_type") === "conversion")
          .select(
            regexp_extract(col("target_uri"), "(\\d+)$", 1).cast("long")
              .as("doc_id"),
            col("record_id"), col("warc_type"), col("refers_to"),
            col("content_type"), col("content_length"),
            md5(col("payload")).as("payload_md5"))
      }
    },

    // KMV DISTINCT SKETCH (Sketches.kmvSketch — Beyer et al. 2007):
    // per-source bottom-64 of the flipped xxhash64 values over a
    // token#residue key domain (~1-2k distinct per source, so the
    // ESTIMATION path is exercised, not the exact small-set path).
    // The oracle rebuilds xxhash64 bit-exactly in SQL
    // (XxHash64Sql.hashBytesCtes), flips the sign bit with the same
    // mod-2^64 arithmetic, and replays the (k−1)·2⁶⁴/U₍k₎ estimator
    // in the identical single-rounding double expression. n_distinct,
    // estimate, and both sketch endpoints hash-gated.
    QueryDef.sql("q236_kmv_sketch", {
      import XxHash64Sql._
      s"""WITH tok AS (
         |  SELECT source, doc_id,
         |    unnest(CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
         |                ELSE list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') END) AS t
         |  FROM documents),
         |ks AS (SELECT DISTINCT source, t || '#' || (doc_id % 211) AS s FROM tok),
         |${hashBytesCtes("ks", "s")},
         |fv AS (SELECT DISTINCT source,
         |         ${u2s(s"(xxh + 9223372036854775808) % $M64")} AS f
         |       FROM hb),
         |sk AS (SELECT source, (list_sort(list(f)))[1:64] AS sk,
         |              count(*) AS n
         |       FROM fv GROUP BY source)
         |SELECT source, CAST(n AS BIGINT) AS n_distinct,
         |  CASE WHEN len(sk) < 64 THEN CAST(n AS BIGINT)
         |       ELSE CAST(floor(63 * 18446744073709551616.0 /
         |              (CAST(sk[64] AS DOUBLE) + 9223372036854775808.0)) AS BIGINT)
         |  END AS est,
         |  CAST(len(sk) AS BIGINT) AS k_used,
         |  sk[1] AS f_min, sk[64] AS f_kth
         |FROM sk""".stripMargin
    }) {
      (s, d) => {
        val keyed = Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
          .select(col("source"),
            concat(col("t"), lit("#"),
              pmod(col("doc_id"), lit(211)).cast("string")).as("key"))
        graft.operators.Sketches.kmvSketch(keyed, "source", col("key"), k = 64)
          .select(col("group").as("source"), col("n_distinct"), col("est"),
            size(col("sketch")).cast("long").as("k_used"),
            get(col("sketch"), lit(0)).as("f_min"),
            get(col("sketch"), lit(63)).as("f_kth"))
      }
    },

    // KMV SET-OPERATION ESTIMATES (Sketches.kmvPairOps — what HLL
    // registers CANNOT do): every source pair's union sketch (merge +
    // re-take bottom k), Jaccard from exact array arithmetic on the
    // ≤64-long sketches, union/intersection distinct estimates. Deep
    // sketch equality is implicitly gated here — one wrong element in
    // any sketch moves inter_k. Pair stage is sketch-frame-sized
    // (#sources² pairs), independent of corpus size.
    QueryDef.sql("q237_kmv_set_ops", {
      import XxHash64Sql._
      s"""WITH tok AS (
         |  SELECT source, doc_id,
         |    unnest(CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
         |                ELSE list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') END) AS t
         |  FROM documents),
         |ks AS (SELECT DISTINCT source, t || '#' || (doc_id % 211) AS s FROM tok),
         |${hashBytesCtes("ks", "s")},
         |fv AS (SELECT DISTINCT source,
         |         ${u2s(s"(xxh + 9223372036854775808) % $M64")} AS f
         |       FROM hb),
         |sk AS (SELECT source, (list_sort(list(f)))[1:64] AS sk
         |       FROM fv GROUP BY source),
         |p AS (SELECT a.source AS sa, b.source AS sb, a.sk AS ska, b.sk AS skb
         |      FROM sk a JOIN sk b ON a.source < b.source),
         |u AS (SELECT *, (list_sort(list_distinct(ska || skb)))[1:64] AS uk FROM p),
         |i AS (SELECT *, CAST(len(list_filter(uk, x ->
         |        list_contains(ska, x) AND list_contains(skb, x))) AS BIGINT) AS ic
         |      FROM u),
         |j AS (SELECT *, (1000 * ic) // len(uk) AS jm,
         |        CASE WHEN len(uk) < 64 THEN CAST(len(uk) AS BIGINT)
         |             ELSE CAST(floor(63 * 18446744073709551616.0 /
         |                    (CAST(uk[64] AS DOUBLE) + 9223372036854775808.0)) AS BIGINT)
         |        END AS uest
         |      FROM i)
         |SELECT sa AS group_a, sb AS group_b, ic AS inter_k,
         |       CAST(len(uk) AS BIGINT) AS union_k,
         |       CAST(jm AS BIGINT) AS jaccard_milli, uest AS union_est,
         |       CAST((jm * uest) // 1000 AS BIGINT) AS inter_est
         |FROM j""".stripMargin
    }) {
      (s, d) => {
        val keyed = Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
          .select(col("source"),
            concat(col("t"), lit("#"),
              pmod(col("doc_id"), lit(211)).cast("string")).as("key"))
        graft.operators.Sketches.kmvPairOps(
          graft.operators.Sketches.kmvSketch(keyed, "source", col("key"), k = 64),
          k = 64)
      }
    },

    // TWO-SAMPLE KOLMOGOROV–SMIRNOV (Profiling.ksTest — the
    // continuous-score drift test next to q152's categorical TVD):
    // even docs vs odd docs with a +7-shifted score, so the ECDFs
    // genuinely separate. Exact integers over the common denominator
    // n_a·n_b; the oracle replays the census, the cumulative fold,
    // and the smallest-score-at-max tie rule (DuckDB's max_by can't
    // take struct keys — the two-step min-where-max form is the
    // documented equivalent of the Spark side's min_by struct).
    QueryDef.sql("q242_ks_test",
      """WITH sa AS (SELECT CAST(strlen(text) % 97 AS BIGINT) AS s
        |            FROM documents WHERE doc_id % 2 = 0),
        |sb AS (SELECT CAST((strlen(text) + 7) % 97 AS BIGINT) AS s
        |       FROM documents WHERE doc_id % 2 = 1),
        |ka AS (SELECT s, count(*) AS cnt_a FROM sa GROUP BY 1),
        |kb AS (SELECT s, count(*) AS cnt_b FROM sb GROUP BY 1),
        |m AS (SELECT coalesce(ka.s, kb.s) AS s,
        |             coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
        |      FROM ka FULL JOIN kb ON ka.s = kb.s),
        |c AS (SELECT s,
        |        sum(cnt_a) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
        |                         AND CURRENT ROW) AS cum_a,
        |        sum(cnt_b) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
        |                         AND CURRENT ROW) AS cum_b
        |      FROM m),
        |t AS (SELECT sum(cnt_a) AS na, sum(cnt_b) AS nb FROM m),
        |g AS (SELECT c.s, abs(c.cum_a * t.nb - c.cum_b * t.na) AS gap,
        |             t.na, t.nb FROM c, t)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |       CAST((1000000 * max(gap)) // (na * nb) AS BIGINT) AS d_ppm,
        |       (SELECT min(s) FROM g g2
        |        WHERE g2.gap = (SELECT max(gap) FROM g)) AS at_score
        |FROM g GROUP BY na, nb""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        val a = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select((length(col("text")) % 97).cast("long").as("score"))
        val b = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .select(((length(col("text")) + 7) % 97).cast("long").as("score"))
        graft.operators.Profiling.ksTest(a, b, "score")
      }
    },

    // COHEN'S KAPPA (Profiling.cohenKappa — chance-corrected
    // agreement between two labelings): two deterministic "labelers"
    // over documents that agree well beyond chance but not perfectly
    // (the second shifts on a 7-residue), every term an integer, the
    // common-denominator form replayed in SQL.
    QueryDef.sql("q243_cohen_kappa",
      """WITH l AS (
        |  SELECT strlen(text) % 3 AS a,
        |         CASE WHEN doc_id % 7 = 0 THEN (strlen(text) + 1) % 3
        |              ELSE strlen(text) % 3 END AS b
        |  FROM documents),
        |t AS (SELECT count(*) AS n,
        |             sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS agr FROM l),
        |ka AS (SELECT a AS k, count(*) AS ca FROM l GROUP BY 1),
        |kb AS (SELECT b AS k, count(*) AS cb FROM l GROUP BY 1),
        |e AS (SELECT sum(coalesce(ca, 0) * coalesce(cb, 0)) AS e
        |      FROM ka FULL JOIN kb USING (k))
        |SELECT CAST(n AS BIGINT) AS n_rows, CAST(agr AS BIGINT) AS n_agree,
        |       CAST((1000 * agr) // n AS BIGINT) AS agree_milli,
        |       CAST((1000 * (n * agr - e.e)) // nullif(n * n - e.e, 0) AS BIGINT)
        |         AS kappa_milli
        |FROM t, e""".stripMargin) {
      (s, d) => {
        val len3 = length(col("text")) % 3
        graft.operators.Profiling.cohenKappa(
          Tables.documents(s, d).select(
            len3.as("pa"),
            when(pmod(col("doc_id"), lit(7)) === 0, (length(col("text")) + 1) % 3)
              .otherwise(len3).as("pb")),
          col("pa"), col("pb"))
      }
    },

    // EXACT ROC-AUC (Mann–Whitney rank-sum over the distinct-score
    // census — Profiling.aucExact): per-source AUC of a deterministic
    // score against a deterministic label, ties forced by the %50
    // quantization so the half-credit path is exercised. The oracle
    // replays the census + cumulative-negatives fold; both engines'
    // positive-operand integer division agrees exactly. One source
    // carries label=0 only when absent — the nullif guard keeps AUC
    // null there rather than dividing by zero.
    QueryDef.sql("q231_auc_exact",
      """WITH b AS (
        |  SELECT source, strlen(text) % 50 AS s,
        |         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |v AS (SELECT source, s, sum(y) AS np, sum(1 - y) AS nn
        |      FROM b GROUP BY 1, 2),
        |c AS (SELECT *, coalesce(sum(nn) OVER (
        |        PARTITION BY source ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |      FROM v),
        |t AS (SELECT source, sum(np) AS n_pos, sum(nn) AS n_neg,
        |             sum(np * (2 * below + nn)) AS num2
        |      FROM c GROUP BY 1)
        |SELECT source, CAST(n_pos AS BIGINT) AS n_pos,
        |       CAST(n_neg AS BIGINT) AS n_neg,
        |       CAST((1000000 * num2) // nullif(2 * n_pos * n_neg, 0) AS BIGINT)
        |         AS auc_ppm
        |FROM t""".stripMargin) {
      (s, d) =>
        graft.operators.Profiling.aucExact(
          Tables.documents(s, d).select(col("source"),
            (length(col("text")) % 50).as("score"),
            when(pmod(col("doc_id"), lit(3)) === 0, 1).otherwise(0).as("label")),
          "label", "score", groupCols = Seq("source"))
    },

    // HITS HUBS & AUTHORITIES (Graphs.hitsMicro — Kleinberg's pair,
    // q116's bipartite customer→supplier graph): 4 max-normalized
    // integer iterations, the oracle replaying every raw-sum /
    // scalar-max / floor-divide step as a generated CTE chain. The
    // gate pins the top-10 of BOTH sides (on a bipartite graph
    // authorities are all suppliers, hubs all customers — exactly
    // the two rankings PageRank conflates).
    QueryDef.sql("q232_hits", {
      // AS MATERIALIZED: the scalar max references each raw CTE a
      // second time — inlining doubles the evaluated chain per
      // iteration (the same 2^k fork the Spark side caches away)
      def it(i: Int): String =
        s"""ra$i AS MATERIALIZED (
           |  SELECT n.node, coalesce(x.s, 0) AS r FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, sum(h${i - 1}.h) AS s FROM edges e
           |    JOIN h${i - 1} ON e.src = h${i - 1}.node GROUP BY e.dst) x
           |  ON n.node = x.node),
           |a$i AS MATERIALIZED (SELECT node, (1000000 * r) // (SELECT max(r) FROM ra$i) AS a FROM ra$i),
           |rh$i AS MATERIALIZED (
           |  SELECT n.node, coalesce(x.s, 0) AS r FROM nodes n LEFT JOIN (
           |    SELECT e.src AS node, sum(a$i.a) AS s FROM edges e
           |    JOIN a$i ON e.dst = a$i.node GROUP BY e.src) x
           |  ON n.node = x.node),
           |h$i AS MATERIALIZED (SELECT node, (1000000 * r) // (SELECT max(r) FROM rh$i) AS h FROM rh$i)""".stripMargin
      s"""WITH edges AS MATERIALIZED (
         |  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |h0 AS (SELECT node, 1000000 AS h FROM nodes),
         |${(1 to 4).map(it).mkString(",\n")},
         |sel AS (SELECT a4.node, a4.a AS am, h4.h AS hm
         |        FROM a4 JOIN h4 ON a4.node = h4.node)
         |SELECT side, CAST(node AS BIGINT) AS node,
         |       CAST(score_micro AS BIGINT) AS score_micro FROM (
         |  (SELECT 'auth' AS side, node, am AS score_micro FROM sel
         |   ORDER BY am DESC, node LIMIT 10)
         |  UNION ALL
         |  (SELECT 'hub' AS side, node, hm AS score_micro FROM sel
         |   ORDER BY hm DESC, node LIMIT 10))""".stripMargin
    }) {
      (s, d) => {
        val edges = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        val r = graft.operators.CacheRegistry.persist(
          graft.operators.Graphs.hitsMicro(edges, iterations = 4))
        val auth = r.orderBy(col("authority_micro").desc, col("node")).limit(10)
          .select(lit("auth").as("side"), col("node"),
            col("authority_micro").as("score_micro"))
        val hub = r.orderBy(col("hub_micro").desc, col("node")).limit(10)
          .select(lit("hub").as("side"), col("node"),
            col("hub_micro").as("score_micro"))
        auth.union(hub)
      }
    },

    // CRAWL→CORPUS INTEGRATION FLAGSHIP: the end-to-end pipeline a
    // Common Crawl consumer actually runs, every stage the engine's
    // own gated operator — full HTTP responses with HTML bodies land
    // as WARC (q219/q225 machinery), duplication planted by the
    // q226 three-group trick (same page at different URLs);
    // read → HTTP parse (body by X-Doc-Id header, not export order)
    // → markup strip (q137 chain) → token-count quality gate →
    // exact dedup (q24's min-id keep rule on the CLEANED text).
    // The oracle replays the whole composition from `documents`
    // alone; per-doc verdicts (is_dup / kept / cleaned md5) are all
    // hash-gated.
    QueryDef.sql("q234_crawl_pipeline",
      """WITH src AS (
        |  SELECT d.doc_id, l.text AS ptext
        |  FROM documents d
        |  JOIN documents l ON l.doc_id = d.doc_id - d.doc_id % 3),
        |m AS (
        |  SELECT doc_id,
        |    '<html><body><p>' || ptext ||
        |    '</p><script>var x = 1;</script></body></html>' AS raw
        |  FROM src),
        |s1 AS (SELECT doc_id, regexp_replace(raw, '(?s)<!--.*?-->', ' ', 'g') AS t FROM m),
        |s2 AS (SELECT doc_id,
        |         regexp_replace(t, '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id,
        |         regexp_replace(t, '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS t FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s3),
        |s5 AS (SELECT doc_id,
        |         replace(replace(replace(replace(replace(replace(t,
        |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |           '&nbsp;', ' '), '&amp;', '&') AS t FROM s4),
        |c AS (SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean FROM s5),
        |sc AS (SELECT doc_id, clean,
        |         CASE WHEN length(trim(clean)) = 0 THEN 0
        |              ELSE len(list_filter(regexp_split_to_array(clean, '\s+'),
        |                                   x -> x <> '')) END AS n_tokens
        |       FROM c),
        |cen AS (SELECT md5(clean) AS dig, min(doc_id) AS keep
        |        FROM sc GROUP BY 1)
        |SELECT sc.doc_id, CAST(sc.n_tokens AS BIGINT) AS n_tokens,
        |       sc.doc_id <> cen.keep AS is_dup,
        |       sc.doc_id = cen.keep AND sc.n_tokens >= 30 AS kept,
        |       md5(sc.clean) AS clean_md5
        |FROM sc JOIN cen ON md5(sc.clean) = cen.dig""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        val base = new java.io.File(d).getName
        val dir = graft.operators.Scratch.dir(s"graft_crawl_$base")
        Option(new java.io.File(dir).listFiles())
          .foreach(_.foreach(f => if (f.getName.endsWith(".warc.gz")) f.delete()))
        val leaders = docs.select(col("doc_id").as("lid"), col("text").as("ptext"))
        val src = docs.select(col("doc_id"))
          .join(leaders,
            (col("doc_id") - pmod(col("doc_id"), lit(3))) === col("lid"))
        val html = concat(lit("<html><body><p>"), col("ptext"),
          lit("</p><script>var x = 1;</script></body></html>"))
        val staged = src.select(col("doc_id"),
          concat(lit("http://corpus.example/doc/"), col("doc_id")).as("uri"),
          timestamp_seconds(lit(1704067200L)).as("dt"),
          concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nX-Doc-Id: "),
            col("doc_id").cast("string"), lit("\r\n\r\n"), html).as("http"))
        graft.sources.Warc.export(staged, "doc_id", "uri", "dt", "http", dir,
          numShards = 4, compress = true, infoDateSecs = 0L,
          shardCol = Some(pmod(col("doc_id"), lit(4))),
          contentType = "application/http; msgtype=response")
        val parsed = s.read.format("warc").load(dir)
          .filter(col("warc_type") === "response")
          .select(graft.sources.Warc.httpMessage(col("payload")).as("m"))
          .select(
            get(filter(col("m.headers"),
              h => h.getField("name") === lit("x-doc-id")), lit(0))
              .getField("value").cast("long").as("doc_id"),
            graft.functions.TextFunctions.stripMarkup(col("m.body")).as("clean"))
        val scored = parsed.select(col("doc_id"), col("clean"),
          graft.functions.TextFunctions.tokenCount(col("clean")).as("n_tokens"),
          md5(col("clean")).as("clean_md5"))
        val census = scored.groupBy(col("clean_md5").as("__dig"))
          .agg(min("doc_id").as("__keep"))
        scored.join(census, col("clean_md5") === col("__dig"))
          .select(col("doc_id"), col("n_tokens"),
            (col("doc_id") =!= col("__keep")).as("is_dup"),
            (col("doc_id") === col("__keep") && col("n_tokens") >= 30).as("kept"),
            col("clean_md5"))
      }
    }
  )
}
