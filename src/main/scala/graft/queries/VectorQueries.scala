package graft.queries

import graft.Tables
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (64-dim float vectors). */
object VectorQueries {

  /** 128-bit-safe mod-2^64 multiply for the oracle engine (HUGEINT
    * overflows at a full 64×64 product): split the multiplicand into
    * 32-bit halves. `a` must be a non-negative value < 2^64.
    */
  private def m64mul(a: String, c: String): String =
    s"((($a) % 4294967296) * $c % 18446744073709551616" +
      s" + ((($a) // 4294967296) * $c % 4294967296) * 4294967296)" +
      " % 18446744073709551616"

  /** CTEs reproducing plans.LshSignature exactly in oracle SQL:
    * `comps` = splitmix64-derived plane components (signed-remainder
    * parity with Java's `%`), `planes` = per-plane component lists,
    * `sigs` = per-vector signature (bit p = sign of the sequential
    * double dot product, identical accumulation order to the codegen'd
    * loop, so the doubles are bit-identical).
    */
  private def lshSigCtes(planes: Int): String = {
    s"""c1 AS (
       |  SELECT p, i,
       |    ((CAST(p AS HUGEINT) * 4294967296 + i) + 11400714819323198485) % 18446744073709551616 AS z1
       |  FROM generate_series(0, ${planes - 1}) g1(p),
       |       generate_series(0, 127) g2(i)),
       |  -- 128 components per plane: an upper bound on dim; the
       |  -- signature only reads pc[1..len(vec)], extras are inert
       |c2 AS (SELECT p, i, ${m64mul("xor(z1, z1 >> 30)", "13787848793156543929")} AS z2 FROM c1),
       |c3 AS (SELECT p, i, ${m64mul("xor(z2, z2 >> 27)", "10723151780598845931")} AS z3 FROM c2),
       |c4 AS (SELECT p, i, xor(z3, z3 >> 31) AS z4 FROM c3),
       |comps AS (
       |  SELECT p, i,
       |    CAST(CASE WHEN z4 >= 9223372036854775808 THEN z4 - 18446744073709551616 ELSE z4 END
       |         AS BIGINT) % 1000001 AS comp
       |  FROM c4),
       |planes AS (SELECT p, list(comp ORDER BY i) AS pc FROM comps GROUP BY p),
       |sigs AS (
       |  SELECT e.vec_id AS vid, e.embedding AS vec,
       |         sum(CASE WHEN coalesce(list_sum(list_transform(
       |               generate_series(1, len(e.embedding)),
       |               j -> CAST(pl.pc[j] AS DOUBLE) * CAST(e.embedding[j] AS DOUBLE))), 0.0) >= 0
       |             THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS sig
       |  FROM embeddings e, planes pl
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** CTEs reproducing Similarity.bandedBuckets/lshCandidates: slice the
    * signature into per-band buckets, drop over-cap buckets, candidate
    * pairs on any band match, deduped. Builds on [[lshSigCtes]].
    */
  private def lshBandCtes(bands: Int, rowsPerBand: Int, maxBucket: Int): String = {
    val mask = (1L << rowsPerBand) - 1
    s"""${lshSigCtes(bands * rowsPerBand)},
       |banded AS (
       |  SELECT s.vid, g.band,
       |         (CAST(s.sig AS BIGINT) >> (g.band * $rowsPerBand)) & $mask AS bucket
       |  FROM sigs s, generate_series(0, ${bands - 1}) g(band)),
       |kept AS (
       |  SELECT * FROM banded
       |  QUALIFY count(*) OVER (PARTITION BY band, bucket) <= $maxBucket),
       |cand AS (
       |  SELECT DISTINCT a.vid AS id_a, b.vid AS id_b
       |  FROM kept a JOIN kept b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.vid <> b.vid)""".stripMargin
  }

  private val cosPpm =
    """CAST(round(
      |      list_sum(list_transform(list_zip(a.vec, b.vec),
      |               q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(a.vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * sqrt(list_sum(list_transform(b.vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
      |      * 1000000.0) AS BIGINT)""".stripMargin

  /** CTEs reproducing plans.RandomProjection exactly in oracle SQL:
    * `pcomps` = seeded splitmix64-derived direction components (the
    * LshSignature family on the `(seed+1)·GOLDEN` increment channel),
    * `pplanes` = per-output-dim component lists (128 components — an
    * upper bound on input dim; the dot only reads pc[1..len(vec)]),
    * `pproj` = one (vec_id, dim, v) row per projected component, with
    * the same sequential double accumulation as the codegen'd loop so
    * the doubles are bit-identical.
    */
  private def projCtes(outDims: Int, seed: Long): String = {
    val inc = java.lang.Long.toUnsignedString((seed + 1L) * 0x9E3779B97F4A7C15L)
    s"""pc1 AS (
       |  SELECT p, i,
       |    ((CAST(p AS HUGEINT) * 4294967296 + i) + $inc) % 18446744073709551616 AS z1
       |  FROM generate_series(0, ${outDims - 1}) g1(p),
       |       generate_series(0, 127) g2(i)),
       |pc2 AS (SELECT p, i, ${m64mul("xor(z1, z1 >> 30)", "13787848793156543929")} AS z2 FROM pc1),
       |pc3 AS (SELECT p, i, ${m64mul("xor(z2, z2 >> 27)", "10723151780598845931")} AS z3 FROM pc2),
       |pc4 AS (SELECT p, i, xor(z3, z3 >> 31) AS z4 FROM pc3),
       |pcomps AS (
       |  SELECT p, i,
       |    CAST(CASE WHEN z4 >= 9223372036854775808 THEN z4 - 18446744073709551616 ELSE z4 END
       |         AS BIGINT) % 1000001 AS comp
       |  FROM pc4),
       |pplanes AS (SELECT p, list(comp ORDER BY i) AS pc FROM pcomps GROUP BY p),
       |pproj AS (
       |  SELECT e.vec_id, pl.p AS dim,
       |         coalesce(list_sum(list_transform(
       |           generate_series(1, len(e.embedding)),
       |           j -> CAST(pl.pc[j] AS DOUBLE) * CAST(e.embedding[j] AS DOUBLE))), 0.0) AS v
       |  FROM embeddings e, pplanes pl)""".stripMargin
  }

  /** Oracle for q38 AND q186: the IVF pipeline (md5-seeded centroids,
    * broadcast assignment, nProbe=4 probes, exact re-rank, k=3). One
    * string for both gates so the stored-index path can never drift
    * from the recompute path.
    */
  private val ivfOracleSql: String =
    """WITH v AS (SELECT vec_id AS vid, embedding AS vec FROM embeddings),
      |cent AS (SELECT vid AS cid, vec AS cvec FROM v
      |         ORDER BY md5(CAST(vid AS VARCHAR)), vid LIMIT 16),
      |sims AS (
      |  SELECT v.vid, v.vec, c.cid,
      |    CAST(round(
      |      list_sum(list_transform(list_zip(v.vec, c.cvec),
      |               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(v.vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * sqrt(list_sum(list_transform(c.cvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
      |      * 1000000.0) AS BIGINT) AS sim
      |  FROM v, cent c),
      |cells AS (
      |  SELECT vid, vec, cid,
      |         row_number() OVER (PARTITION BY vid ORDER BY sim DESC, cid) AS r
      |  FROM sims),
      |assigned AS (SELECT vid, vec, cid AS cell FROM cells WHERE r = 1),
      |probes AS (SELECT vid AS query_id, vec AS qe, cid AS cell FROM cells WHERE r <= 4),
      |scored AS (
      |  SELECT p.query_id, a.vid AS neighbor_id,
      |    CAST(round(
      |      list_sum(list_transform(list_zip(p.qe, a.vec),
      |               q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(p.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * sqrt(list_sum(list_transform(a.vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
      |      * 1000000.0) AS BIGINT) AS cosine_ppm
      |  FROM probes p JOIN assigned a ON p.cell = a.cell AND p.query_id <> a.vid),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cosine_ppm,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cosine_ppm DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, rank, cosine_ppm FROM ranked WHERE rank <= 3""".stripMargin

  val all: Seq[QueryDef] = Seq(

    QueryDef.sql("q34_embedding_norm",
      """SELECT vec_id,
        |       CAST(round(sqrt(list_sum(list_transform(embedding,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 10000) AS BIGINT) AS norm_e4,
        |       len(embedding) AS dim
        |FROM embeddings""".stripMargin) {
      (s, d) =>
        Tables.embeddings(s, d).select(col("vec_id"),
          round(Similarity.norm(col("embedding")) * 10000).cast("long").as("norm_e4"),
          size(col("embedding")).cast("long").as("dim"))
    },

    // Brute-force exact cosine top-k for a query batch — the ANN
    // correctness baseline.
    QueryDef.sql("q35_cosine_topk",
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
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
        |  SELECT query_id, neighbor_id, cosine_ppm,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cosine_ppm DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, rank, cosine_ppm
        |FROM ranked WHERE rank <= 5""".stripMargin) {
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.bruteForceTopK(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5)
      }
    },

    // Banded LSH ANN (scale path): 2 bands × 8 planes, candidates on
    // any band match, over-cap buckets dropped, exact cosine re-rank.
    // The oracle reproduces the splitmix64 hyperplanes with 128-bit-safe
    // mod-2^64 arithmetic, the signature's sequential double
    // accumulation, and the banding/cap, so the full pipeline
    // hash-verifies.
    QueryDef.sql("q36_cosine_ann_lsh",
      s"""WITH ${lshBandCtes(2, 8, 4096)},
         |scored AS (
         |  SELECT c.id_a AS query_id, c.id_b AS neighbor_id,
         |    $cosPpm AS cosine_ppm
         |  FROM cand c JOIN sigs a ON a.vid = c.id_a JOIN sigs b ON b.vid = c.id_b),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cosine_ppm,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cosine_ppm DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, rank, cosine_ppm FROM ranked WHERE rank <= 3""".stripMargin) {
      (s, d) =>
        Similarity.lshTopK(Tables.embeddings(s, d), "vec_id", "embedding", k = 3)
    },

    // ANN RECALL EVALUATION: per query, how much of the exact top-3
    // the banded-LSH ranker (q36) recovers — the acceptance metric an
    // ANN deployment is tuned against, with the exact side driving so
    // queries the ANN missed entirely report 0 rather than vanishing.
    // The oracle replays BOTH rankers and the recall arithmetic.
    QueryDef.sql("q200_ann_recall",
      s"""WITH ${lshBandCtes(2, 8, 4096)},
         |lsh AS (
         |  SELECT c.id_a AS query_id, c.id_b AS neighbor_id,
         |         row_number() OVER (PARTITION BY c.id_a
         |                            ORDER BY $cosPpm DESC, c.id_b) AS rank
         |  FROM cand c JOIN sigs a ON a.vid = c.id_a JOIN sigs b ON b.vid = c.id_b),
         |ex AS (
         |  SELECT a.vid AS query_id, b.vid AS neighbor_id,
         |         row_number() OVER (PARTITION BY a.vid
         |                            ORDER BY $cosPpm DESC, b.vid) AS rank
         |  FROM sigs a JOIN sigs b ON a.vid <> b.vid)
         |SELECT e.query_id, count(*) AS n_exact,
         |       CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_hits,
         |       CAST((1000000 * sum(CASE WHEN l.neighbor_id IS NOT NULL
         |                                THEN 1 ELSE 0 END)) // count(*)
         |            AS BIGINT) AS recall_ppm
         |FROM (SELECT query_id, neighbor_id FROM ex WHERE rank <= 3) e
         |LEFT JOIN (SELECT query_id, neighbor_id FROM lsh WHERE rank <= 3) l
         |  ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
         |GROUP BY 1""".stripMargin) {
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.topKRecall(
          Similarity.lshTopK(e, "vec_id", "embedding", k = 3),
          Similarity.bruteForceTopK(e, "vec_id", "embedding",
            e, "vec_id", "embedding", k = 3))
      }
    },

    // IVF-partitioned ANN (the other scale path besides LSH: broadcast
    // centroid assignment + cell-keyed join). Centroid choice is
    // md5-ordered (oracle-expressible) and cell ranking uses the
    // ppm-rounded similarity, so the full pipeline hash-verifies.
    QueryDef.sql("q38_cosine_ann_ivf", ivfOracleSql) {
      (s, d) =>
        Similarity.ivfTopK(Tables.embeddings(s, d), "vec_id", "embedding", k = 3)
    },

    // IVF STORED-INDEX serving path: the same ANN answer as q38, but
    // the centroids + assignments round-trip through a REAL parquet
    // store (Similarity.ivfIndex → write → read → ivfTopKStored) —
    // yesterday's corpus is only touched by the final id-keyed vector
    // join. Sharing q38's oracle pins store-path ≡ recompute-path at
    // the value level.
    QueryDef.sql("q186_ivf_stored", ivfOracleSql) {
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val (cents, assigns) = Similarity.ivfIndex(e, "vec_id", "embedding")
        // per-JVM token: concurrent gate runs on the same dataset must
        // not race each other's mode("overwrite") store writes; the
        // dir is exit-cleaned and stale pid dirs swept (see Scratch)
        val dir = graft.operators.Scratch.dir(
          s"graft_ivf_store_${new java.io.File(d).getName}")
        cents.write.mode("overwrite").parquet(s"$dir/centroids")
        assigns.write.mode("overwrite").parquet(s"$dir/assignments")
        Similarity.ivfTopKStored(e, "vec_id", "embedding", e, "vec_id", "embedding",
          Tables.parquet(s, s"$dir/centroids"), Tables.parquet(s, s"$dir/assignments"),
          k = 3)
      }
    },

    // Embedding near-duplicate pairs above 0.35 cosine (this synthetic
    // table's near-dup regime; max pairwise cosine is ~0.51) — banded
    // LSH candidates (2 bands × 6 planes) + exact threshold verify,
    // oracle-reproduced like q36.
    QueryDef.sql("q37_cosine_near_dup",
      s"""WITH ${lshBandCtes(2, 6, 4096)},
         |pairs AS (
         |  SELECT c.id_a, c.id_b, $cosPpm AS cosine_ppm
         |  FROM cand c JOIN sigs a ON a.vid = c.id_a JOIN sigs b ON b.vid = c.id_b
         |  WHERE c.id_a < c.id_b)
         |SELECT id_a, id_b, cosine_ppm FROM pairs WHERE cosine_ppm >= 350000""".stripMargin) {
      (s, d) =>
        Similarity.cosineNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
          minCosinePpm = 350000L)
    },

    // Duplicate-cluster formation over the q37 near-dup pairs:
    // connected components by min-label propagation (Spark) vs a
    // recursive min-reachable CTE (oracle). cluster_id = min id in the
    // component; is_keeper marks the one doc kept per cluster.
    QueryDef.sql("q55_dup_clusters",
      s"""WITH RECURSIVE ${lshBandCtes(2, 6, 4096)},
         |pairs AS (
         |  SELECT c.id_a, c.id_b, $cosPpm AS cosine_ppm
         |  FROM cand c JOIN sigs a ON a.vid = c.id_a JOIN sigs b ON b.vid = c.id_b
         |  WHERE c.id_a < c.id_b),
         |thr AS (SELECT id_a, id_b FROM pairs WHERE cosine_ppm >= 350000),
         |e AS (SELECT id_a AS a, id_b AS b FROM thr
         |      UNION SELECT id_b, id_a FROM thr),
         |nodes AS (SELECT DISTINCT a AS v FROM e),
         |reach AS (
         |  SELECT v, v AS m FROM nodes
         |  UNION
         |  SELECT e.b AS v, r.m FROM reach r JOIN e ON e.a = r.v)
         |SELECT v AS doc_id, min(m) AS cluster_id, v = min(m) AS is_keeper
         |FROM reach GROUP BY v""".stripMargin) {
      (s, d) => {
        val pairs = Similarity.cosineNearDupPairs(Tables.embeddings(s, d),
          "vec_id", "embedding", minCosinePpm = 350000L)
        graft.operators.Dedup.connectedComponents(pairs)
          .select(col("v").as("doc_id"), col("lbl").as("cluster_id"),
            (col("v") === col("lbl")).as("is_keeper"))
      }
    },

    // Symmetric int8 embedding quantization (4× smaller ANN candidate
    // storage): scale = max |component|, q = floor(127·x/scale + ½) —
    // explicit floor-plus-half rounding so both engines agree on every
    // half-way case. The md5 over the joined quantized values verifies
    // the whole vector, not a summary.
    QueryDef.sql("q51_embedding_quantize",
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
        |  FROM embeddings)
        |SELECT vec_id,
        |  CAST(floor(scale * 1000000 + 0.5) AS BIGINT) AS scale_ppm,
        |  -- zero-scale guard mirrors the Spark side: an all-zero vector
        |  -- quantizes to zeros instead of x*127/0 = NaN (-> cast error)
        |  md5(array_to_string(list_transform(embedding,
        |      x -> CAST(CASE WHEN scale = 0 THEN 0
        |                ELSE CAST(floor(CAST(x AS DOUBLE) * 127 / scale + 0.5) AS BIGINT)
        |                END AS VARCHAR)),
        |      ',')) AS q_hash,
        |  CAST(list_sum(list_transform(embedding,
        |      x -> CASE WHEN scale = 0 THEN 0
        |           ELSE CAST(floor(CAST(x AS DOUBLE) * 127 / scale + 0.5) AS BIGINT)
        |           END)) AS BIGINT) AS q_sum
        |FROM s""".stripMargin) {
      (s, d) => {
        val withScale = Tables.embeddings(s, d)
          .withColumn("__scale", Similarity.int8Scale(col("embedding")))
        val q = Similarity.int8Quantize(col("embedding"), col("__scale"))
        withScale.select(col("vec_id"),
          floor(col("__scale") * 1000000 + lit(0.5)).cast("long").as("scale_ppm"),
          md5(concat_ws(",", transform(q, x => x.cast("string")))).as("q_hash"),
          aggregate(q, lit(0L), (acc, x) => acc + x).as("q_sum"))
      }
    },

    // Per-source centroid prototypicality (SemDeDup-style curation):
    // each doc's cosine to its source's mean embedding. Centroids are
    // one (group, dim) hash agg, then broadcast — nothing else
    // shuffles. ppm rounding absorbs partial-aggregation float
    // ordering (double noise ~1e-14 vs 1e-6 resolution).
    QueryDef.sql("q52_centroid_outlier",
      """WITH j AS (
        |  SELECT d.doc_id, d.source, e.embedding
        |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
        |dims AS (
        |  -- constant bounds: the FROM-clause generate_series cannot
        |  -- laterally reference len(embedding); the table is 64-dim
        |  SELECT source, i AS pos, avg(CAST(embedding[i] AS DOUBLE)) AS m
        |  FROM j, generate_series(1, 64) g(i)
        |  GROUP BY 1, 2),
        |cent AS (SELECT source, list(m ORDER BY pos) AS cvec FROM dims GROUP BY source)
        |SELECT j.doc_id, j.source,
        |  CAST(round(
        |    list_sum(list_transform(generate_series(1, len(j.embedding)),
        |             i -> CAST(j.embedding[i] AS DOUBLE) * c.cvec[i]))
        |    / (sqrt(list_sum(list_transform(j.embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(c.cvec, x -> x * x))))
        |    * 1000000.0) AS BIGINT) AS centroid_cos_ppm
        |FROM j JOIN cent c ON c.source = j.source""".stripMargin) {
      (s, d) => {
        val j = Tables.documents(s, d).select(col("doc_id"), col("source"))
          .join(Tables.embeddings(s, d),
            col("vec_id") === col("doc_id"))
        Similarity.centroidCosine(j, "doc_id", "source", "embedding")
          .withColumnRenamed("grp", "source")
      }
    },

    // SemDeDup-style SEMANTIC DEDUP: IVF-cell partitioning (q38's
    // md5-seeded centroids) confines the quadratic cosine compare to
    // within-cell joins; any pair over 0.35 drops its higher id. One
    // row per vector with its cell and survival flag — the embedding
    // analogue of q24's exact dedup, pruning paraphrases exact hashes
    // miss. The oracle replays centroid choice, assignment, and the
    // within-cell pair scan.
    QueryDef.sql("q132_semantic_dedup",
      s"""WITH v AS (SELECT vec_id AS vid, embedding AS vec FROM embeddings),
         |cent AS (SELECT vid AS cid, vec AS cvec FROM v
         |         ORDER BY md5(CAST(vid AS VARCHAR)), vid LIMIT 16),
         |sims AS (
         |  SELECT v.vid, v.vec, c.cid,
         |    CAST(round(
         |      list_sum(list_transform(list_zip(v.vec, c.cvec),
         |               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         |      / (sqrt(list_sum(list_transform(v.vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |         * sqrt(list_sum(list_transform(c.cvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
         |      * 1000000.0) AS BIGINT) AS sim
         |  FROM v, cent c),
         |cells AS (
         |  SELECT vid, vec, cid,
         |         row_number() OVER (PARTITION BY vid ORDER BY sim DESC, cid) AS r
         |  FROM sims),
         |assigned AS (SELECT vid, vec, cid AS cell FROM cells WHERE r = 1),
         |capped AS (SELECT * FROM assigned
         |           QUALIFY count(*) OVER (PARTITION BY cell) <= 1048576),
         |dup AS (
         |  SELECT DISTINCT b.vid
         |  FROM capped a JOIN capped b ON a.cell = b.cell AND a.vid < b.vid
         |  WHERE $cosPpm >= 350000)
         |SELECT s.vid AS vec_id, s.cell, d.vid IS NULL AS is_kept
         |FROM assigned s LEFT JOIN dup d ON d.vid = s.vid""".stripMargin) {
      (s, d) =>
        Similarity.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding",
          minCosinePpm = 350000L)
          .select(col("vid").as("vec_id"), col("cell"), col("is_kept"))
    },

    // CANONICAL DOC PER NEAR-DUP CLUSTER: q55's clusters, but the
    // keeper is chosen by QUALITY (longest doc wins, lowest id ties)
    // instead of min-id — the policy real pipelines ship. Spark side
    // is one max_by hash agg over the member-attribute join; the
    // oracle extends the recursive min-label CTE with a per-cluster
    // argmax window.
    QueryDef.sql("q134_canonical_doc",
      s"""WITH RECURSIVE ${lshBandCtes(2, 6, 4096)},
         |pairs AS (
         |  SELECT c.id_a, c.id_b, $cosPpm AS cosine_ppm
         |  FROM cand c JOIN sigs a ON a.vid = c.id_a JOIN sigs b ON b.vid = c.id_b
         |  WHERE c.id_a < c.id_b),
         |thr AS (SELECT id_a, id_b FROM pairs WHERE cosine_ppm >= 350000),
         |e AS (SELECT id_a AS a, id_b AS b FROM thr
         |      UNION SELECT id_b, id_a FROM thr),
         |nodes AS (SELECT DISTINCT a AS v FROM e),
         |reach AS (
         |  SELECT v, v AS m FROM nodes
         |  UNION
         |  SELECT e.b AS v, r.m FROM reach r JOIN e ON e.a = r.v),
         |lab AS (SELECT v, min(m) AS cluster_id FROM reach GROUP BY v),
         |j AS (SELECT l.v, l.cluster_id, d.n_chars
         |      FROM lab l JOIN documents d ON d.doc_id = l.v),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |                 ORDER BY n_chars DESC, v) AS rn FROM j)
         |SELECT cluster_id,
         |       max(CASE WHEN rn = 1 THEN v END) AS kept_id,
         |       max(CASE WHEN rn = 1 THEN n_chars END) AS kept_quality,
         |       CAST(count(*) AS BIGINT) AS n_docs
         |FROM rk GROUP BY cluster_id""".stripMargin) {
      (s, d) => {
        val pairs = Similarity.cosineNearDupPairs(Tables.embeddings(s, d),
          "vec_id", "embedding", minCosinePpm = 350000L)
        graft.operators.Dedup.canonicalPerCluster(pairs,
          Tables.documents(s, d), "doc_id", "n_chars")
      }
    },

    // HARD-NEGATIVE MINING for contrastive training: per anchor, the
    // top-5 most-similar vectors with a DIFFERENT label — the broadcast
    // anchor batch streams the corpus once (BroadcastNestedLoopJoin,
    // not a cartesian); hardNegativesLsh is the corpus×corpus path
    // (recall-gated in SimilaritySpec). The oracle is q35's brute-force
    // SQL with the cross-label predicate.
    QueryDef.sql("q136_hard_negatives",
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS query_label
        |           FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT query_id, query_label, v.vec_id AS neighbor_id, v.label AS neighbor_label,
        |    CAST(round(
        |      list_sum(list_transform(list_zip(qe, v.embedding),
        |               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      * 1000000.0) AS BIGINT) AS cosine_ppm
        |  FROM q, embeddings v WHERE v.label <> q.query_label),
        |ranked AS (
        |  SELECT query_id, query_label, neighbor_id, neighbor_label, cosine_ppm,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cosine_ppm DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, query_label, neighbor_id, neighbor_label, rank, cosine_ppm
        |FROM ranked WHERE rank <= 5""".stripMargin) {
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.hardNegatives(e, "vec_id", "embedding", "label",
          e.filter(col("vec_id") < 8), "vec_id", "embedding", "label", k = 5)
      }
    },

    // PRODUCT-QUANTIZATION ANN (ADC): 64-dim vectors compress to 4
    // codeword ids (one 8-codeword book per 16-dim subspace, md5-seeded
    // like q38's centroids so the whole train/encode/search pipeline
    // replays in SQL); anchors score codeword RECONSTRUCTIONS — the
    // relational form of the ADC lookup-table sum. The oracle replays
    // seeding, per-subspace argmin encode, reconstruction, and the
    // re-rank.
    QueryDef.sql("q139_pq_ann",
      """WITH v AS (SELECT vec_id AS vid, embedding AS vec FROM embeddings),
        |seeds AS (SELECT vid AS cid, vec FROM v
        |          ORDER BY md5(CAST(vid AS VARCHAR)), vid LIMIT 8),
        |books AS (
        |  SELECT g.sub, s.cid, list_slice(s.vec, g.sub*16+1, g.sub*16+16) AS cvec
        |  FROM seeds s, generate_series(0, 3) g(sub)),
        |subrows AS (
        |  SELECT v.vid, g.sub, list_slice(v.vec, g.sub*16+1, g.sub*16+16) AS svec
        |  FROM v, generate_series(0, 3) g(sub)),
        |dists AS (
        |  SELECT r.vid, r.sub, b.cid,
        |    CAST(round(list_sum(list_transform(list_zip(r.svec, b.cvec),
        |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
        |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) * 1000000.0) AS BIGINT) AS d
        |  FROM subrows r JOIN books b ON b.sub = r.sub),
        |codes AS (
        |  SELECT vid, sub, cid FROM dists
        |  QUALIFY row_number() OVER (PARTITION BY vid, sub ORDER BY d, cid) = 1),
        |recon AS (
        |  SELECT c.vid, flatten(list(b.cvec ORDER BY c.sub)) AS rvec
        |  FROM codes c JOIN books b ON b.sub = c.sub AND b.cid = c.cid
        |  GROUP BY c.vid),
        |q AS (SELECT vid AS query_id, vec AS qe FROM v WHERE vid < 8),
        |scored AS (
        |  SELECT q.query_id, r.vid AS neighbor_id,
        |    CAST(round(
        |      list_sum(list_transform(list_zip(q.qe, r.rvec),
        |               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(r.rvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      * 1000000.0) AS BIGINT) AS cosine_ppm
        |  FROM q, recon r WHERE r.vid <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine_ppm,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cosine_ppm DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, rank, cosine_ppm
        |FROM ranked WHERE rank <= 5""".stripMargin) {
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.pqTopK(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 5, subspaces = 4, codebookSize = 8, dim = 64)
      }
    },

    // CONTRASTIVE TRIPLETS: per anchor, best same-label neighbor
    // (positive) + best cross-label neighbor (hard negative) in one
    // corpus pass — one window over (query_id, same?), one pivot agg.
    QueryDef.sql("q142_contrastive_triplets",
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS query_label
        |           FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT query_id, query_label, v.vec_id AS neighbor_id,
        |         v.label = q.query_label AS same,
        |    CAST(round(
        |      list_sum(list_transform(list_zip(qe, v.embedding),
        |               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      * 1000000.0) AS BIGINT) AS cosine_ppm
        |  FROM q, embeddings v WHERE v.vec_id <> q.query_id),
        |top AS (
        |  SELECT * FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY query_id, same
        |                             ORDER BY cosine_ppm DESC, neighbor_id) = 1)
        |SELECT query_id, query_label,
        |       max(CASE WHEN same THEN neighbor_id END) AS pos_id,
        |       max(CASE WHEN same THEN cosine_ppm END) AS pos_ppm,
        |       max(CASE WHEN NOT same THEN neighbor_id END) AS neg_id,
        |       max(CASE WHEN NOT same THEN cosine_ppm END) AS neg_ppm
        |FROM top GROUP BY 1, 2
        |HAVING max(CASE WHEN same THEN neighbor_id END) IS NOT NULL
        |   AND max(CASE WHEN NOT same THEN neighbor_id END) IS NOT NULL""".stripMargin) {
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.contrastiveTriplets(e, "vec_id", "embedding", "label",
          e.filter(col("vec_id") < 8), "vec_id", "embedding", "label")
      }
    },

    // EMBEDDING-SPACE DRIFT per label between two snapshot halves:
    // cosine of the halves' mean embeddings — the semantic complement
    // to q152's categorical TVD (a stable label mix can still move in
    // content). ppm rounding absorbs partial-aggregation float
    // ordering (q52's contract).
    QueryDef.sql("q157_centroid_drift",
      """WITH da AS (
        |  SELECT label, i AS pos, avg(CAST(embedding[i] AS DOUBLE)) AS m
        |  FROM embeddings, generate_series(1, 64) g(i)
        |  WHERE vec_id < 250 GROUP BY 1, 2),
        |ca AS (SELECT label, list(m ORDER BY pos) AS cvec FROM da GROUP BY label),
        |db AS (
        |  SELECT label, i AS pos, avg(CAST(embedding[i] AS DOUBLE)) AS m
        |  FROM embeddings, generate_series(1, 64) g(i)
        |  WHERE vec_id >= 250 GROUP BY 1, 2),
        |cb AS (SELECT label, list(m ORDER BY pos) AS cvec FROM db GROUP BY label)
        |SELECT ca.label, CAST(round(
        |    list_sum(list_transform(generate_series(1, 64),
        |             i -> ca.cvec[i] * cb.cvec[i]))
        |    / (sqrt(list_sum(list_transform(ca.cvec, x -> x * x)))
        |       * sqrt(list_sum(list_transform(cb.cvec, x -> x * x))))
        |    * 1000000.0) AS BIGINT) AS centroid_cos_ppm
        |FROM ca JOIN cb USING (label)""".stripMargin) {
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.centroidDrift(
          e.filter(col("vec_id") < 250), e.filter(col("vec_id") >= 250),
          "label", "embedding")
          .withColumnRenamed("grp", "label")
      }
    },

    // SEMANTIC DECONTAMINATION: flag corpus embeddings near-duplicate
    // of any benchmark embedding (vec_id % 10 = 0 plays the benchmark)
    // — the embedding-space complement of q48's n-gram
    // decontamination; paraphrased leakage survives n-gram checks but
    // not a cosine check. One banded LSH index over the tagged union
    // (census over the union too), candidates across sides only,
    // exact verify, corpus spine drives. The oracle replays the union
    // banding, cap, verify, and spine join.
    QueryDef.sql("q203_semantic_decontamination",
      s"""WITH ${lshSigCtes(12)},
         |ub AS (
         |  SELECT s.vid, 0 AS side, g.band,
         |         (CAST(s.sig AS BIGINT) >> (g.band * 6)) & 63 AS bucket
         |  FROM sigs s, generate_series(0, 1) g(band)
         |  UNION ALL
         |  SELECT s.vid, 1, g.band,
         |         (CAST(s.sig AS BIGINT) >> (g.band * 6)) & 63
         |  FROM sigs s, generate_series(0, 1) g(band)
         |  WHERE s.vid % 10 = 0),
         |kept AS (
         |  SELECT * FROM ub
         |  QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 4096),
         |cand AS (
         |  SELECT DISTINCT ka.vid AS cand_a, kb.vid AS cand_b
         |  FROM kept ka JOIN kept kb
         |    ON ka.band = kb.band AND ka.bucket = kb.bucket
         |  WHERE ka.side = 0 AND kb.side = 1),
         |ver AS (
         |  SELECT c.cand_a, c.cand_b FROM cand c
         |  JOIN sigs a ON a.vid = c.cand_a JOIN sigs b ON b.vid = c.cand_b
         |  WHERE $cosPpm >= 350000),
         |hits AS (SELECT cand_a, count(*) AS n FROM ver GROUP BY 1)
         |SELECT e.vec_id,
         |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_bench_hits,
         |       coalesce(h.n, 0) > 0 AS is_contaminated
         |FROM embeddings e LEFT JOIN hits h ON h.cand_a = e.vec_id""".stripMargin) {
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.semanticDecontaminate(
          e, "vec_id", "embedding",
          e.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
          minCosinePpm = 350000L)
      }
    },

    // MUTUAL (reciprocal) NEAREST NEIGHBORS: pairs that are each
    // other's top-1 — the high-precision linking signal of embedding
    // entity resolution. Exact brute-force ranking over a 200-vector
    // slice (the declared baseline; the mutual join is what the
    // operator adds, and reuses unchanged over LSH/IVF top-1s at
    // scale).
    QueryDef.sql("q160_mutual_nn",
      """WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
        |sc AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    CAST(round(
        |      list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(a.embedding,
        |                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(b.embedding,
        |                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      * 1000000.0) AS BIGINT) AS cosine_ppm
        |  FROM v a JOIN v b ON a.vec_id <> b.vec_id),
        |top AS (
        |  SELECT * FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY qid
        |                             ORDER BY cosine_ppm DESC, nid) = 1)
        |SELECT f.qid AS id_a, f.nid AS id_b, f.cosine_ppm
        |FROM top f JOIN top r ON f.nid = r.qid AND r.nid = f.qid
        |WHERE f.qid < f.nid""".stripMargin) {
      (s, d) =>
        Similarity.mutualNearestNeighbors(
          Tables.embeddings(s, d).filter(col("vec_id") < 200),
          "vec_id", "embedding")
    },

    // MUTUAL NEAREST NEIGHBORS, SCALE FORM: both top-1 legs come from
    // the banded-LSH candidate path (q36's pipeline at k=1 — bounded
    // joins, never all-pairs), then the same reciprocity join as q160.
    // The oracle replays hyperplanes, banding, cap, top-1 and the
    // mutual join, so the whole composition hash-verifies.
    QueryDef.sql("q160b_mutual_nn_lsh",
      s"""WITH ${lshBandCtes(2, 8, 4096)},
         |scored AS (
         |  SELECT c.id_a AS query_id, c.id_b AS neighbor_id,
         |    $cosPpm AS cosine_ppm
         |  FROM cand c JOIN sigs a ON a.vid = c.id_a JOIN sigs b ON b.vid = c.id_b),
         |top AS (
         |  SELECT * FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |                             ORDER BY cosine_ppm DESC, neighbor_id) = 1)
         |SELECT f.query_id AS id_a, f.neighbor_id AS id_b, f.cosine_ppm
         |FROM top f JOIN top r ON f.neighbor_id = r.query_id
         |                     AND r.neighbor_id = f.query_id
         |WHERE f.query_id < f.neighbor_id""".stripMargin) {
      (s, d) =>
        Similarity.mutualNearestNeighborsLsh(
          Tables.embeddings(s, d), "vec_id", "embedding")
    },

    // SOFT DEDUPLICATION (keep-but-downweight): every vector gets a
    // sampling weight 10⁶ DIV |its q55 near-dup cluster|; singletons
    // (no near-dup pair) keep full weight 10⁶. The weights feed the
    // deterministic weighted sampler (q113) — duplicates survive but
    // contribute one document's worth of mass. Oracle = q55's
    // recursive min-reachable CTE + cluster sizes, left-joined to the
    // full id space.
    QueryDef.sql("q166_soft_dedup_weights",
      s"""WITH RECURSIVE ${lshBandCtes(2, 6, 4096)},
         |pairs AS (
         |  SELECT c.id_a, c.id_b, $cosPpm AS cosine_ppm
         |  FROM cand c JOIN sigs a ON a.vid = c.id_a JOIN sigs b ON b.vid = c.id_b
         |  WHERE c.id_a < c.id_b),
         |thr AS (SELECT id_a, id_b FROM pairs WHERE cosine_ppm >= 350000),
         |e AS (SELECT id_a AS a, id_b AS b FROM thr
         |      UNION SELECT id_b, id_a FROM thr),
         |nodes AS (SELECT DISTINCT a AS v FROM e),
         |reach AS (
         |  SELECT v, v AS m FROM nodes
         |  UNION
         |  SELECT e.b AS v, r.m FROM reach r JOIN e ON e.a = r.v),
         |cc AS (SELECT v, min(m) AS lbl FROM reach GROUP BY v),
         |sz AS (SELECT lbl, count(*) AS sz FROM cc GROUP BY lbl)
         |SELECT em.vec_id,
         |       coalesce(cc.lbl, em.vec_id) AS cluster_id,
         |       coalesce(sz.sz, 1) AS cluster_size,
         |       CAST(1000000 // coalesce(sz.sz, 1) AS BIGINT) AS weight_micro
         |FROM embeddings em
         |LEFT JOIN cc ON cc.v = em.vec_id
         |LEFT JOIN sz ON sz.lbl = cc.lbl""".stripMargin) {
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val pairs = Similarity.cosineNearDupPairs(e, "vec_id", "embedding",
          minCosinePpm = 350000L)
        graft.operators.Dedup.softDedupWeights(e, "vec_id", pairs)
      }
    },

    // DEDUP-AWARE SAMPLING end-to-end: q166's soft weights feed q113's
    // deterministic weighted coin — duplicated clusters contribute one
    // document's worth of sampling mass in TOTAL, uniques keep full
    // mass. The whole composition (LSH pairs → CC sizes → weights →
    // integer cross-multiplied coin on the bit-exact XXH64) replays in
    // one oracle statement.
    QueryDef.sql("q195_dedup_aware_sample", {
      import XxHash64Sql._
      val (steps, h) = hashLongSteps(s2u("vec_id"), "42", "DW")
      val (ctes, last) = chainCtes("w", steps, "dwc")
      s"""WITH RECURSIVE ${lshBandCtes(2, 6, 4096)},
         |pairs AS (
         |  SELECT c.id_a, c.id_b, $cosPpm AS cosine_ppm
         |  FROM cand c JOIN sigs a ON a.vid = c.id_a JOIN sigs b ON b.vid = c.id_b
         |  WHERE c.id_a < c.id_b),
         |thr AS (SELECT id_a, id_b FROM pairs WHERE cosine_ppm >= 350000),
         |e AS (SELECT id_a AS a, id_b AS b FROM thr
         |      UNION SELECT id_b, id_a FROM thr),
         |vn AS (SELECT DISTINCT a AS v FROM e),
         |reach AS (
         |  SELECT v, v AS m FROM vn
         |  UNION
         |  SELECT e.b AS v, r.m FROM reach r JOIN e ON e.a = r.v),
         |cc AS (SELECT v, min(m) AS lbl FROM reach GROUP BY v),
         |sz AS (SELECT lbl, count(*) AS sz FROM cc GROUP BY lbl),
         |w AS (SELECT em.vec_id,
         |             CAST(1000000 // coalesce(sz.sz, 1) AS BIGINT) AS weight
         |      FROM embeddings em
         |      LEFT JOIN cc ON cc.v = em.vec_id
         |      LEFT JOIN sz ON sz.lbl = cc.lbl),
         |$ctes,
         |base AS (SELECT vec_id, weight,
         |                ((${u2s(h)} % 1000000) + 1000000) % 1000000 AS u
         |         FROM $last),
         |t AS (SELECT sum(weight) AS sumw FROM base)
         |SELECT vec_id AS doc_id, weight, CAST(u AS BIGINT) AS u
         |FROM base CROSS JOIN t
         |WHERE u * sumw < weight * 100 * 1000000""".stripMargin
    }) {
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val pairs = Similarity.cosineNearDupPairs(e, "vec_id", "embedding",
          minCosinePpm = 350000L)
        val w = graft.operators.Dedup.softDedupWeights(e, "vec_id", pairs)
          .select(col("vec_id"), col("weight_micro"))
        graft.operators.Sampling.weightedByHash(w, "vec_id",
          col("weight_micro"), expectedK = 100)
      }
    },

    // JOHNSON–LINDENSTRAUSS RANDOM PROJECTION (64 → 16 dims): the
    // cheap dimensionality cut in front of ANN — 4× fewer bytes and
    // FLOPs per downstream distance evaluation, no stored matrix
    // (directions are splitmix64-derived on seed channel 1, a few ALU
    // ops per component inside one codegen'd loop). The oracle rebuilds
    // the seeded component family with 128-bit-safe mod-2^64 arithmetic
    // and the same sequential double accumulation, then both engines
    // round the bit-identical doubles — the q36 exactness discipline.
    QueryDef.sql("q207_random_projection",
      s"""WITH ${projCtes(16, 1L)}
         |SELECT vec_id, CAST(dim AS BIGINT) AS dim,
         |       CAST(round(v) AS BIGINT) AS proj_r
         |FROM pproj""".stripMargin) {
      (s, d) =>
        Tables.embeddings(s, d)
          .select(col("vec_id"),
            posexplode(Similarity.randomProject(col("embedding"), 16, seed = 1L)))
          .select(col("vec_id"), col("pos").cast("long").as("dim"),
            round(col("col")).cast("long").as("proj_r"))
    },

    // PROJECTED-SPACE RECALL: exact top-3 in the 16-dim JL-projected
    // space vs exact top-3 in the full 64-dim space for a 50-query
    // batch — the acceptance measurement for using the projection as
    // an ANN pre-step (what does the 4× compute cut cost in recall?).
    // The projected frame is cached (it feeds both sides of the ranked
    // self-join); the brute-force rankers are the declared baselines
    // (q35's contract) over a bounded query slice. Oracle replays the
    // projection, the float cast, both rankers, and the recall join.
    QueryDef.sql("q208_projected_recall",
      s"""WITH ${projCtes(16, 1L)},
         |pvec AS (SELECT vec_id, list(CAST(v AS FLOAT) ORDER BY dim) AS vec
         |         FROM pproj GROUP BY vec_id),
         |ap AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         row_number() OVER (PARTITION BY a.vec_id
         |                            ORDER BY $cosPpm DESC, b.vec_id) AS rank
         |  FROM (SELECT vec_id, vec FROM pvec WHERE vec_id < 50) a
         |  JOIN pvec b ON a.vec_id <> b.vec_id),
         |ex AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         row_number() OVER (PARTITION BY a.vec_id
         |                            ORDER BY $cosPpm DESC, b.vec_id) AS rank
         |  FROM (SELECT vec_id, embedding AS vec FROM embeddings WHERE vec_id < 50) a
         |  JOIN (SELECT vec_id, embedding AS vec FROM embeddings) b
         |    ON a.vec_id <> b.vec_id)
         |SELECT e.query_id, count(*) AS n_exact,
         |       CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_hits,
         |       CAST((1000000 * sum(CASE WHEN l.neighbor_id IS NOT NULL
         |                                THEN 1 ELSE 0 END)) // count(*)
         |            AS BIGINT) AS recall_ppm
         |FROM (SELECT query_id, neighbor_id FROM ex WHERE rank <= 3) e
         |LEFT JOIN (SELECT query_id, neighbor_id FROM ap WHERE rank <= 3) l
         |  ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
         |GROUP BY 1""".stripMargin) {
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val proj = graft.operators.CacheRegistry.persist(e.select(col("vec_id"),
          transform(Similarity.randomProject(col("embedding"), 16, seed = 1L),
            _.cast("float")).as("pemb")))
        Similarity.topKRecall(
          Similarity.bruteForceTopK(proj, "vec_id", "pemb",
            proj.filter(col("vec_id") < 50), "vec_id", "pemb", k = 3),
          Similarity.bruteForceTopK(e, "vec_id", "embedding",
            e.filter(col("vec_id") < 50), "vec_id", "embedding", k = 3))
      }
    },

    // MARGIN-BASED BITEXT MINING (Artetxe & Schwenk 2019): candidate
    // pairs scored by margin over each side's own kNN neighborhood —
    // the hub-suppressing objective behind LASER/CCMatrix parallel-
    // corpus mining. Two "languages" = the bounded embedding slice
    // split by id parity (the q35 brute-force contract); k = 4;
    // margin in exact integer millis ((cos_ppm · 8000) div Σ-sums,
    // both operands positive so floor ≡ truncation across engines).
    // marginMilliMin = 0 so the gate pins EVERY source's best target
    // and its margin value; the paper's ratio>1 verdict is the
    // `mined` boolean, hash-gated alongside.
    QueryDef.sql("q222_margin_bitext_mining",
      """WITH a AS (SELECT vec_id AS src_id, embedding AS e
        |           FROM embeddings WHERE vec_id < 200 AND vec_id % 2 = 0),
        |b AS (SELECT vec_id AS tgt_id, embedding AS e
        |      FROM embeddings WHERE vec_id < 200 AND vec_id % 2 = 1),
        |pairs AS (
        |  SELECT src_id, tgt_id,
        |    CAST(round(
        |      list_sum(list_transform(list_zip(a.e, b.e),
        |               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(a.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(b.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      * 1000000.0) AS BIGINT) AS cosine_ppm
        |  FROM a, b),
        |ssum AS (
        |  SELECT src_id, sum(cosine_ppm) AS s FROM (
        |    SELECT src_id, cosine_ppm,
        |           row_number() OVER (PARTITION BY src_id
        |                              ORDER BY cosine_ppm DESC, tgt_id) AS r
        |    FROM pairs) WHERE r <= 4 GROUP BY 1),
        |tsum AS (
        |  SELECT tgt_id, sum(cosine_ppm) AS s FROM (
        |    SELECT tgt_id, cosine_ppm,
        |           row_number() OVER (PARTITION BY tgt_id
        |                              ORDER BY cosine_ppm DESC, src_id) AS r
        |    FROM pairs) WHERE r <= 4 GROUP BY 1),
        |m AS (
        |  SELECT p.src_id, p.tgt_id, p.cosine_ppm,
        |         (p.cosine_ppm * 8000) // (ss.s + ts.s) AS margin_milli
        |  FROM pairs p
        |  JOIN ssum ss USING (src_id) JOIN tsum ts USING (tgt_id)
        |  WHERE p.cosine_ppm > 0 AND ss.s + ts.s > 0),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY src_id
        |                               ORDER BY margin_milli DESC, tgt_id) AS r
        |  FROM m)
        |SELECT src_id, tgt_id, cosine_ppm,
        |       CAST(margin_milli AS BIGINT) AS margin_milli,
        |       margin_milli >= 1000 AS mined
        |FROM best WHERE r = 1""".stripMargin) {
      (s, d) => {
        val e = Tables.embeddings(s, d).filter(col("vec_id") < 200)
        Similarity.marginMining(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
          e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
          k = 4, marginMilliMin = 0L)
          .withColumn("mined", col("margin_milli") >= 1000L)
      }
    }
  )
}
