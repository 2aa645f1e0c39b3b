package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over an embedding column (Array[Float]).
  *
  * Brute-force cosine top-k is the correctness baseline (cross join —
  * fine for query batches, quadratic for all-pairs). The scale path is
  * random-hyperplane LSH: each vector gets a `planes`-bit signature;
  * vectors sharing a signature bucket are candidates, re-ranked
  * exactly. At 100 TB the bucket join replaces the cross join, and the
  * signature computation is a single codegen'd projection.
  *
  * PRECONDITION for every cosine-based op: vectors must be non-zero.
  * cosine(0⃗, ·) is 0/0 = NaN, and the ppm rounding's NaN→long cast is
  * a runtime error under ANSI mode (identically on the oracle engine)
  * — filter zero vectors out upstream ([[int8Scale]] > 0, or a norm
  * filter). [[int8Quantize]] is the one op that guards internally.
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated in double in
    * index order (deterministic).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Codegen'd single-loop cosine (see plans.CosineSimilarity) —
    * numerically identical to `dot(a,b)/(norm(a)*norm(b))`.
    */
  def cosine(a: Column, b: Column): Column =
    graft.plans.CosineSimilarity.cosine_sim(a, b)

  /** Exact top-k neighbors for each query vector (brute force).
    * Returns (query_id, neighbor_id, rank, cosine_ppm). `excludeSelf`
    * assumes queries and vectors share an id space (the self-query
    * case); pass false when they are distinct tables whose ids may
    * coincide.
    */
  def bruteForceTopK(vectors: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, qIdCol: String, qVecCol: String,
                     k: Int, excludeSelf: Boolean = true): DataFrame = {
    val all = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__q"))
      .crossJoin(vectors.select(col(idCol).as("neighbor_id"), col(vecCol).as("__v")))
    val scored = (if (excludeSelf) all.filter(col("query_id") =!= col("neighbor_id")) else all)
      .withColumn("cosine_ppm", round(cosine(col("__q"), col("__v")) * 1e6).cast("long"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine_ppm").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine_ppm")
  }

  /** ANN RECALL EVALUATION: per query, how much of the EXACT top-k an
    * approximate ranker recovered — the acceptance metric every
    * LSH/IVF/PQ deployment is tuned against. Inputs are two ranked
    * frames with (query_id, neighbor_id) rows already cut at k (the
    * [[lshTopK]]/[[ivfTopK]]/[[bruteForceTopK]] output shape). The
    * EXACT side drives (left outer, the q164 discipline): a query the
    * approximate ranker returned nothing for reports recall 0 instead
    * of vanishing and inflating the aggregate. Returns (query_id,
    * n_exact, n_hits, recall_ppm) in exact integer arithmetic.
    *
    * Shape: one (query, neighbor) equi-join of two ≤ k·|queries|-row
    * frames + one per-query aggregate — evaluation never touches the
    * vectors again.
    */
  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the LASER
    * mining objective): score a cross-lingual candidate pair not by
    * raw cosine but by how far it stands ABOVE each side's own
    * neighborhood — `margin(x,y) = cos(x,y) / ((avgₖNN(x) +
    * avgₖNN(y)) / 2)` — which suppresses hubs (vectors cosine-close
    * to everything) that absolute-threshold mining mis-pairs. The
    * standard source of parallel-corpus training data at web scale.
    *
    * Integer contract: cosines are the q35 ppm convention, and the
    * margin is `(cos_ppm · 2k · 1000) div (ΣₖNN(x) + ΣₖNN(y))` —
    * sum-of-top-k instead of mean and integer division keep every
    * engine bit-identical (both operands positive by the filter, so
    * floor and truncating division agree). `margin_milli ≥ 1000` is
    * the paper's "ratio > 1" cut. Only positive-cosine pairs with
    * positive neighborhood sums are scoreable — a mining no-op for
    * anti-correlated vectors, by construction.
    *
    * Returns the best target per source (`rank 1` by margin desc,
    * id tiebreak) with `margin_milli ≥ marginMilliMin`. Scale shape:
    * the all-pairs scoring is the DECLARED bounded brute-force
    * baseline (the q35 contract — run it per retrieval shard); at
    * corpus scale feed `src`/`tgt` through [[lshCandidates]]/IVF
    * pruning first and the three window passes run on the candidate
    * set only. The scored pair frame is persisted once and feeds
    * both kNN-sum passes and the final join.
    */
  def marginMining(src: DataFrame, srcId: String, srcVec: String,
                   tgt: DataFrame, tgtId: String, tgtVec: String,
                   k: Int = 4, marginMilliMin: Long = 1000L): DataFrame = {
    val pairs = CacheRegistry.persist(
      src.select(col(srcId).as("src_id"), col(srcVec).as("__a"))
        .crossJoin(tgt.select(col(tgtId).as("tgt_id"), col(tgtVec).as("__b")))
        .withColumn("cosine_ppm",
          round(cosine(col("__a"), col("__b")) * 1e6).cast("long"))
        .select("src_id", "tgt_id", "cosine_ppm"))
    val ws = Window.partitionBy("src_id")
      .orderBy(col("cosine_ppm").desc, col("tgt_id"))
    val wt = Window.partitionBy("tgt_id")
      .orderBy(col("cosine_ppm").desc, col("src_id"))
    val srcSum = pairs.withColumn("r", row_number().over(ws))
      .filter(col("r") <= k)
      .groupBy("src_id").agg(sum("cosine_ppm").as("src_knn_sum"))
    val tgtSum = pairs.withColumn("r", row_number().over(wt))
      .filter(col("r") <= k)
      .groupBy("tgt_id").agg(sum("cosine_ppm").as("tgt_knn_sum"))
    val margin = pairs
      .join(srcSum, Seq("src_id")).join(tgtSum, Seq("tgt_id"))
      .filter(col("cosine_ppm") > 0 &&
        (col("src_knn_sum") + col("tgt_knn_sum")) > 0)
      .withColumn("margin_milli",
        expr(s"(cosine_ppm * ${2L * k * 1000L}) div (src_knn_sum + tgt_knn_sum)"))
    val best = Window.partitionBy("src_id")
      .orderBy(col("margin_milli").desc, col("tgt_id"))
    margin.withColumn("rank", row_number().over(best))
      .filter(col("rank") === 1 && col("margin_milli") >= marginMilliMin)
      .select("src_id", "tgt_id", "cosine_ppm", "margin_milli")
  }

  def topKRecall(approx: DataFrame, exact: DataFrame): DataFrame = {
    // distinct: the API accepts ANY ranked frame — duplicate
    // (query_id, neighbor_id) rows on the approx side would fan out
    // the exact rows through the left join and inflate n_exact past k
    val a = approx.select(col("query_id"), col("neighbor_id")).distinct()
      .withColumn("__hit", lit(1L))
    exact.select(col("query_id"), col("neighbor_id"))
      .join(a, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("n_exact"), col("n_hits"),
        expr("(1000000 * n_hits) div n_exact").as("recall_ppm"))
  }

  /** Deterministic pseudo-random hyperplanes: plane p component i is a
    * zero-mean value derived from splitmix64(p, i); the dimension comes
    * from the vector itself. Signature bit p is the sign of v·plane_p,
    * packed into one long — a single codegen'd loop per row (see
    * plans.LshSignature; the hyperplanes are data-independent and cost
    * a few ALU ops per component, nothing is hashed per row).
    */
  def lshSignature(vec: Column, planes: Int): Column =
    graft.plans.LshSignature.lsh_signature(vec, planes)

  /** Johnson–Lindenstrauss random projection to `outDims` doubles — the
    * cheap dimensionality cut in front of ANN (4× fewer bytes and FLOPs
    * per distance evaluation at 64→16, recall cost measured by the q208
    * gate). Directions come from the same splitmix64 component family
    * as the LSH hyperplanes, on a `seed` channel: seed 0 IS the LSH
    * hyperplane set (sign(proj_p) == signature bit p), any other seed
    * decorrelates. One codegen'd loop per row, no stored matrix (see
    * plans.RandomProjection).
    */
  def randomProject(vec: Column, outDims: Int, seed: Long = 0L): Column =
    graft.plans.RandomProjection.random_projection(vec, outDims, seed)

  /** Banded (multi-table) LSH bucket rows: one (vid, band, bucket) row
    * per band, where band b's bucket is bits [b·r, (b+1)·r) of one
    * `bands × rowsPerBand`-plane signature (computed once per row).
    * Two vectors are near-dup candidates if ANY band bucket matches —
    * the same band-OR construction [[graft.operators.Dedup.minhashLshPairs]]
    * uses for text, applied to random-hyperplane signatures.
    *
    * Sizing at scale: with match probability p = 1 − θ/π per plane, a
    * candidate survives with 1 − (1 − p^r)^b — `rowsPerBand` (r) sets
    * bucket granularity (2^r buckets per band; pick
    * r ≈ log₂(N / targetBucketSize)), `bands` (b) buys recall back.
    * A single fixed-plane table caps the bucket count regardless of N
    * and goes quadratic inside buckets at 100× data; banding keeps r
    * free to grow with N while recall stays controlled by b.
    *
    * Buckets larger than `maxBucket` are dropped entirely before the
    * self-join — a degenerate vector cluster (all-zero embeddings, a
    * repeated document) otherwise lands N' rows in one bucket and the
    * join emits N'²/2 pairs on one reducer. The census is tiny
    * (≤ bands·2^r groups), so the over-cap blacklist broadcasts.
    * Dropping (not salting) is the standard production dedup choice:
    * members of an over-cap bucket are still reachable through their
    * other bands.
    */
  private[graft] def bandedBuckets(vectors: DataFrame, idCol: String, vecCol: String,
                                   bands: Int, rowsPerBand: Int, maxBucket: Int): DataFrame = {
    val planes = bands * rowsPerBand
    // 62, not 64: with the sign bit (or bit 62, once a full-width band
    // mask reaches it) set, `(1L << 64) - 1` wraps to 0 (every row in
    // bucket 0 → fully quadratic join) and shiftrightunsigned diverges
    // from the arithmetic `>>` an external SQL oracle uses. Keeping the
    // signature in the non-negative 62-bit range makes both operations
    // sign-free and engine-portable.
    require(bands >= 1 && rowsPerBand >= 1 && planes <= 62,
      s"bands*rowsPerBand must be in [1,62], got $bands*$rowsPerBand")
    require(maxBucket >= 1, s"maxBucket must be positive, got $maxBucket")
    val mask = (1L << rowsPerBand) - 1
    // PERSIST the banded projection (CacheRegistry lifecycle, same as
    // Dedup's shingles): it feeds the hot-bucket census AND both sides
    // of the candidate self-join — without the cache the vector column
    // (the table's expensive bytes) is re-scanned and re-signed three
    // times per query. The cached rows are (vid, band, bucket) — ~20 B
    // each, orders of magnitude smaller than the vectors.
    val banded = CacheRegistry.persist(vectors
      .select(col(idCol).as("vid"), lshSignature(col(vecCol), planes).as("__sig"))
      .select(col("vid"), posexplode(array((0 until bands).map(bnd =>
        shiftrightunsigned(col("__sig"), bnd * rowsPerBand).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket"))
    val hot = banded.groupBy("band", "bucket").count()
      .filter(col("count") > maxBucket).select("band", "bucket")
    banded.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
  }

  /** Deduplicated candidate id pairs from the banded buckets (each pair
    * once, however many bands it collides in) — the pre-verify set.
    */
  private[graft] def lshCandidates(vectors: DataFrame, idCol: String, vecCol: String,
                                   bands: Int, rowsPerBand: Int, maxBucket: Int): DataFrame = {
    val banded = bandedBuckets(vectors, idCol, vecCol, bands, rowsPerBand, maxBucket)
    val a = banded.select(col("band"), col("bucket"), col("vid").as("id_a"))
    val b = banded.select(col("band"), col("bucket"), col("vid").as("id_b"))
    a.join(b, Seq("band", "bucket")).filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** LSH-bucketed ANN: banded multi-table candidates (any band match),
    * deduped, then exact cosine re-ranks each candidate pair once.
    * Recall < 1 by design; `bands` raises recall, `rowsPerBand` shrinks
    * buckets (see [[bandedBuckets]] for the sizing rule). Defaults keep
    * the per-band granularity of the former single 8-plane table, so
    * for buckets under `maxBucket` the candidate set is a superset of
    * it; a degenerate cluster over the cap can be dropped from every
    * band (the cap trades that tail of recall for bounded reducers).
    */
  def lshTopK(vectors: DataFrame, idCol: String, vecCol: String, k: Int,
              bands: Int = 2, rowsPerBand: Int = 8,
              maxBucket: Int = 4096): DataFrame = {
    val v = vectors.select(col(idCol).as("vid"), col(vecCol).as("vec"))
    val cand = lshCandidates(vectors, idCol, vecCol, bands, rowsPerBand, maxBucket)
      .select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"))
    val scored = cand
      .join(v.select(col("vid").as("query_id"), col("vec").as("__q")), Seq("query_id"))
      .join(v.select(col("vid").as("neighbor_id"), col("vec").as("__v")), Seq("neighbor_id"))
      .withColumn("cosine_ppm", round(cosine(col("__q"), col("__v")) * 1e6).cast("long"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine_ppm").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine_ppm")
  }

  /** Score the (small, broadcast) centroid array against each row's
    * vector and keep the `take` nearest cell ids, ranked by
    * (ppm-rounded sim desc, cid) — one array expression per row, no
    * row multiplication, no window, no shuffle.
    */
  private def nearestCells(v: DataFrame, centroids: DataFrame, take: Int): DataFrame = {
    val centArr = centroids.agg(collect_list(struct(col("cid"), col("cvec"))).as("__cents"))
    v.crossJoin(broadcast(centArr))
      .withColumn("__top", slice(array_sort(transform(col("__cents"), c =>
        struct((-round(cosine(col("vec"), c.getField("cvec")) * 1e6).cast("long")).as("negSim"),
          c.getField("cid").as("cid")))), 1, take))
      .select(col("vid"), col("vec"), transform(col("__top"), t => t.getField("cid")).as("__cells"))
  }

  /** Relational Lloyd (k-means) refinement of IVF centroids: seed with
    * the deterministic md5-ordered sample, then `iters` rounds of
    * broadcast nearest-centroid assignment + per-cell elementwise mean
    * (dims exploded once, one hash aggregate, centroid table rebuilt —
    * k×dim rows, trivially broadcast). Cells that lose all members drop
    * out, so ≤ `k` centroids return. Everything partial-aggregates
    * map-side; per iteration the full table is read once and only
    * (cell, dim) partials shuffle — the trained-ANN shape that holds at
    * 100 TB.
    */
  def kmeansCentroids(vectors: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int): DataFrame = {
    val v = vectors.select(col(idCol).as("vid"), col(vecCol).as("vec"))
    var cents = v.orderBy(md5(col("vid").cast("string")), col("vid")).limit(k)
      .select(col("vid").as("cid"), col("vec").as("cvec"))
    (0 until iters).foreach { _ =>
      val assigned = nearestCells(v, cents, 1)
        .select(element_at(col("__cells"), 1).as("cell"), col("vec"))
      val dimMeans = assigned.select(col("cell"), posexplode(col("vec")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
      cents = dimMeans.groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("__pm"))
        .select(col("cell").as("cid"),
          transform(col("__pm"), x => x.getField("m").cast("float")).as("cvec"))
    }
    cents
  }

  /** IVF (inverted-file) ANN: vectors partition into `nLists` cells by
    * nearest centroid; a query scans only its `nProbe` nearest cells.
    *
    * Centroids here are a deterministic pseudo-random sample (first
    * nLists vectors in md5(id) order) rather than trained k-means —
    * the partitioning quality differs, the *plan shape* doesn't: a broadcast
    * centroid-assignment projection, a cell-keyed equi-join in place of
    * the cross join, and exact re-ranking inside probed cells. At scale
    * the assignment is one codegen'd pass and the join shuffles only
    * cell-matched pairs. Returns (query_id, neighbor_id, rank,
    * cosine_ppm); recall < 1 by design, exact within probed cells.
    *
    * Sizing: with nLists FIXED, per-cell candidate lists grow
    * linearly with N and so does total scored work (measured: the r8
    * soak's ivf_topk T-exponent is 1.0 at 3→10×) — at real corpus
    * growth size nLists ∝ √N (nProbe fixed) so per-query scored
    * candidates stay ~√N and total work stays sub-quadratic; the
    * demo default 16 is gate-corpus-sized, not a production value.
    */
  def ivfTopK(vectors: DataFrame, idCol: String, vecCol: String, k: Int,
              nLists: Int = 16, nProbe: Int = 4, trainIters: Int = 0): DataFrame = {
    val v = vectors.select(col(idCol).as("vid"), col(vecCol).as("vec"))
    // Deterministic pseudo-random pick of nLists centroids: order by
    // md5(vid) and take the first nLists. Compiles to
    // TakeOrderedAndProject — each partition keeps its local top-nLists
    // and only those rows meet at the driver-side merge; no global
    // shuffle, no extra count() job, no unpartitioned window (the
    // round-1 scale-killer). md5 keeps the choice oracle-expressible;
    // trainIters > 0 refines the sample with relational Lloyd rounds
    // (better recall, no longer oracle-reproducible — the q38 gate
    // keeps trainIters = 0).
    val centroids =
      if (trainIters > 0) kmeansCentroids(vectors, idCol, vecCol, nLists, trainIters)
      else v.orderBy(md5(col("vid").cast("string")), col("vid"))
        .limit(nLists)
        .select(col("vid").as("cid"), col("vec").as("cvec"))
    // Rank the centroid set per row as an ARRAY expression: the
    // broadcast centroid list rides along as one array column, each row
    // scores all nLists centroids, sorts (sim desc, cid — ppm-rounded
    // so the order is reproducible across engines, not ulp-sensitive)
    // and keeps its top nProbe. No row multiplication, no window, no
    // shuffle until the cell-keyed join itself — the round-1 form
    // shuffled nLists×N rows through two window sorts.
    // PERSIST the ranked projection (CacheRegistry lifecycle): it is
    // read twice — once as the cell assignment, once exploded into the
    // probe list — and without the cache each read re-scans the vector
    // table and re-scores all nLists centroids per row.
    val ranked = CacheRegistry.persist(nearestCells(v, centroids, nProbe))
    val assigned = ranked.select(col("vid"), col("vec"),
      element_at(col("__cells"), 1).as("cell"))
    // each query probes its nProbe nearest cells
    val probes = ranked.select(col("vid").as("query_id"), col("vec").as("__q"),
      explode(col("__cells")).as("cell"))
    val scored = probes.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("vid"))
      .withColumn("cosine_ppm", round(cosine(col("__q"), col("vec")) * 1e6).cast("long"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine_ppm").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select(col("query_id"), col("vid").as("neighbor_id"), col("rank"), col("cosine_ppm"))
  }

  /** IVF index as a STORABLE artifact — the ANN twin of the stored
    * LSH signatures ([[graft.operators.Dedup.bandedSignatures]]):
    * write `centroids` (cid, cvec) and `assignments` (vid, cell) once
    * per corpus snapshot, then every query batch probes the store with
    * [[ivfTopKStored]] without re-scoring the corpus against
    * centroids. Same centroid choice as [[ivfTopK]] (md5-seeded
    * TakeOrdered; `trainIters` > 0 refines with relational Lloyd).
    */
  def ivfIndex(vectors: DataFrame, idCol: String, vecCol: String,
               nLists: Int = 16, trainIters: Int = 0): (DataFrame, DataFrame) = {
    val v = vectors.select(col(idCol).as("vid"), col(vecCol).as("vec"))
    val centroids =
      if (trainIters > 0) kmeansCentroids(vectors, idCol, vecCol, nLists, trainIters)
      else v.orderBy(md5(col("vid").cast("string")), col("vid"))
        .limit(nLists)
        .select(col("vid").as("cid"), col("vec").as("cvec"))
    val assignments = nearestCells(v, centroids, 1)
      .select(col("vid"), element_at(col("__cells"), 1).as("cell"))
    (centroids, assignments)
  }

  /** [[ivfTopK]] against a PRE-BUILT [[ivfIndex]] store: each query
    * ranks the (broadcast, nLists-row) stored centroids, probes its
    * `nProbe` nearest cells through the stored assignments, and
    * exact-cosine re-ranks only the surfaced corpus vectors — the
    * corpus is touched solely by the final id-keyed vector join, the
    * don't-recompute-yesterday pattern for ANN serving. A spec pins
    * pair-for-pair parity with the recompute path through a real
    * write+read of the store.
    */
  def ivfTopKStored(queries: DataFrame, qIdCol: String, qVecCol: String,
                    corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, assignments: DataFrame,
                    k: Int, nProbe: Int = 4): DataFrame = {
    require(k >= 1 && nProbe >= 1, s"k/nProbe must be positive, got $k/$nProbe")
    val q = queries.select(col(qIdCol).as("vid"), col(qVecCol).as("vec"))
    val probes = nearestCells(q, centroids, nProbe)
      .select(col("vid").as("query_id"), col("vec").as("__q"),
        explode(col("__cells")).as("cell"))
    val corpusV = corpus.select(col(idCol).as("vid"), col(vecCol).as("vec"))
    val scored = probes.join(assignments, Seq("cell"))
      .filter(col("query_id") =!= col("vid"))
      .join(corpusV, Seq("vid"))
      .withColumn("cosine_ppm", round(cosine(col("__q"), col("vec")) * 1e6).cast("long"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine_ppm").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select(col("query_id"), col("vid").as("neighbor_id"), col("rank"), col("cosine_ppm"))
  }

  /** Elementwise mean embedding per group (the group's centroid):
    * dims exploded once, one partial-aggregating hash agg over
    * (group, dim), centroid rebuilt in dim order. Output is
    * (grp, cvec: array<double>) — groups × dim rows shuffle, nothing
    * else; the result is tiny and broadcastable.
    */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol).as("grp"), posexplode(col(vecCol)))
      .groupBy("grp", "pos").agg(avg(col("col")).as("m"))
      .groupBy("grp")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("__pm"))
      .select(col("grp"), transform(col("__pm"), x => x.getField("m")).as("cvec"))

  /** MUTUAL (reciprocal) NEAREST NEIGHBORS: pairs of vectors that are
    * each other's top-1 neighbor — the high-precision linking signal
    * of embedding entity resolution (one-directional nearest is
    * noisy near cluster boundaries; reciprocity filters asymmetric
    * attractions). Returns (id_a, id_b, cosine_ppm) with id_a < id_b.
    *
    * This form ranks via [[bruteForceTopK]] (exact, quadratic — the
    * declared baseline for corpora small enough to cross-join); the
    * SCALE form is [[mutualNearestNeighborsLsh]], which generates the
    * same top-1s through the banded-LSH candidate path and reuses the
    * identical mutual join.
    */
  def mutualNearestNeighbors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    mutualJoin(bruteForceTopK(df, idCol, vecCol, df, idCol, vecCol, k = 1))

  /** MUTUAL NEAREST NEIGHBORS at corpus scale: each side's top-1 comes
    * from [[lshTopK]] (banded candidates, over-cap buckets dropped,
    * exact cosine re-rank — never all-pairs), then the same reciprocity
    * join as [[mutualNearestNeighbors]]. Recall < 1 by design on BOTH
    * legs (a vector whose true nearest neighbor never shares a
    * surviving bucket reports a different — or no — top-1); `bands` is
    * the recall knob. A pair only emerges when each member is the
    * other's top-1 AMONG CANDIDATES, so precision stays the operator's
    * point.
    *
    * Measured (PERF.md r8, sf0.1 fixture — a LOOSE-similarity corpus,
    * max pairwise cosine ~0.51): pair recall vs exact MNN is 0.065 at
    * the 2×8 defaults and 0.80 at 8×4 — on loose corpora pick
    * rowsPerBand ~4 (per-band collision stays useful at θ ≈ 60°) and
    * spend the plane budget on bands; the 8-row default suits tight
    * near-dup regimes where per-plane collision is ≳ 0.9.
    *
    * Shape: everything up to the top-1s is lshTopK's bounded-join
    * pipeline; the mutual step adds one self-join of the top-1
    * projection on the reversed pair — id-keyed, corpus-sized rows,
    * AQE-broadcastable.
    */
  def mutualNearestNeighborsLsh(df: DataFrame, idCol: String, vecCol: String,
                                bands: Int = 2, rowsPerBand: Int = 8,
                                maxBucket: Int = 4096): DataFrame =
    mutualJoin(lshTopK(df, idCol, vecCol, k = 1, bands, rowsPerBand, maxBucket))

  /** The reciprocity join shared by both MNN forms: keep (a, b) iff
    * a's top-1 is b and b's top-1 is a, normalized to id_a < id_b.
    */
  private def mutualJoin(top1: DataFrame): DataFrame = {
    val fwd = top1.select(col("query_id").as("id_a"),
      col("neighbor_id").as("id_b"), col("cosine_ppm"))
    val rev = top1.select(col("query_id").as("__qb"), col("neighbor_id").as("__nb"))
    fwd.join(rev, col("id_b") === col("__qb") && col("__nb") === col("id_a"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "cosine_ppm")
  }

  /** EMBEDDING-SPACE DRIFT between two snapshots: per group, the
    * cosine between snapshot A's and snapshot B's mean embedding —
    * the semantic complement to [[graft.operators.Profiling.distributionDrift]]
    * (categorical mixes can hold steady while the CONTENT of a source
    * moves under them; the centroid cosine catches that). 10^6 ppm =
    * no drift; flag groups below a threshold. Groups present in only
    * one snapshot produce no row (no pair to compare — their drift is
    * categorical, q152's job).
    *
    * Shape: one (group, dim) aggregate per side ([[groupCentroids]]),
    * then a group-keyed join of two group-sized frames — nothing
    * vector-sized ever shuffles twice. ppm rounding absorbs partial-
    * aggregation float ordering (the q52 contract: double noise
    * ~1e-14 vs 1e-6 resolution).
    */
  def centroidDrift(a: DataFrame, b: DataFrame,
                    groupCol: String, vecCol: String): DataFrame = {
    val ca = groupCentroids(a, groupCol, vecCol).withColumnRenamed("cvec", "__ca")
    val cb = groupCentroids(b, groupCol, vecCol).withColumnRenamed("cvec", "__cb")
    ca.join(cb, Seq("grp"))
      .select(col("grp"),
        round(dot(col("__ca"), col("__cb"))
          / (norm(col("__ca")) * norm(col("__cb"))) * 1e6).cast("long")
          .as("centroid_cos_ppm"))
  }

  /** Cosine of each vector to its group's centroid — the
    * prototypicality score cluster-based curation uses (SemDeDup-style
    * pruning keeps prototypical members, drops far outliers; diversity
    * sampling does the opposite). Returns (idCol, grp,
    * centroid_cos_ppm). Scale shape: the centroid table broadcasts, so
    * beyond [[groupCentroids]]' (group, dim) aggregate nothing
    * shuffles.
    */
  def centroidCosine(df: DataFrame, idCol: String, groupCol: String,
                     vecCol: String): DataFrame = {
    val cents = groupCentroids(df, groupCol, vecCol)
    df.select(col(idCol), col(groupCol).as("grp"), col(vecCol).as("__v"))
      .join(broadcast(cents), Seq("grp"))
      .select(col(idCol), col("grp"),
        round(dot(col("__v"), col("cvec"))
          / (norm(col("__v")) * norm(col("cvec"))) * 1e6).cast("long")
          .as("centroid_cos_ppm"))
  }

  /** Per-vector symmetric int8 quantization scale: max |component|
    * (in double), so round(127·x/scale) spans the full int8 range.
    */
  def int8Scale(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double"))))

  /** Quantize a float vector to int8 against `scale` (usually
    * [[int8Scale]]): floor(127·x/scale + ½) — explicit floor-plus-half
    * rounding because it is exactly reproducible on any engine,
    * unlike half-even/half-away library `round`s. 4× smaller ANN
    * candidate storage; dequantize as q·scale/127 (error ≤ scale/254
    * per component). An all-zero vector (scale 0) quantizes to zeros —
    * without the guard the division yields NaN, and under ANSI mode
    * the NaN→int cast is a runtime error, not a null.
    */
  def int8Quantize(vec: Column, scale: Column): Column =
    transform(vec, x =>
      when(scale === 0, lit(0))
        .otherwise(floor(x.cast("double") * 127 / scale + lit(0.5)).cast("int")))

  /** Embedding-cosine near-duplicate pairs above a threshold: banded
    * LSH candidates (any band match, deduped), exact cosine verify once
    * per pair, id_a < id_b. Same banding/cap story as [[lshTopK]];
    * defaults keep the former single 6-plane table's granularity per
    * band.
    */
  def cosineNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
                         minCosinePpm: Long, bands: Int = 2, rowsPerBand: Int = 6,
                         maxBucket: Int = 4096): DataFrame = {
    val v = vectors.select(col(idCol).as("vid"), col(vecCol).as("vec"))
    val cand = lshCandidates(vectors, idCol, vecCol, bands, rowsPerBand, maxBucket)
      .filter(col("id_a") < col("id_b"))
    cand
      .join(v.select(col("vid").as("id_a"), col("vec").as("__a")), Seq("id_a"))
      .join(v.select(col("vid").as("id_b"), col("vec").as("__b")), Seq("id_b"))
      .withColumn("cosine_ppm", round(cosine(col("__a"), col("__b")) * 1e6).cast("long"))
      .filter(col("cosine_ppm") >= minCosinePpm)
      .select("id_a", "id_b", "cosine_ppm")
  }

  /** CROSS-CORPUS embedding near-dup pairs — the two-table form of
    * [[cosineNearDupPairs]]: (a_id, b_id, cosine_ppm) for every
    * A-side/B-side pair above the threshold, found through ONE banded
    * LSH index over the union (sides tagged by an id-parity encoding,
    * candidates taken across sides only). The hot-bucket census runs
    * over the union, so a bucket crowded by EITHER side is capped —
    * exactly the bound that matters when a small benchmark meets a
    * 100 TB corpus. Ids on both sides must be non-negative and fit in
    * 62 bits (the ×2 side encoding). A vector present on both sides
    * pairs with itself at 10⁶ ppm — for decontamination that is the
    * point, not a bug.
    */
  def crossCosineNearDupPairs(a: DataFrame, aId: String, aVec: String,
                              b: DataFrame, bId: String, bVec: String,
                              minCosinePpm: Long, bands: Int = 2,
                              rowsPerBand: Int = 6,
                              maxBucket: Int = 4096): DataFrame = {
    val u = a.select((col(aId).cast("long") * 2).as("__uid"), col(aVec).as("__uvec"))
      .unionByName(
        b.select((col(bId).cast("long") * 2 + 1).as("__uid"), col(bVec).as("__uvec")))
    val banded = bandedBuckets(u, "__uid", "__uvec", bands, rowsPerBand, maxBucket)
    val av = banded.filter(pmod(col("vid"), lit(2)) === 0)
      .select(col("band"), col("bucket"), expr("vid div 2").as("a_id"))
    val bv = banded.filter(pmod(col("vid"), lit(2)) === 1)
      .select(col("band"), col("bucket"), expr("(vid - 1) div 2").as("b_id"))
    val cand = av.join(bv, Seq("band", "bucket"))
      .select("a_id", "b_id").distinct()
    cand
      .join(a.select(col(aId).cast("long").as("a_id"), col(aVec).as("__a")), Seq("a_id"))
      .join(b.select(col(bId).cast("long").as("b_id"), col(bVec).as("__b")), Seq("b_id"))
      .withColumn("cosine_ppm", round(cosine(col("__a"), col("__b")) * 1e6).cast("long"))
      .filter(col("cosine_ppm") >= minCosinePpm)
      .select("a_id", "b_id", "cosine_ppm")
  }

  /** SEMANTIC DECONTAMINATION: flag corpus vectors whose embedding is
    * near-duplicate of any benchmark vector — the embedding-space
    * complement of the n-gram decontamination in
    * [[graft.operators.Dedup.decontaminate]] (paraphrased or
    * re-templated benchmark leakage survives n-gram checks; it does
    * not survive a cosine check against the benchmark's embeddings).
    * One row per corpus vector: (idCol, n_bench_hits,
    * is_contaminated). The corpus spine drives — vectors with no
    * candidate anywhere still report 0/false.
    *
    * Scale shape: [[crossCosineNearDupPairs]]' bounded union index +
    * one corpus-keyed aggregate; the benchmark side is never
    * broadcast wholesale and never cross-joined.
    */
  def semanticDecontaminate(corpus: DataFrame, idCol: String, vecCol: String,
                            bench: DataFrame, benchIdCol: String,
                            benchVecCol: String, minCosinePpm: Long,
                            bands: Int = 2, rowsPerBand: Int = 6,
                            maxBucket: Int = 4096): DataFrame = {
    val hits = crossCosineNearDupPairs(corpus, idCol, vecCol,
        bench, benchIdCol, benchVecCol, minCosinePpm, bands, rowsPerBand, maxBucket)
      .groupBy(col("a_id").as(idCol))
      .agg(count(lit(1)).as("n_bench_hits"))
    corpus.select(col(idCol).cast("long").as(idCol))
      .join(hits, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_bench_hits"), lit(0L)).as("n_bench_hits"),
        (coalesce(col("n_bench_hits"), lit(0L)) > 0).as("is_contaminated"))
  }

  /** SemDeDup-style semantic deduplication: partition the corpus into
    * IVF cells by nearest centroid, compare vectors ONLY within a
    * cell, and for every within-cell pair above `minCosinePpm` drop
    * the higher id (the lower id is the cluster's surviving
    * representative — the deterministic stand-in for the paper's
    * keep-one-per-ε-ball rule). Returns one row per input vector:
    * (vid, cell, is_kept).
    *
    * Scale shape: centroid assignment is the same broadcast array
    * expression as [[ivfTopK]] (no shuffle), the quadratic compare is
    * confined to cell-keyed equi-join partitions, and `maxCell` caps
    * the join fan-out the way lshCandidates' maxBucket does — a cell
    * over the cap contributes no pairs (its members all survive)
    * rather than an O(cap²) straggler; size nLists ~ √N so expected
    * cell populations stay bounded. The assignment projection is read
    * twice (pair build + output spine), so it persists under the
    * [[CacheRegistry]] lifecycle.
    */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
                    minCosinePpm: Long, nLists: Int = 16,
                    maxCell: Int = 1 << 20): DataFrame = {
    val v = vectors.select(col(idCol).as("vid"), col(vecCol).as("vec"))
    val centroids = v.orderBy(md5(col("vid").cast("string")), col("vid"))
      .limit(nLists)
      .select(col("vid").as("cid"), col("vec").as("cvec"))
    val assigned = CacheRegistry.persist(
      nearestCells(v, centroids, 1)
        .select(col("vid"), col("vec"), element_at(col("__cells"), 1).as("cell")))
    val wCell = Window.partitionBy("cell")
    val capped = assigned.withColumn("__n", count(lit(1)).over(wCell))
      .filter(col("__n") <= maxCell)
    val dup = capped.select(col("cell"), col("vid").as("id_a"), col("vec").as("__a"))
      .join(capped.select(col("cell"), col("vid").as("id_b"), col("vec").as("__b")),
        Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(cosine(col("__a"), col("__b")) * 1e6).cast("long") >= minCosinePpm)
      .select(col("id_b").as("vid")).distinct()
    assigned.select(col("vid"), col("cell"))
      .join(dup.withColumn("__dup", lit(true)), Seq("vid"), "left_outer")
      .select(col("vid"), col("cell"), col("__dup").isNull.as("is_kept"))
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * anchor, the top-k most-cosine-similar vectors whose label DIFFERS
    * from the anchor's — the negatives that sit just outside the class
    * boundary, the ones that actually move a contrastive loss (easy
    * negatives contribute ~zero gradient; in-batch negatives miss the
    * hard tail). Returns (query_id, query_label, neighbor_id,
    * neighbor_label, rank, cosine_ppm).
    *
    * Exact contract: the anchor set BROADCASTS and the corpus streams
    * through one nested-loop pass — the right plan when anchors are a
    * bounded working set (a training batch / shard), which is the
    * operator's intended use. Per-anchor top-k runs as a window over
    * the label-mismatched scores; the corpus-per-anchor row count is
    * inherent to an exact scan — [[hardNegativesLsh]] is the
    * corpus×corpus scale path.
    */
  def hardNegatives(vectors: DataFrame, idCol: String, vecCol: String, labelCol: String,
                    queries: DataFrame, qIdCol: String, qVecCol: String, qLabelCol: String,
                    k: Int): DataFrame = {
    val anchors = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__q"),
      col(qLabelCol).as("query_label"))
    val scored = vectors
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__v"),
        col(labelCol).as("neighbor_label"))
      .crossJoin(broadcast(anchors))
      .filter(col("query_label") =!= col("neighbor_label"))
      .withColumn("cosine_ppm", round(cosine(col("__q"), col("__v")) * 1e6).cast("long"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine_ppm").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select("query_id", "query_label", "neighbor_id", "neighbor_label", "rank",
        "cosine_ppm")
  }

  /** LSH scale path for [[hardNegatives]]: banded random-hyperplane
    * candidates (any band match) filtered to CROSS-label pairs before
    * the exact cosine re-rank — label-equal candidates (the bulk of
    * every bucket, since same-class vectors cluster) never reach the
    * vector join. Both directions of each candidate pair are ranked (a
    * is a hard negative FOR b and vice versa). Recall < 1 by design;
    * same banding/cap trade as [[lshTopK]] — but the defaults differ:
    * the wanted pairs sit at LOWER cosine than a same-label nearest
    * neighbor (the hardest negative is a near-miss, not a near-dup),
    * so per-pair band-collision probability is lower and recall needs
    * MORE, NARROWER bands (8×4 here vs lshTopK's 2×8; measured on the
    * test corpus: 0.71 cross-label top-1 recall at 8×4 vs 0.03 at 2×8).
    */
  def hardNegativesLsh(vectors: DataFrame, idCol: String, vecCol: String, labelCol: String,
                       k: Int, bands: Int = 8, rowsPerBand: Int = 4,
                       maxBucket: Int = 4096): DataFrame = {
    val v = vectors.select(col(idCol).as("vid"), col(vecCol).as("vec"),
      col(labelCol).as("lbl"))
    val scored = lshCandidates(vectors, idCol, vecCol, bands, rowsPerBand, maxBucket)
      .select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"))
      .join(v.select(col("vid").as("query_id"), col("vec").as("__q"),
        col("lbl").as("query_label")), Seq("query_id"))
      .join(v.select(col("vid").as("neighbor_id"), col("vec").as("__v"),
        col("lbl").as("neighbor_label")), Seq("neighbor_id"))
      .filter(col("query_label") =!= col("neighbor_label"))
      .withColumn("cosine_ppm", round(cosine(col("__q"), col("__v")) * 1e6).cast("long"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine_ppm").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select("query_id", "query_label", "neighbor_id", "neighbor_label", "rank",
        "cosine_ppm")
  }

  /** Contrastive TRIPLET mining: per anchor, the best same-label
    * neighbor (the positive) AND the best cross-label neighbor (the
    * hard negative) in ONE corpus pass — the (anchor, positive,
    * negative) rows a triplet/InfoNCE loss consumes directly. Anchors
    * broadcast and the corpus streams once; a single window over
    * (query_id, same-label?) ranks both branches without a second
    * scan, then one pivot agg pairs them. Anchors lacking either side
    * (no other same-label vector, or no cross-label vector) produce no
    * row — a triplet needs both. Returns (query_id, query_label,
    * pos_id, pos_ppm, neg_id, neg_ppm).
    */
  def contrastiveTriplets(vectors: DataFrame, idCol: String, vecCol: String,
                          labelCol: String,
                          queries: DataFrame, qIdCol: String, qVecCol: String,
                          qLabelCol: String): DataFrame = {
    val anchors = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__q"),
      col(qLabelCol).as("query_label"))
    val scored = vectors
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__v"),
        col(labelCol).as("neighbor_label"))
      .crossJoin(broadcast(anchors))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__same", col("query_label") === col("neighbor_label"))
      .withColumn("cosine_ppm", round(cosine(col("__q"), col("__v")) * 1e6).cast("long"))
    val w = Window.partitionBy("query_id", "__same")
      .orderBy(col("cosine_ppm").desc, col("neighbor_id"))
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .groupBy(col("query_id"), col("query_label"))
      .agg(
        max(when(col("__same"), col("neighbor_id"))).as("pos_id"),
        max(when(col("__same"), col("cosine_ppm"))).as("pos_ppm"),
        max(when(!col("__same"), col("neighbor_id"))).as("neg_id"),
        max(when(!col("__same"), col("cosine_ppm"))).as("neg_ppm"))
      .filter(col("pos_id").isNotNull && col("neg_id").isNotNull)
  }

  /** Product-quantization codebooks [Jégou et al., PAMI 2011]: the
    * embedding splits into `subspaces` contiguous sub-vectors of
    * dim/subspaces components; each subspace gets its own
    * `codebookSize`-codeword table. One md5-ordered deterministic
    * sample of `codebookSize` vectors seeds EVERY subspace (the
    * [[ivfTopK]]/[[semanticDedup]] seeding — engine-replicable, so the
    * whole encode/search pipeline is oracle-gateable); `iters` Lloyd
    * rounds refine each subspace independently when recall matters
    * more than replicability (per round: one broadcast assignment pass
    * over the exploded (vid, sub, svec) projection, one
    * (sub, cell, dim) mean — everything partial-aggregates map-side).
    * Returns (sub, cid, cvec); cells that lose all members drop out.
    */
  def pqCodebooks(vectors: DataFrame, idCol: String, vecCol: String,
                  subspaces: Int, codebookSize: Int, dim: Int,
                  iters: Int = 0): DataFrame = {
    require(subspaces >= 1 && dim % subspaces == 0,
      s"dim $dim must divide into subspaces $subspaces")
    val subDim = dim / subspaces
    val v = vectors.select(col(idCol).as("vid"), col(vecCol).as("vec"))
    val seeds = v.orderBy(md5(col("vid").cast("string")), col("vid")).limit(codebookSize)
    // every subspace slices the SAME sampled rows — one sample, s tables
    var books = seeds.select(
        col("vid").as("cid"),
        posexplode(array((0 until subspaces).map(s =>
          slice(col("vec"), s * subDim + 1, subDim)): _*)))
      .select(col("pos").as("sub"), col("cid"), col("col").as("cvec"))
    if (iters > 0) {
      val rows = v.select(col("vid"),
          posexplode(array((0 until subspaces).map(s =>
            slice(col("vec"), s * subDim + 1, subDim)): _*)))
        .select(col("vid"), col("pos").as("sub"), col("col").as("svec"))
      (0 until iters).foreach { _ =>
        val assigned = nearestCodes(rows, books)
        val dimMeans = assigned.join(rows, Seq("vid", "sub"))
          .select(col("sub"), col("cid"), posexplode(col("svec")))
          .groupBy(col("sub"), col("cid"), col("pos")).agg(avg(col("col")).as("m"))
        books = dimMeans.groupBy(col("sub"), col("cid"))
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("__pm"))
          .select(col("sub"), col("cid"),
            transform(col("__pm"), x => x.getField("m").cast("float")).as("cvec"))
      }
    }
    books
  }

  /** Per (vid, sub) nearest codeword by squared L2 (ppm-rounded so the
    * argmin is reproducible across engines; ties → lowest cid). The
    * codebook is tiny (subspaces × codebookSize rows) and broadcasts;
    * the argmin is ONE map-side-combinable min_by — no window.
    */
  private def nearestCodes(rows: DataFrame, books: DataFrame): DataFrame = {
    val sqDistPpm = round(
      aggregate(zip_with(col("svec"), col("cvec"), (a, b) =>
          (a.cast("double") - b.cast("double")) * (a.cast("double") - b.cast("double"))),
        lit(0.0), (acc, x) => acc + x) * 1e6).cast("long")
    rows.join(broadcast(books), Seq("sub"))
      .select(col("vid"), col("sub"), col("cid"), sqDistPpm.as("__d"))
      .groupBy(col("vid"), col("sub"))
      .agg(min_by(col("cid"), struct(col("__d"), col("cid"))).as("cid"))
  }

  /** PQ encode: each vector compresses to `subspaces` codeword ids —
    * (vid, codes: array<cid> in subspace order). With 8-bit codebooks a
    * 64-dim float vector (256 B) becomes `subspaces` bytes — the
    * compression that lets a 100 TB embedding corpus live in cluster
    * memory for ANN. One broadcast join + one min_by + one
    * collect-and-sort per row; no shuffle wider than (vid, sub).
    */
  def pqEncode(vectors: DataFrame, idCol: String, vecCol: String,
               books: DataFrame, subspaces: Int, dim: Int): DataFrame = {
    require(subspaces >= 1 && dim % subspaces == 0,
      s"dim $dim must divide into subspaces $subspaces")
    val subDim = dim / subspaces
    val rows = vectors.select(col(idCol).as("vid"),
        posexplode(array((0 until subspaces).map(s =>
          slice(col(vecCol), s * subDim + 1, subDim)): _*)))
      .select(col("vid"), col("pos").as("sub"), col("col").as("svec"))
    nearestCodes(rows, books)
      .groupBy("vid")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cid")))),
        x => x.getField("cid")).as("codes"))
  }

  /** PQ ANN search (asymmetric distance computation): anchors keep
    * their raw vectors; every corpus vector is represented by its
    * codeword RECONSTRUCTION (the concatenation of its per-subspace
    * codewords), and score = cosine(query, reconstruction) — with a
    * dot-product metric this IS the classic ADC table-lookup sum,
    * expressed relationally: the per-subspace lookup table is the
    * broadcast codebook join, the sum is the reconstruction dot. The
    * anchor set broadcasts and the (compressed) corpus streams — at
    * 100 TB the scan reads codes, not vectors. Returns
    * (query_id, neighbor_id, rank, cosine_ppm) over the quantized
    * corpus; exact-within-quantization, recall vs. exact search set by
    * subspaces × codebookSize.
    */
  def pqTopK(vectors: DataFrame, idCol: String, vecCol: String,
             queries: DataFrame, qIdCol: String, qVecCol: String,
             k: Int, subspaces: Int, codebookSize: Int, dim: Int,
             iters: Int = 0): DataFrame = {
    val books = pqCodebooks(vectors, idCol, vecCol, subspaces, codebookSize, dim, iters)
    val codes = pqEncode(vectors, idCol, vecCol, books, subspaces, dim)
    // rebuild each corpus vector from its codewords: explode codes with
    // their subspace position, join the broadcast codebook, flatten in
    // subspace order
    val recon = codes.select(col("vid"), posexplode(col("codes")))
      .select(col("vid"), col("pos").as("sub"), col("col").as("cid"))
      .join(broadcast(books), Seq("sub", "cid"))
      .groupBy("vid")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub"), col("cvec")))),
        x => x.getField("cvec"))).as("rvec"))
    val anchors = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__q"))
    val scored = recon.crossJoin(broadcast(anchors))
      .filter(col("query_id") =!= col("vid"))
      .withColumn("cosine_ppm", round(cosine(col("__q"), col("rvec")) * 1e6).cast("long"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine_ppm").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select(col("query_id"), col("vid").as("neighbor_id"), col("rank"), col("cosine_ppm"))
  }
}
