package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus curation.
  *
  * All variants are shuffle-bounded: exact/normalized dedup is a single
  * hash aggregation; MinHash-LSH turns the quadratic all-pairs problem
  * into an equi-join on (band, bucket) keys so only probable duplicates
  * meet; SimHash buckets by fingerprint prefix. At 100 TB the band join
  * is the scale path — candidate pairs per bucket stay small as long as
  * band width balances recall vs. bucket size.
  */
object Dedup {

  /** Exact dedup by content hash: one row per distinct `col` value with
    * the minimum id as the keeper and the duplicate count.
    */
  def exact(df: DataFrame, idCol: String, col: Column): DataFrame =
    df.groupBy(md5(col).as("content_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Normalized dedup: lowercase + whitespace-collapse before hashing —
    * catches trivial reformattings.
    */
  def normalized(df: DataFrame, idCol: String, text: Column): DataFrame =
    exact(df, idCol, trim(regexp_replace(lower(text), "\\s+", " ")))

  /** C4/RefinedWeb-style boilerplate segment removal: drop every
    * line (text split on the literal `sep`) whose exact content
    * occurs at least `minOccurrences` times across the WHOLE corpus —
    * nav bars, cookie banners, licence headers — then reassemble each
    * document's surviving lines in original order. Returns
    * (doc_id, clean_text, n_kept); a document whose every line is
    * boilerplate survives with empty text (drop it with a quality
    * floor downstream, not here — the caller decides).
    *
    * Scale shape: lines explode map-side and are hashed to 64 bits
    * (`xxhash64`) immediately — the census is ONE map-side-combinable
    * count per distinct line HASH (8-byte keys, not line text), and
    * the over-threshold set anti-joins back on the same hash. The
    * hot-line set is data-dependent: at a high threshold it is a few
    * nav-bars, but at the default `minOccurrences = 2` on a web-scale
    * corpus it is every twice-occurring line — billions of rows — so
    * the anti-join is a SHUFFLE join by default and AQE converts it
    * to broadcast at runtime only when the set's measured size
    * actually fits; the per-doc ordered reassembly on doc_id shuffles
    * either way. The 64-bit hash admits a ~2^-64 per-pair collision
    * (an innocent line counted with a hot one) — the standard
    * production trade.
    *
    * The exploded (doc_id, pos, line, hash) projection is cached
    * through [[CacheRegistry.persist]]: it feeds the census AND the
    * anti-join side, and without the cache the corpus text is re-read
    * and re-split twice.
    */
  def lineDedup(df: DataFrame, idCol: String, text: Column,
                minOccurrences: Long = 2, sep: String = "\n"): DataFrame = {
    require(minOccurrences >= 2, s"minOccurrences must be >= 2, got $minOccurrences")
    val lines = CacheRegistry.persist(df
      .select(col(idCol).as("doc_id"),
        posexplode(split(text, java.util.regex.Pattern.quote(sep))))
      .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "__line")
      .withColumn("__lh", xxhash64(col("__line"))))
    val hot = lines.groupBy("__lh").count()
      .filter(col("count") >= minOccurrences).select("__lh")
    val kept = lines.join(hot, Seq("__lh"), "left_anti")
    val perDoc = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws(sep, transform(
        array_sort(collect_list(struct(col("__pos"), col("__line")))),
        x => x("__line"))).as("clean_text"))
    df.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** C4-style INTRA-document repetition removal: within each document,
    * keep only the FIRST occurrence of every line (text split on the
    * literal `sep`) and reassemble survivors in original order —
    * repeated boilerplate inside one page (nav repeated top+bottom,
    * duplicated paragraphs from scraper glitches) collapses to its
    * first appearance. Complements [[lineDedup]] (corpus-wide census):
    * this one needs no cross-document state at all.
    *
    * Scale shape: explode map-side, first-occurrence = min(pos) per
    * (doc_id, line) in ONE map-side-combinable aggregate, then the
    * per-doc ordered reassembly — two shuffles, both keyed by (or
    * prefixed by) doc_id, no skew beyond single-document size, no
    * driver state. Returns (doc_id, clean_text, n_kept); every doc
    * with non-null text survives (its first line is always kept) —
    * NULL text explodes to no rows, so such docs produce no output
    * row (the SQL-engine behavior too).
    */
  def intraDocLineDedup(df: DataFrame, idCol: String, text: Column,
                        sep: String = "\n"): DataFrame = {
    val lines = df
      .select(col(idCol).as("doc_id"),
        posexplode(split(text, java.util.regex.Pattern.quote(sep))))
      .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "__line")
    lines.groupBy(col("doc_id"), col("__line"))
      .agg(min(col("__pos")).as("__pos"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          x => x("__line"))).as("clean_text"))
      .select(col("doc_id"), col("clean_text"), col("n_kept"))
  }

  /** Word n-gram shingles (distinct), the unit set for Jaccard.
    * Custom Catalyst expression — the composed built-in form
    * (split → transform/slice → array_distinct) runs as interpreted
    * higher-order functions, ~1000× slower per row (see
    * plans.WordShingles).
    */
  def shingles(text: Column, n: Int = 3): Column =
    graft.plans.WordShingles.word_shingles(text, n)

  /** MinHash+LSH candidate pairs: signatures split into `bands` bands
    * of `rows` hashes; docs sharing any band bucket become candidates,
    * then exact n-gram Jaccard verifies. Returns
    * (id_a, id_b, jaccard_ppm) with id_a < id_b.
    *
    * Shape matters at scale: the signature is computed relationally —
    * shingles exploded once, min-reduced by a codegen'd hash aggregate
    * — NOT as a nested higher-order-function column (interpreted, and
    * projection collapse re-inlines it per band: measured 200× slower
    * at sf0.1). The seed family is Carter-Wegman double hashing
    * (Broder): two independent 64-bit hashes per shingle, seed s's
    * value is `h1 + s·h2` (wrapping, [[graft.plans.SeededMix]]) — one
    * multiply-add per seed instead of one full hash evaluation per
    * seed, and all numHashes min-reductions run as ONE hash agg
    * (partials combine map-side). Candidate pairs are deduplicated
    * before the shingle arrays are joined back, so verification cost
    * is per unique pair, not per bucket collision.
    *
    * The plan references the shingled corpus three times (min-hash
    * aggregate + both sides of the verify join), so the shingled
    * projection is cached ([[CacheRegistry.persist]]) and the shingle
    * expression runs one corpus scan, not three — at 100 TB that
    * difference dominates the operator. Call
    * `CacheRegistry.releaseAll()` once the consuming action completes
    * (Bench/Verify do this per query; round 5 measured unreleased
    * shingle blocks taxing unrelated queries 1.6-3.8×).
    */
  def minhashLshPairs(df: DataFrame, idCol: String, text: Column,
                      bands: Int = 16, rows: Int = 4, n: Int = 3,
                      minJaccardPpm: Long = 500000L,
                      maxBucket: Int = 4096): DataFrame = {
    val docs = shingled(df, idCol, text, n)
    bandJoinVerify(docs, xxBanded(docs, bands, rows), bands, minJaccardPpm, maxBucket)
  }

  /** (doc_id, bk0..bk{bands-1}) band buckets from Carter-Wegman seeded
    * xxhash64 min-hashes — the fast-path signature builder. Each
    * shingle is hashed ONCE (h1), the second hash derives from it
    * (h2 = xxhash64 of the long h1); every seeded hash is then pure
    * register arithmetic inside one codegen'd aggregate.
    */
  private def xxBanded(docs: DataFrame, bands: Int, rows: Int): DataFrame = {
    val numHashes = bands * rows
    val shingleRows = docs.select(col("doc_id"), explode(col("sh")).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h1"))
      .withColumn("h2", xxhash64(col("h1")))
    val minAggs = (0 until numHashes).map(s =>
      min(graft.plans.SeededMix.seeded_mix(col("h1"), col("h2"), s)).as(s"m$s"))
    val minh = shingleRows.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
    // band bucket = hash of the band's min-hash columns
    val bucketCols = (0 until bands).map { bnd =>
      xxhash64((bnd * rows until (bnd + 1) * rows).map(i => col(s"m$i")): _*).as(s"bk$bnd")
    }
    minh.select(col("doc_id") +: bucketCols: _*)
  }

  /** md5 twin of [[xxBanded]]: seeded family = first 16 hex chars of
    * md5(shingle + "#seed") — lexicographic min on fixed-width hex IS
    * unsigned numeric min, so every engine with md5 replicates it.
    */
  private def md5Banded(docs: DataFrame, bands: Int, rows: Int): DataFrame = {
    val numHashes = bands * rows
    val shingleRows = docs.select(col("doc_id"), explode(col("sh")).as("g"))
    val minAggs = (0 until numHashes).map(s =>
      min(substring(md5(concat(col("g"), lit(s"#$s"))), 1, 16)).as(s"m$s"))
    val minh = shingleRows.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
    val bucketCols = (0 until bands).map { bnd =>
      md5(concat_ws("|", (bnd * rows until (bnd + 1) * rows).map(i => col(s"m$i")): _*))
        .as(s"bk$bnd")
    }
    minh.select(col("doc_id") +: bucketCols: _*)
  }

  /** Oracle-verifiable MinHash+LSH twin: the same banding + bucket-join
    * + exact-Jaccard-verify pipeline as [[minhashLshPairs]], but the
    * hash family is the first 16 hex chars of md5 — lexicographic order
    * on fixed-width lowercase hex IS unsigned numeric order, so the min
    * reduction, band buckets (md5 of the concatenated mins) and verify
    * all replicate on any engine with md5. xxhash64 stays the fast
    * path; this twin is how the correctness gate proves the algorithm.
    */
  def minhashLshPairsMd5(df: DataFrame, idCol: String, text: Column,
                         bands: Int = 8, rows: Int = 2, n: Int = 3,
                         minJaccardPpm: Long = 0L,
                         maxBucket: Int = 4096): DataFrame = {
    val docs = shingled(df, idCol, text, n)
    bandJoinVerify(docs, md5Banded(docs, bands, rows), bands, minJaccardPpm, maxBucket)
  }

  /** INCREMENTAL exact dedup — the daily-snapshot pattern: keep only
    * the `incoming` docs whose content hash does not already exist in
    * `existing` (yesterday's curated corpus). Never re-curates the
    * existing corpus; both sides reduce to 32-hex content hashes
    * before any shuffle, so the anti-join moves hashes, not text.
    * At 100 TB the existing-hash side is a hash-partitioned anti-join
    * build (AQE broadcasts it only when it fits) and Spark's runtime
    * bloom filter prunes non-matching incoming rows before the
    * shuffle (demonstrated in ScaleOpsSpec). NULL-text incoming docs
    * are KEPT (a null hash equals nothing, so the anti-join finds no
    * match) — mirror an oracle with NOT EXISTS, not NOT IN.
    */
  def incrementalExact(incoming: DataFrame, existing: DataFrame,
                       idCol: String, text: Column): DataFrame = {
    val exH = existing.select(md5(text).as("__h")).distinct()
    incoming.withColumn("__h", md5(text))
      .join(exH, Seq("__h"), "left_anti")
      .drop("__h")
  }

  /** INCREMENTAL near-dup candidates — `incoming` docs banded AGAINST
    * `existing`'s band buckets (never incoming-vs-incoming or
    * existing-vs-existing), verified with exact n-gram Jaccard.
    * Returns (inc_id, ex_id, jaccard_ppm): the incoming docs to drop
    * (or link) because yesterday's corpus already contains a
    * near-duplicate. The existing side's signatures are the natural
    * thing to PRECOMPUTE and store between snapshots — this operator
    * recomputes them from text, which is the correctness contract;
    * persisting `existing`'s banded projection across runs is a
    * storage-format choice layered on top (same columns).
    * xxhash64 fast path; [[minhashLshPairsAcrossMd5]] is the
    * oracle-replicable twin proving the algorithm.
    */
  def minhashLshPairsAcross(incoming: DataFrame, existing: DataFrame,
                            idCol: String, text: Column,
                            bands: Int = 16, rows: Int = 4, n: Int = 3,
                            minJaccardPpm: Long = 500000L,
                            maxBucket: Int = 4096): DataFrame = {
    val docsI = shingled(incoming, idCol, text, n)
    val docsE = shingled(existing, idCol, text, n)
    bandJoinVerifyAcross(docsI, xxBanded(docsI, bands, rows),
      docsE, xxBanded(docsE, bands, rows), bands, minJaccardPpm, maxBucket)
  }

  /** The xxhash64 banded-signature projection as a PUBLIC, storable
    * artifact: (doc_id, bk0..bk{bands-1}) — one narrow row per doc.
    * Write this per snapshot and feed it back through
    * [[minhashLshPairsAcrossStored]] to skip re-hashing yesterday's
    * corpus on every incremental run (at 100 TB the existing side's
    * shingle explode + min-hash aggregate IS the dominant cost of
    * [[minhashLshPairsAcross]]; the stored table is doc-count-sized).
    * Parameters must match the consuming call exactly — store them
    * alongside the table (a signature is meaningless without its
    * (bands, rows, n, seed-family) identity).
    */
  def bandedSignatures(df: DataFrame, idCol: String, text: Column,
                       bands: Int = 16, rows: Int = 4, n: Int = 3): DataFrame =
    xxBanded(shingled(df, idCol, text, n), bands, rows)

  /** [[minhashLshPairsAcross]] with the EXISTING side's signatures
    * read from a prior [[bandedSignatures]] store instead of
    * recomputed from text. `existing` (the text table) is still
    * needed — but only for the exact-Jaccard verify of the candidate
    * pairs, which touches the few docs the band join surfaced, not
    * the whole corpus. Same banding/cap/verify semantics; a spec
    * asserts pair-for-pair parity with the recompute path.
    */
  def minhashLshPairsAcrossStored(incoming: DataFrame, idCol: String, text: Column,
                                  existing: DataFrame, existingSignatures: DataFrame,
                                  bands: Int = 16, rows: Int = 4, n: Int = 3,
                                  minJaccardPpm: Long = 500000L,
                                  maxBucket: Int = 4096,
                                  incomingSignatures: Option[DataFrame] = None): DataFrame = {
    def checkSigShape(sigs: DataFrame, which: String): Unit =
      require(sigs.columns.toSet ==
        (Set("doc_id") ++ (0 until bands).map(b => s"bk$b")),
        s"$which must carry (doc_id, bk0..bk${bands - 1}) — " +
          s"got ${sigs.columns.mkString(", ")}")
    checkSigShape(existingSignatures, "existingSignatures")
    incomingSignatures.foreach(checkSigShape(_, "incomingSignatures"))
    require(maxBucket >= 1, s"maxBucket must be positive, got $maxBucket")
    val docsI = shingled(incoming, idCol, text, n)
    // incomingSignatures: a caller that ALSO needs the incoming side's
    // signatures (the incremental-dedup trigger stores survivors')
    // passes its [[bandedSignatures]] frame here so the min-hash
    // aggregate over the batch runs ONCE, not once per consumer —
    // must be built with the same (bands, rows, n) identity
    val bi = explodeBanded(
      incomingSignatures.getOrElse(xxBanded(docsI, bands, rows)), bands)
    val be = explodeBanded(existingSignatures, bands)
    val hot = bi.select("band", "bucket").union(be.select("band", "bucket"))
      .groupBy("band", "bucket").count()
      .filter(col("count") > maxBucket).select("band", "bucket")
    // candidates feed BOTH the existing-side prune and the verify —
    // persist so the band join runs once (CacheRegistry lifecycle)
    val candidates = CacheRegistry.persist(
      bi.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
        .select(col("band"), col("bucket"), col("doc_id").as("inc_id"))
        .join(be.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
          .select(col("band"), col("bucket"), col("doc_id").as("ex_id")),
          Seq("band", "bucket"))
        .select("inc_id", "ex_id").distinct())
    // only the surfaced existing docs are ever re-shingled: the verify
    // side semi-joins the candidate ex_ids BEFORE the text explode
    val exNeeded = existing.join(
      candidates.select(col("ex_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
    val docsE = shingled(exNeeded, idCol, text, n)
    jaccardVerify(candidates, docsI, docsE, "inc_id", "ex_id", minJaccardPpm)
  }

  /** md5 twin of [[minhashLshPairsAcross]] (same banding, engine-
    * replicable hash family) — the correctness gate's version.
    */
  def minhashLshPairsAcrossMd5(incoming: DataFrame, existing: DataFrame,
                               idCol: String, text: Column,
                               bands: Int = 8, rows: Int = 2, n: Int = 3,
                               minJaccardPpm: Long = 0L,
                               maxBucket: Int = 4096): DataFrame = {
    val docsI = shingled(incoming, idCol, text, n)
    val docsE = shingled(existing, idCol, text, n)
    bandJoinVerifyAcross(docsI, md5Banded(docsI, bands, rows),
      docsE, md5Banded(docsE, bands, rows), bands, minJaccardPpm, maxBucket)
  }

  /** The (doc_id, sh) shingled projection both LSH variants fan out
    * from, cached so its three consumers (min-hash agg + both sides of
    * the verify join) share one corpus scan.
    */
  private def shingled(df: DataFrame, idCol: String, text: Column, n: Int): DataFrame =
    CacheRegistry.persist(df.select(col(idCol).as("doc_id"), shingles(text, n).as("sh")))

  /** Shared LSH tail: explode band buckets, equi-join on (band, bucket),
    * dedup candidate pairs, then verify each candidate ONCE with exact
    * n-gram Jaccard. `bucketed` carries (doc_id, bk0..bk{bands-1});
    * `docs` carries (doc_id, sh).
    *
    * Buckets larger than `maxBucket` are dropped before the self-join:
    * one degenerate bucket (boilerplate text, an empty-ish shingle set
    * every stub page shares) otherwise puts N' rows on one (band,
    * bucket) key and the join emits N'²/2 pairs on a single straggler
    * reducer. The bucket census is at most a few groups per band, so
    * the over-cap blacklist broadcasts; members of a dropped bucket
    * stay reachable through their other bands (standard production
    * dedup posture — same cap as
    * [[graft.operators.Similarity.bandedBuckets]]).
    */
  private def bandJoinVerify(docs: DataFrame, bucketed: DataFrame, bands: Int,
                             minJaccardPpm: Long, maxBucket: Int): DataFrame = {
    require(maxBucket >= 1, s"maxBucket must be positive, got $maxBucket")
    val allBanded = explodeBanded(bucketed, bands)
    val hot = allBanded.groupBy("band", "bucket").count()
      .filter(col("count") > maxBucket).select("band", "bucket")
    val banded = allBanded.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    val a = banded.select(col("band"), col("bucket"), col("doc_id").as("id_a"))
    val b = banded.select(col("band"), col("bucket"), col("doc_id").as("id_b"))
    val candidates = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    jaccardVerify(candidates, docs, docs, "id_a", "id_b", minJaccardPpm)
  }

  /** Cross-corpus LSH tail: incoming band buckets equi-join EXISTING
    * band buckets only — no same-side pairs are ever generated. The
    * hot-bucket cap censuses the two sides TOGETHER (a bucket
    * degenerate on either side makes the cross product explode), same
    * posture as the self-join tail.
    */
  private def bandJoinVerifyAcross(docsInc: DataFrame, bucketedInc: DataFrame,
                                   docsEx: DataFrame, bucketedEx: DataFrame,
                                   bands: Int, minJaccardPpm: Long,
                                   maxBucket: Int): DataFrame = {
    require(maxBucket >= 1, s"maxBucket must be positive, got $maxBucket")
    val bi = explodeBanded(bucketedInc, bands)
    val be = explodeBanded(bucketedEx, bands)
    val hot = bi.select("band", "bucket").union(be.select("band", "bucket"))
      .groupBy("band", "bucket").count()
      .filter(col("count") > maxBucket).select("band", "bucket")
    val candidates = bi.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
      .select(col("band"), col("bucket"), col("doc_id").as("inc_id"))
      .join(be.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
        .select(col("band"), col("bucket"), col("doc_id").as("ex_id")),
        Seq("band", "bucket"))
      .select("inc_id", "ex_id").distinct()
    jaccardVerify(candidates, docsInc, docsEx, "inc_id", "ex_id", minJaccardPpm)
  }

  /** One row per (doc, band): (doc_id, band, bucket). The
    * banded-signature input (one narrow row per doc) is referenced
    * three times downstream — hot-bucket census plus both join sides —
    * and computing it means re-running the full min-hash aggregate
    * over every shingle. It is cached ([[CacheRegistry.persist]],
    * caller releases after its action) so the aggregate runs once per
    * corpus scan, not three times.
    */
  private def explodeBanded(bucketed: DataFrame, bands: Int): DataFrame =
    CacheRegistry.persist(bucketed)
      .select(col("doc_id"),
        posexplode(array((0 until bands).map(bnd => col(s"bk$bnd")): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** Exact n-gram Jaccard over a candidate pair set: one shingle-array
    * join per side, score in ppm, threshold filter.
    */
  private def jaccardVerify(candidates: DataFrame, docsA: DataFrame, docsB: DataFrame,
                            aCol: String, bCol: String, minJaccardPpm: Long): DataFrame = {
    val shA = docsA.select(col("doc_id").as(aCol), col("sh").as("sh_a"))
    val shB = docsB.select(col("doc_id").as(bCol), col("sh").as("sh_b"))
    // |A∪B| = |A| + |B| − |A∩B| exactly (shingle arrays are
    // duplicate-free by [[shingles]]' LinkedHashSet construction), so
    // the union never materializes — one hash-set pass per pair
    // instead of two (r15: the verify stage is the dominant CPU of
    // every LSH/PPJoin gate; this halves its per-pair set work)
    candidates.join(shA, aCol).join(shB, bCol)
      .select(col(aCol), col(bCol),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("__i"),
        (size(col("sh_a")) + size(col("sh_b"))).cast("long").as("__t"))
      .select(col(aCol), col(bCol),
        round(col("__i") * 1000000.0 / (col("__t") - col("__i")))
          .cast("long").as("jaccard_ppm"))
      .filter(col("jaccard_ppm") >= minJaccardPpm)
  }

  /** Exact pairwise n-gram Jaccard over a (small) candidate set —
    * the verification step of LSH, usable standalone at test scale.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, text: Column, n: Int = 3): DataFrame = {
    // PERSIST the exploded shingle projection ([[CacheRegistry]]
    // lifecycle): it feeds both self-join sides AND the per-doc size
    // census — three corpus scans without the cache.
    val sh = CacheRegistry.persist(
      df.select(col(idCol).as("doc_id"), explode(shingles(text, n)).as("g")))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("inter") * 1000000.0 / (col("na") + col("nb") - col("inter"))).cast("long")
          .as("jaccard_ppm"))
  }

  /** Near-CONTAINMENT pairs: documents sharing ≥
    * `minContainmentPpm/10⁶` of the SMALLER side's shingles —
    * the asymmetric-duplication case Jaccard misses by construction
    * (a paragraph quoted inside a 100× longer page has tiny Jaccard
    * but containment ≈ 1; Lee et al.'s motivating case for
    * exact-substring dedup, here at document granularity).
    *
    * Shingles with document frequency > `maxDf` are excluded from the
    * UNIVERSE (both intersections and sizes): a stopword shingle
    * contributes quadratic join fan-out and no containment evidence.
    * That makes the score "containment over informative shingles" — a
    * deliberate, engine-replicable semantic, not a lossy shortcut:
    * sizes and intersections use the same filtered universe, so the
    * ratio stays exact and ≤ 10⁶. Docs with no surviving shingles
    * produce no pairs.
    *
    * Shuffle shape: one shingle explode (persisted — feeds the df
    * census, both join sides and the size census), a broadcast
    * hot-shingle blacklist, the shingle-keyed self-join bounded by
    * maxDf² per shingle, one pair aggregate. Returns
    * (id_a, id_b, inter, containment_ppm).
    */
  def containmentPairs(df: DataFrame, idCol: String, text: Column, n: Int = 3,
                       minContainmentPpm: Long = 600000,
                       maxDf: Long = 1000): DataFrame = {
    require(minContainmentPpm >= 1 && minContainmentPpm <= 1000000,
      s"minContainmentPpm must be in [1,10^6], got $minContainmentPpm")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    val shAll = df.select(col(idCol).as("doc_id"), explode(shingles(text, n)).as("g"))
      .distinct()
    val sh = CacheRegistry.persist(
      shAll.join(broadcast(
          shAll.groupBy("g").agg(count(lit(1)).as("__df"))
            .filter(col("__df") > maxDf).select("g")),
          Seq("g"), "left_anti"))
    // self-join: no smaller side to broadcast at any scale — shuffled
    // hash parallelizes the build (the q165 measurement); maxDf bounds
    // per-shingle build state
    val pairs = sh.as("a").hint("shuffle_hash").join(sh.as("b").hint("shuffle_hash"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
      .select(col("id_a"), col("id_b"), col("inter"),
        expr("(1000000 * inter) div least(na, nb)").as("containment_ppm"))
      .filter(col("containment_ppm") >= minContainmentPpm)
  }

  /** Per-document NOVELTY score against a reference corpus: the
    * fraction of a document's n-gram shingles never seen in the
    * reference — the freshness/memorization audit
    * ([[ngramContamination]]'s boolean gate generalized to a score):
    * "how much of this new crawl batch is actually new text?" or "how
    * much of the eval set leaks from training?". novelty_ppm =
    * 10⁶·|shingles ∉ reference| DIV |shingles|; docs with no shingles
    * are absent (no evidence — route through a length filter).
    *
    * Shuffle shape: one explode per side; the reference projects to
    * its DISTINCT shingle set and the score is one left join + one
    * per-doc aggregate — at 100 TB the reference shingle set is the
    * big side, and the join is plain shuffle-on-shingle (AQE
    * broadcasts small references). Returns
    * (doc_id, n_shingles, n_novel, novelty_ppm).
    */
  def noveltyScore(docs: DataFrame, idCol: String, text: Column,
                   reference: DataFrame, refText: Column,
                   n: Int = 3): DataFrame = {
    val docSh = docs.select(col(idCol).as("doc_id"), explode(shingles(text, n)).as("g"))
      .distinct()
    val refSh = reference.select(explode(shingles(refText, n)).as("g")).distinct()
      .withColumn("__seen", lit(1L))
    docSh.join(refSh, Seq("g"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("(1000000 * n_novel) div n_shingles"))
  }

  /** EXACT all-pairs similarity join via PREFIX FILTERING (SSJoin /
    * PPJoin, Chaudhuri et al. / Xiao et al.): every pair of documents
    * whose word n-gram Jaccard is ≥ `minJaccardPpm/10^6` — with NO
    * false negatives (unlike MinHash-LSH, which trades recall for
    * speed) and without the quadratic inverted-index join of
    * [[ngramJaccardPairs]].
    *
    * The filter: order the shingle vocabulary globally by (document
    * frequency asc, shingle asc) — rare first. If Jaccard(A,B) ≥ t
    * then |A∩B| ≥ ⌈t·|A|⌉, and two sets with overlap ≥ α MUST share a
    * token inside their first (|·| − α + 1) tokens under any shared
    * total order — so candidates are generated ONLY from each doc's
    * prefix of length |d| − ⌈t·|d|⌉ + 1. Rare-first ordering makes
    * those prefixes nearly collision-free: the join fan-out is driven
    * by document frequency of the RAREST tokens, not the hottest. A
    * length filter (t·max(|A|,|B|) ≤ min(|A|,|B|), cross-multiplied
    * in ppm) prunes size-incompatible survivors before the verify.
    *
    * The threshold test is EXACT rational arithmetic —
    * `inter·10^6 ≥ tPpm·union` — never the rounded display ppm, so
    * candidate-generation completeness and the final filter agree for
    * any data (a rounded filter would admit pairs fractionally below
    * t that prefix filtering correctly never generates). Returns
    * (id_a, id_b, jaccard_ppm) with id_a < id_b.
    *
    * Scale shape: one shingle explode (cached array projection shared
    * with the verify join), a map-side-combinable document-frequency
    * census, a doc-partitioned window for prefix positions, an
    * equi-join on prefix tokens only, then per-unique-pair verify.
    * At 100 TB the prefix join is the scale path for EXACT similarity
    * (the LSH operators remain the approximate one): candidate count
    * grows with rare-token collisions, not vocabulary heat. Hot-token
    * residue at low thresholds is bounded by the census itself — the
    * prefix of a large doc at t=0.9 is ~10% of its tokens, all rare.
    */
  def jaccardPrefixJoin(df: DataFrame, idCol: String, text: Column,
                        n: Int = 3, minJaccardPpm: Long = 300000L): DataFrame = {
    require(minJaccardPpm >= 1 && minJaccardPpm <= 1000000L,
      s"minJaccardPpm must be in [1, 1000000], got $minJaccardPpm")
    import org.apache.spark.sql.expressions.Window
    val docs = shingled(df, idCol, text, n)
    val sh = docs.select(col("doc_id"), explode(col("sh")).as("g"))
    val gdf = sh.groupBy("g").agg(count(lit(1)).as("__gdf"))
    val byRarity = Window.partitionBy("doc_id").orderBy(col("__gdf"), col("g"))
    val wholeDoc = Window.partitionBy("doc_id")
    val positioned = sh.join(gdf, Seq("g"))
      .select(col("doc_id"), col("g"),
        row_number().over(byRarity).as("__pos"),
        count(lit(1)).over(wholeDoc).as("__n"))
    // ⌈t·|d|⌉ exactly: (tPpm·|d| + 10^6 − 1) div 10^6.
    // The prefix projection (df-census join + two windows) feeds BOTH
    // sides of the candidate self-join — persist it so that pipeline
    // runs once, not twice (CacheRegistry lifecycle, caller releases).
    val prefix = CacheRegistry.persist(positioned.filter(
      col("__pos") <=
        col("__n") - expr(s"(${minJaccardPpm}L * __n + 999999L) div 1000000L")
          + lit(1L)))
    val a = prefix.select(col("g"), col("doc_id").as("id_a"), col("__n").as("__na"))
    val b = prefix.select(col("g"), col("doc_id").as("id_b"), col("__n").as("__nb"))
    val candidates = a.join(b, Seq("g"))
      .filter(col("id_a") < col("id_b") &&
        lit(minJaccardPpm) * greatest(col("__na"), col("__nb")) <=
          lit(1000000L) * least(col("__na"), col("__nb")))
      .select("id_a", "id_b").distinct()
    jaccardVerifyRational(candidates, docs, minJaccardPpm)
  }

  /** Exact-threshold verify: like [[jaccardVerify]] but the keep
    * decision is the cross-multiplied rational `inter·10^6 ≥ t·union`
    * (bit-exact on any engine); the rounded ppm column is display-only.
    */
  private def jaccardVerifyRational(candidates: DataFrame, docs: DataFrame,
                                    minJaccardPpm: Long): DataFrame = {
    val shA = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val shB = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    // |A∪B| = |A| + |B| − |A∩B| exactly (duplicate-free shingle
    // arrays) — see [[jaccardVerify]]; one set pass per pair, not two
    candidates.join(shA, "id_a").join(shB, "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("__i"),
        (size(col("sh_a")) + size(col("sh_b"))).cast("long").as("__t"))
      .select(col("id_a"), col("id_b"), col("__i"),
        (col("__t") - col("__i")).as("__u"))
      .filter(col("__i") * lit(1000000L) >= lit(minJaccardPpm) * col("__u"))
      .select(col("id_a"), col("id_b"),
        round(col("__i") * 1000000.0 / col("__u")).cast("long").as("jaccard_ppm"))
  }

  /** Edge cap of [[connectedComponents]]' driver union-find: 2^20
    * edges collect at most ~16 MB of longs. */
  private val ComponentsDriverMaxEdges = 1L << 20

  /** Duplicate-cluster formation: connected components over a near-dup
    * pair set (the output of [[minhashLshPairs]] /
    * [[graft.operators.Similarity.cosineNearDupPairs]]), returning
    * (v, lbl) where `lbl` is the minimum id reachable from `v` — the
    * canonical cluster id. "Keep one per cluster" is then
    * `filter(v === lbl)`. Only ids that appear in a pair participate
    * (singletons have no cluster to join).
    *
    * Algorithm: min-label propagation with POINTER JUMPING — every
    * node starts labeled with its own id; each round takes the min of
    * its own, its neighbors', and its current label's label (the
    * path-doubling shortcut: labels are node ids, so a label's label
    * is a valid, smaller-or-equal label). The shortcut turns the
    * O(diameter) naive round count into O(log diameter) — a chain
    * component of length 1000 converges in ~10 rounds, not 1000 (the
    * naive form genuinely failed to converge at sf0.1's pair graph).
    * Each round is two shuffle joins + one partial-aggregating min,
    * with `localCheckpoint` truncating the lineage so round N's plan
    * doesn't replan rounds 1..N-1 (on a cluster with dynamic
    * allocation prefer reliable `checkpoint()` + a checkpoint dir —
    * localCheckpoint blocks die with their executor). The round runs
    * as ONE Spark job: the checkpoint is lazy and the convergence
    * count is the action that materializes it — the old label rides
    * along in the checkpointed rows, so change detection is a free
    * column compare, not a separate join against the previous labels.
    * At extreme scale the alternating large-star/small-star variant
    * [Kiveris et al.] tightens constants; the per-round plan shape is
    * the same.
    *
    * ADAPTIVE SMALL-GRAPH PATH: the pair graph is the output of the
    * LSH + verify funnel — usually orders of magnitude smaller than
    * the corpus. When the deduped edge cache passes the [[DriverPath]]
    * gate (at most [[ComponentsDriverMaxEdges]] rows, integral
    * non-null ids), the labels are computed with a driver-side
    * union-find instead: one collect of the edge list, exact
    * min-label semantics, zero iterative rounds. Each distributed
    * round costs 2 shuffle joins + a count regardless of size — on a
    * few-hundred-edge graph the rounds ARE the cost (measured: ~4 s of
    * pure round overhead in the composed q65 at sf0.1, vs ~0.1 s via
    * union-find). Anything else takes the distributed path unchanged.
    * This is the same adaptive posture as AQE's runtime broadcast:
    * pick the driver path only when the measured size proves it safe.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                          maxIters: Int = 50): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val sc = pairs.sparkSession.sparkContext
    val fwd = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    // both directions from ONE scan of the pair plan: explode each pair
    // to (a,b)+(b,a) instead of union(fwd, fwd.swapped) — the union form
    // evaluates the input lineage TWICE when it isn't cached, and the
    // input here is typically the whole LSH band-join/verify tail
    // (measured: the double evaluation was ~2/3 of this operator's cost
    // in the composed q65 pipeline)
    val edges = fwd
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    DriverPath.pairs(edges, ComponentsDriverMaxEdges) match {
      case Some(es) =>
        // union-find with min-root invariant: the root of every set is
        // its minimum member, so find(v) IS the min reachable id
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x // path compression
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        es.foreach { case (a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        val out = parent.keys.toSeq.map(v => (v, find(v)))
        edges.unpersist()
        return DriverPath.frame(pairs.sparkSession, out, "v", "lbl")
          .select(col("v").cast(fwd.schema("src").dataType),
            col("lbl").cast(fwd.schema("src").dataType))
          .toDF("v", "lbl")
      case None => ()
    }
    // materialize the edge cache (and anything upstream of it, e.g. a
    // caller's shingle cache) BEFORE the first label checkpoint, so the
    // label rounds below never re-evaluate the caller's upstream plan
    // (the gate above may decline before counting it)
    edges.count()
    var labels = edges.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("lbl")).localCheckpoint(true)
    // blocks backing the PREVIOUS round's labels; a localCheckpoint's
    // blocks ARE its data (lineage truncated), so they are freed only
    // once the NEXT round's checkpoint is materialized — each round
    // frees its predecessor instead of letting O(rounds) label
    // snapshots pile up in executor storage for the whole run.
    // Checkpoint ids are read off each frame's own plan (PlanShim),
    // never by diffing global getPersistentRDDs, which races against
    // concurrent queries persisting on the shared context.
    var prevCkpt = org.apache.spark.sql.graft.PlanShim.checkpointedRddId(labels)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("v").as("dst"), col("lbl").as("nlbl")), Seq("dst"))
        .groupBy("src").agg(min("nlbl").as("nmin"))
        .withColumnRenamed("src", "v")
      // carry the previous label ("old") through the round so the
      // convergence check is a column compare on the round's own
      // output — not a third join back against the previous labels
      val cand = labels.join(nbrMin, Seq("v"), "left_outer")
        .select(col("v"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("c"))
      // pointer jump: follow the candidate label to ITS label
      val updated0 = cand
        .join(labels.select(col("v").as("c"), col("lbl").as("clbl")), Seq("c"), "left_outer")
        .select(col("v"), least(col("c"), coalesce(col("clbl"), col("c"))).as("lbl"),
          col("old"))
      graft.TriggerPlanProbe.recordIter("connected_components", updated0)
      val updated = updated0
        .localCheckpoint(false) // lazy: the count below is the ONE action
                                // that both materializes the checkpoint
                                // blocks and returns the changed count
      val thisCkpt = org.apache.spark.sql.graft.PlanShim.checkpointedRddId(updated)
      changed = updated.filter(col("lbl") =!= col("old")).count()
      // this round's checkpoint is materialized — its predecessor's
      // blocks are no longer reachable from any future plan; free them
      sc.getPersistentRDDs.get(prevCkpt).foreach(_.unpersist(false))
      prevCkpt = thisCkpt
      labels = updated.select("v", "lbl")
      i += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIters rounds")
    edges.unpersist()
    // the FINAL checkpoint backs the returned labels — it must outlive
    // this call; the caller releases it after consuming the result
    CacheRegistry.registerRddIds(sc, Seq(prevCkpt))
    labels
  }

  /** Benchmark decontamination: per corpus doc, how many of its
    * distinct word n-gram shingles also occur anywhere in `benchmark`
    * (an eval/benchmark suite). Training on benchmark text corrupts
    * evaluation, so pipelines drop or flag docs with any overlap —
    * `n_hit > 0` — or with `hit_frac_milli` above a threshold.
    * Returns (doc_id, n_sh, n_hit, hit_frac_milli); docs with no
    * shingles (blank text) produce no row.
    *
    * Scale shape: benchmark suites are tiny next to a 100 TB corpus,
    * so the distinct benchmark shingle set BROADCASTS and the corpus
    * side streams through one map-side join + one partial-aggregating
    * count — no corpus shuffle at all until the per-doc aggregate. If
    * a benchmark ever outgrows broadcast, hash both sides' shingles to
    * 64-bit (xxhash64) and let it shuffle-join; the per-doc aggregate
    * is unchanged.
    */
  def ngramContamination(corpus: DataFrame, idCol: String, text: Column,
                         benchmark: DataFrame, benchText: Column,
                         n: Int = 3): DataFrame = {
    val docSh = corpus.select(col(idCol).as("doc_id"), explode(shingles(text, n)).as("g"))
    val benchSh = benchmark.select(explode(shingles(benchText, n)).as("g"))
      .distinct().withColumn("__hit", lit(1))
    docSh.join(broadcast(benchSh), Seq("g"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"),
        round(sum(coalesce(col("__hit"), lit(0))) * 1000.0 / count(lit(1)))
          .cast("long").as("hit_frac_milli"))
  }

  /** SimHash near-dup buckets: docs sharing the top-`prefixBits` bits
    * of their simhash are near-dup candidates (cheap single shuffle).
    * `prefixBits` ∈ [1, 32]; the bucket is computed with exact integer
    * arithmetic (subtract-mod then divide, then shift) — decimal
    * division alone rounds HALF_UP at the result scale, which can push
    * a fingerprint just below a bucket boundary into the wrong bucket.
    */
  /** SimHash near-duplicate PAIRS with a GUARANTEED-recall candidate
    * scheme (Manku et al., WWW'07): split the 64-bit fingerprint into
    * `maxHamming + 1` blocks — two fingerprints within Hamming
    * distance `maxHamming` must agree EXACTLY on at least one block
    * (pigeonhole), so candidates are block-equality joins, and the
    * `bit_count(xor)` verify runs only on them: zero false negatives
    * among pairs whose agreeing block survives the hot-block census —
    * a pair ALL of whose agreeing blocks exceed `maxDocsPerBlock`
    * (e.g. > cap identical or empty docs, which collide on every
    * block) is dropped with the blacklisted blocks, the same
    * recall-for-bounded-reducers trade the other hot-bucket operators
    * make. Unlike the single-prefix bucketing of [[simhashBuckets]]
    * (the grouping/sharding view), sub-cap recall is exact.
    *
    * Scale shape: one codegen'd fingerprint eval per doc, a
    * (block_id, block_value) explode (k+1 rows/doc of 8-byte keys),
    * the hot-block census blacklist (`maxDocsPerBlock` — a block value
    * shared by everything, e.g. the all-zeros block of empty docs,
    * costs quadratic joins for no signal), the equality join, one
    * popcount filter. Fingerprint bytes never shuffle twice. Docs with
    * NULL text are excluded. Returns (id_a, id_b, hamming),
    * hamming ≤ maxHamming.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, text: Column,
                          maxHamming: Int = 3,
                          maxDocsPerBlock: Long = 1000): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 15,
      s"maxHamming must be in [1,15], got $maxHamming")
    require(maxDocsPerBlock >= 2, s"maxDocsPerBlock must be >= 2, got $maxDocsPerBlock")
    val nBlocks = maxHamming + 1
    val base = 64 / nBlocks
    val rem = 64 % nBlocks
    // block b covers width base (+1 for the first `rem`) bits at its
    // running offset — as even a split as 64 allows
    val widths = (0 until nBlocks).map(b => if (b < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    val dec = graft.plans.SimHash64.simhash64(text)
    val signedFp = {
      val half = new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(63))
      val full = new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(64))
      when(col("__dec") >= lit(half), (col("__dec") - lit(full)).cast("long"))
        .otherwise(col("__dec").cast("long"))
    }
    val fps = df.select(col(idCol).as("doc_id"), dec.as("__dec"))
      .filter(col("__dec").isNotNull)
      .select(col("doc_id"), signedFp.as("fp"))
    // the block projection feeds the hot census AND both join sides —
    // persist it so the fingerprint eval runs one corpus pass, not three
    val blocks = CacheRegistry.persist(
      fps.select(col("doc_id"), col("fp"),
        posexplode(array((0 until nBlocks).map(b =>
          expr(s"shiftrightunsigned(fp, ${offsets(b)}) & ${(1L << widths(b)) - 1}")): _*)))
        .withColumnRenamed("pos", "__bid").withColumnRenamed("col", "__bval"))
    val hot = blocks.groupBy("__bid", "__bval").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxDocsPerBlock).select("__bid", "__bval")
    val kept = blocks.join(broadcast(hot), Seq("__bid", "__bval"), "left_anti")
    kept.as("a").join(kept.as("b"),
        col("a.__bid") === col("b.__bid") && col("a.__bval") === col("b.__bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.fp").as("__fa"), col("b.fp").as("__fb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(__fa ^ __fb)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  def simhashBuckets(df: DataFrame, idCol: String, text: Column, prefixBits: Int = 16): DataFrame = {
    require(prefixBits >= 1 && prefixBits <= 32,
      s"prefixBits must be in [1,32], got $prefixBits")
    // single-pass expression, bit-identical to TextFunctions.simhash64
    // but one eval per row instead of 64 per-bit aggregate passes
    val sim = graft.plans.SimHash64.simhash64(text)
    val pow32 = lit(new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(32)))
    df.select(col(idCol).as("doc_id"), sim.as("simhash"))
      // top 32 bits, exactly: (x - x % 2^32) / 2^32 divides a multiple
      // of the divisor (no fractional part to round), then a plain
      // shift selects the top prefixBits
      .withColumn("bucket",
        shiftrightunsigned(
          ((col("simhash") - (col("simhash") % pow32)) / pow32).cast("long"),
          32 - prefixBits))
  }

  /** Oracle-verifiable SimHash twin of [[simhashBuckets]]'s fingerprint:
    * per-token 64-bit hash from the first 16 hex chars of md5, bit votes
    * summed in one hash aggregate (64 conditional sums — partial-
    * aggregatable, no row multiplication), fingerprint returned as two
    * 32-bit halves (fp_hi, fp_lo) so every engine stays in int64.
    * Docs with no tokens produce no row (both engines drop them).
    */
  def simhashMd5(df: DataFrame, idCol: String, text: Column): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(graft.functions.TextFunctions.tokens(text)).as("__t"))
    val h = md5(col("__t"))
    val withBits = toks.select(col("doc_id"),
      conv(substring(h, 1, 8), 16, 10).cast("long").as("__hi"),
      conv(substring(h, 9, 8), 16, 10).cast("long").as("__lo"))
    val voteAggs = (0 until 64).map { b =>
      val word = if (b < 32) col("__lo") else col("__hi")
      sum(when(shiftright(word, b % 32).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"v$b")
    }
    val votes = withBits.groupBy(col("doc_id")).agg(voteAggs.head, voteAggs.tail: _*)
    def half(lowBit: Int): Column =
      (lowBit until lowBit + 32)
        .map(b => when(col(s"v$b") > 0, lit(1L << (b - lowBit))).otherwise(lit(0L)))
        .reduce(_ + _)
    votes.select(col("doc_id"), half(32).as("fp_hi"), half(0).as("fp_lo"))
  }

  /** Exact duplicated-SUBSTRING detection (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): find every maximal
    * token span that participates in a `k`-token sequence occurring at
    * least `minOccurrences` times anywhere in the corpus — templated
    * paragraphs, licence blocks, quoted chunks that whole-document and
    * whole-line dedup both miss. Returns one row per MERGED span:
    * (doc_id, span_start, span_end, span_tokens), 1-based inclusive
    * token positions; overlapping and adjacent duplicated k-grams
    * coalesce into one interval (the gaps-and-islands merge). Callers
    * cut `[span_start, span_end]` from the token stream to reproduce
    * the paper's removal step; the spans themselves are the gate-able
    * artifact.
    *
    * The reference implementation is a suffix array — a global sort of
    * every suffix, inherently single-machine-unfriendly. The relational
    * equivalent used here: explode each doc into its positioned
    * k-grams, census the k-gram multiset (map-side-combinable count on
    * the 64-bit gram hash — 8-byte shuffle keys, the lineDedup
    * discipline), mark positions whose gram clears the threshold via a
    * SHUFFLE semi-join (the duplicated-gram set is data-dependent; AQE
    * broadcasts it only when its measured size fits), then merge
    * positions into intervals with two doc-partitioned windows (prior
    * running max-end flags island starts, a running sum numbers the
    * islands) and one aggregate — every stage keyed by doc_id after the
    * census, no skew beyond single-document length. The 64-bit gram
    * hash admits a ~2^-64 per-pair collision (an innocent span marked
    * duplicated) — the standard production trade.
    *
    * The exploded (doc, pos, gramhash) projection is cached through
    * [[CacheRegistry.persist]]: it feeds the census AND the mark join;
    * without it the corpus is re-split twice.
    */
  def duplicateSpans(df: DataFrame, idCol: String, text: Column, k: Int = 8,
                     minOccurrences: Long = 2): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(minOccurrences >= 2, s"minOccurrences must be >= 2, got $minOccurrences")
    import org.apache.spark.sql.expressions.Window
    // one custom-expression pass emits the 8-byte gram hashes BEFORE
    // the explode ([[graft.plans.PositionedGramHashes]]) — the
    // composed explode-then-slice form carried a full copy of the
    // token array through every exploded position row (O(n²) bytes
    // per document); hashes are bit-identical to
    // xxhash64(concat_ws(' ', slice(tokens, pos, k)))
    val grams = CacheRegistry.persist(df
      .select(col(idCol).as("doc_id"),
        posexplode(graft.plans.PositionedGramHashes
          .positioned_gram_hashes(text, k)))
      .select(col("doc_id"), (col("pos") + 1).as("__start"),
        col("col").as("__gh")))
    val dup = grams.groupBy("__gh").count()
      .filter(col("count") >= minOccurrences).select("__gh")
    val marked = grams.join(dup, Seq("__gh"), "left_semi")
      .select(col("doc_id"), col("__start"),
        (col("__start") + (k - 1)).as("__end"))
    val byStart = Window.partitionBy("doc_id").orderBy("__start")
    val flagged = marked.withColumn("__new",
      when(col("__start") >
        coalesce(max("__end").over(
          byStart.rowsBetween(Window.unboundedPreceding, -1)), lit(-1L)) + 1,
        1L).otherwise(0L))
    flagged
      .withColumn("__island",
        sum("__new").over(byStart.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min("__start").cast("long").as("span_start"),
        max("__end").cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_tokens"))
  }

  /** The REMOVAL step of exact-substring dedup (Lee et al.):
    * [[duplicateSpans]] finds the duplicated token intervals; this
    * operator CUTS them and reassembles each document from its
    * surviving tokens, whitespace-joined in original order. Returns
    * (doc_id, clean_text, n_kept) for every doc with non-null text —
    * a fully-duplicated document survives with empty text (the
    * caller's quality floor decides, same contract as [[lineDedup]]).
    *
    * Scale shape: the span set is the (small) output of the k-gram
    * funnel; tokens anti-join it on doc_id with the containment
    * predicate inside the join condition — merged spans are disjoint,
    * so the anti-join is exact, shuffles on doc_id only, and the
    * per-doc ordered reassembly reuses that partitioning. No state
    * beyond single-document size.
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, text: Column,
                           k: Int = 8, minOccurrences: Long = 2): DataFrame = {
    val spans = duplicateSpans(df, idCol, text, k, minOccurrences)
      .select(col("doc_id").as("__sdoc"), col("span_start"), col("span_end"))
    val toks = df
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.TextFunctions.tokens(text)))
      .withColumnRenamed("pos", "__pos0").withColumnRenamed("col", "__tok")
      .withColumn("__pos", col("__pos0") + 1) // spans are 1-based
    val kept = toks.join(spans,
      toks("doc_id") === spans("__sdoc") &&
        col("__pos") >= col("span_start") && col("__pos") <= col("span_end"),
      "left_anti")
    val perDoc = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("__pos"), col("__tok")))),
        x => x("__tok"))).as("clean_text"))
    df.filter(text.isNotNull).select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Cross-document exact substring MATCHING (the pairwise form of
    * Lee et al. exact-substring dedup): every maximal token span of
    * at least `minTokens` tokens shared verbatim by a PAIR of
    * documents, reported as (id_a, id_b, pos_a, pos_b, span_tokens)
    * with 1-based start positions and id_a < id_b. Where
    * [[duplicateSpans]] answers "which of MY intervals are duplicated
    * somewhere", this answers "who shares what with whom" — the
    * artifact attribution, licence-block provenance, and
    * contamination-tracing pipelines need. Spans are maximal exact
    * matches per alignment diagonal (the MEM semantics of suffix
    * structures): a pair sharing two separated paragraphs yields two
    * rows; periodic text yields one row per distinct self-alignment.
    *
    * Suffix arrays — the paper's tool — need a corpus-global suffix
    * sort; the distributed shape here is anchor-and-extend, all stages
    * keyed by doc or gram hash:
    *
    *  1. ONE positioned-k-gram-hash pass per doc
    *     ([[graft.plans.PositionedGramHashes]] — 8-byte shuffle keys,
    *     no gram text ever moves), persisted under [[CacheRegistry]]
    *     (it feeds the census, the seed join, and both sides of the
    *     pair-gram join);
    *  2. SEED census: gram hashes occurring 2..`maxSeedOccurrences`
    *     times corpus-wide (map-side-combinable count). The upper cap
    *     is the scale guard that keeps the anchor self-join out of the
    *     stopword-gram cross product — a span ALL of whose k-grams are
    *     more frequent than the cap anchors no pair and is skipped;
    *     any rarer-than-cap gram inside a span recovers the whole
    *     span, because extension (step 4) runs over the pair's FULL
    *     gram streams, frequent grams included;
    *  3. anchor self-join on seed hashes → distinct candidate pairs
    *     (id_a < id_b), bounded by cap² per seed gram;
    *  4. EXTEND: the pair list joins each side's gram stream
    *     (doc-keyed), grams meet on hash equality, and runs of
    *     consecutive positions on one diagonal (pos_a − pos_b) merge
    *     via gaps-and-islands — one window partitioned by
    *     (pair, diagonal), never wider than one pair's gram count.
    *
    * The 64-bit gram hash admits a ~2⁻⁶⁴ per-pair collision (a false
    * token-run extension) — the [[duplicateSpans]] trade; the oracle
    * joins gram STRINGS, so gate agreement additionally witnesses
    * collision-freedom on the corpus.
    *
    * Sizing on boilerplate-heavy corpora (soaked at 1/3/10× on a
    * corpus where every base doc's prefix is shared by all K
    * replicas — the worst realistic shape): candidate pairs grow as
    * C(occurrences, 2) per shared span, so the OUTPUT is quadratic in
    * duplication depth by problem definition; measured wall-time
    * tracks the output sublinearly (10× corpus → 14.5× pairs → 2.8×
    * time, worst-stage skew 1.1). `maxSeedOccurrences` bounds how
    * deep a boilerplate cluster may anchor (occurrences beyond the
    * cap stop seeding NEW pairs); lower it (e.g. 20) when license
    * headers / navigation chrome dominate, raise `minTokens` to
    * shrink the reported-span tail — neither changes the per-pair
    * extension cost, which is bounded by the pair's own gram counts.
    */
  def matchedSpans(df: DataFrame, idCol: String, text: Column, k: Int = 8,
                   minTokens: Int = 16, maxSeedOccurrences: Long = 50): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(minTokens >= k, s"minTokens must be >= k, got $minTokens (k=$k)")
    require(maxSeedOccurrences >= 2,
      s"maxSeedOccurrences must be >= 2, got $maxSeedOccurrences")
    import org.apache.spark.sql.expressions.Window
    val grams = CacheRegistry.persist(df
      .select(col(idCol).as("doc_id"),
        posexplode(graft.plans.PositionedGramHashes
          .positioned_gram_hashes(text, k)))
      .select(col("doc_id"), (col("pos") + 1).as("__p"), col("col").as("__gh")))
    val seeds = grams.groupBy("__gh").count()
      .filter(col("count") >= 2 && col("count") <= maxSeedOccurrences)
      .select("__gh")
    val anchors = grams.join(seeds, Seq("__gh"), "left_semi")
    val pairs = anchors.select(col("__gh"), col("doc_id").as("id_a"))
      .join(anchors.select(col("__gh"), col("doc_id").as("id_b")), Seq("__gh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val matched = pairs
      .join(grams.select(col("doc_id").as("id_a"), col("__p").as("pos_a"),
        col("__gh")), Seq("id_a"))
      .join(grams.select(col("doc_id").as("id_b"), col("__p").as("pos_b"),
        col("__gh")), Seq("id_b", "__gh"))
    val byDiag = Window
      .partitionBy(col("id_a"), col("id_b"), col("pos_a") - col("pos_b"))
      .orderBy("pos_a")
    matched
      .withColumn("__grp", col("pos_a") - row_number().over(byDiag))
      .groupBy(col("id_a"), col("id_b"),
        (col("pos_a") - col("pos_b")).as("__diag"), col("__grp"))
      .agg(min("pos_a").cast("long").as("pos_a"),
        min("pos_b").cast("long").as("pos_b"),
        (max("pos_a") - min("pos_a") + k).cast("long").as("span_tokens"))
      .filter(col("span_tokens") >= minTokens)
      .select("id_a", "id_b", "pos_a", "pos_b", "span_tokens")
  }

  /** Canonical-document selection over near-duplicate clusters: run
    * [[connectedComponents]] on the pair set, join each member's
    * quality attribute, and keep ONE document per cluster — the
    * highest `qualityCol`, lowest id on ties (the "keep the best
    * copy" policy real dedup pipelines apply where q55's min-id
    * keeper is just a placeholder). Returns one row per cluster:
    * (cluster_id, kept_id, kept_quality, n_docs).
    *
    * Scale shape: the argmax is ONE map-side-combinable max_by hash
    * aggregate over the (member, quality) join — no per-cluster sort,
    * no window; `attrs` joins on the (already-shuffled-small) member
    * list, not the full corpus.
    */
  /** Train/eval SPLIT LEAKAGE detection: near-duplicate pairs whose
    * members landed in DIFFERENT splits — the document-level
    * contamination a per-document hash split cannot prevent (two
    * near-identical pages hash independently, so ~2·p·(1−p) of dup
    * pairs straddle the boundary and the eval set silently contains
    * paraphrases of training data). `pairs` is any near-dup pair set
    * ([[minhashLshPairs]], [[graft.operators.Similarity.cosineNearDupPairs]]);
    * `splits` maps id → split label. Returns the pair rows that cross,
    * with both labels attached — the kill-list for eval-side removal.
    *
    * Scale shape: two equi-joins of the (post-LSH-funnel, small) pair
    * set against the split projection — the pair side is typically
    * orders of magnitude under corpus size, so AQE broadcasts it; no
    * corpus-side shuffle beyond the split projection read.
    */
  def crossSplitLeakage(pairs: DataFrame, idA: String, idB: String,
                        splits: DataFrame, idCol: String, splitCol: String): DataFrame =
    pairs
      .join(splits.select(col(idCol).as(idA), col(splitCol).as("split_a")), idA)
      .join(splits.select(col(idCol).as(idB), col(splitCol).as("split_b")), idB)
      .filter(col("split_a") =!= col("split_b"))

  /** Pair-set comparison — the config-evaluation harness for the dedup
    * funnels: given a TRUTH pair set (e.g. [[jaccardPrefixJoin]], exact
    * by construction) and a CANDIDATE pair set (e.g.
    * [[minhashLshPairs]] at some banding), one row of confusion
    * metrics: (n_truth, n_cand, n_common, recall_ppm, precision_ppm).
    * This is how a banding/threshold choice is validated on a sample
    * BEFORE committing a 100 TB run to it — measured recall, not the
    * r-row S-curve formula's promise.
    *
    * Both inputs must already be canonical (id_a < id_b, distinct).
    * Empty sets make the corresponding ratio 10⁶ by convention (a
    * vacuous truth is perfectly recalled). One inner join + three
    * 1-row aggregates; the pair frames are funnel outputs, orders of
    * magnitude under corpus size.
    */
  def pairSetComparison(truth: DataFrame, candidates: DataFrame,
                        idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    // both inputs are consumed twice (own count + the overlap join) and
    // each is typically the tail of a full candidate-generation/verify
    // funnel — pin them so the funnels run once, not twice (measured
    // r15: q174's truth funnel re-executed for the overlap join, 267 s
    // of task CPU on the second pass; CacheRegistry lifecycle, caller
    // releases after its action)
    val t = CacheRegistry.persist(truth.select(col(idA), col(idB)))
    val c = CacheRegistry.persist(candidates.select(col(idA), col(idB)))
    val nT = t.agg(count(lit(1)).as("n_truth"))
    val nC = c.agg(count(lit(1)).as("n_cand"))
    val nB = t.join(c, Seq(idA, idB)).agg(count(lit(1)).as("n_common"))
    nT.crossJoin(broadcast(nC)).crossJoin(broadcast(nB))
      .select(col("n_truth"), col("n_cand"), col("n_common"),
        expr("CASE WHEN n_truth = 0 THEN 1000000 " +
          "ELSE (1000000 * n_common) div n_truth END").as("recall_ppm"),
        expr("CASE WHEN n_cand = 0 THEN 1000000 " +
          "ELSE (1000000 * n_common) div n_cand END").as("precision_ppm"))
  }

  /** SOFT deduplication (the keep-but-downweight alternative to
    * dropping duplicates): every document gets a sampling weight
    * 10⁶ DIV |its near-dup cluster| — duplicated content contributes
    * one document's worth of probability mass in total, unique
    * documents keep full weight. The "data-diet without deletion"
    * knob: repetition studies show a few duplicates help and many
    * hurt; soft weights expose that trade-off to the sampler
    * ([[graft.operators.Sampling.weightedByHash]] consumes exactly
    * this column) without destroying data.
    *
    * `ids` is the full corpus id projection; `pairs` any near-dup pair
    * set. Cluster structure comes from [[connectedComponents]]; ids in
    * no pair are their own singleton cluster (weight 10⁶).
    *
    * Scale shape: CC runs only on the (funnel-reduced) pair nodes; the
    * corpus side sees two id-keyed joins against frames bounded by the
    * pair-node count — AQE broadcasts them in the common
    * pairs ≪ corpus regime. Returns
    * (id, cluster_id, cluster_size, weight_micro).
    */
  def softDedupWeights(ids: DataFrame, idCol: String, pairs: DataFrame,
                       idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val cc = connectedComponents(pairs, idA, idB)
    val sizes = cc.groupBy("lbl").agg(count(lit(1)).as("__sz"))
    ids.select(col(idCol))
      .join(cc.withColumnRenamed("v", idCol), Seq(idCol), "left_outer")
      .join(sizes, Seq("lbl"), "left_outer")
      .select(col(idCol),
        coalesce(col("lbl"), col(idCol)).as("cluster_id"),
        coalesce(col("__sz"), lit(1L)).as("cluster_size"))
      .withColumn("weight_micro", expr("1000000L div cluster_size"))
  }

  def canonicalPerCluster(pairs: DataFrame, attrs: DataFrame,
                          idCol: String, qualityCol: String): DataFrame = {
    val members = connectedComponents(pairs)
      .join(attrs.select(col(idCol).as("v"), col(qualityCol).as("__q")), Seq("v"))
    members.groupBy(col("lbl").as("cluster_id"))
      .agg(
        max_by(col("v"), struct(col("__q"), (-col("v")).as("__negid"))).as("kept_id"),
        max(col("__q")).as("kept_quality"),
        count(lit(1)).cast("long").as("n_docs"))
  }
}
