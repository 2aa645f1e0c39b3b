package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for data mixing / rebalancing. */
object Sampling {

  /** Keep the `n` docs per group that rank first by md5(id) — a
    * reproducible uniform-without-replacement sample per group (same
    * result on any cluster size or run).
    *
    * Two-phase for scale: a naive `row_number over (partition by
    * group)` streams EVERY row of a group through one task — a
    * billion-row source is a straggler. Phase 1 ranks within
    * (group, shard) where shard = xxhash64(id) mod `preShards` and
    * keeps n per shard: bounded partitions, and the union provably
    * contains each group's true top-n (any globally-top-n row is also
    * top-n within its own shard). Phase 2 re-ranks the ≤ preShards×n
    * survivors per group — tiny. Returns (idCol, groupCol,
    * sample_rank) with sample_rank ∈ [1, n] in md5 order.
    */
  def stratifiedByHash(df: DataFrame, idCol: String, groupCol: String,
                       n: Int, preShards: Int = 64): DataFrame = {
    require(n >= 1 && preShards >= 1, "n and preShards must be positive")
    val key: Column = md5(col(idCol).cast("string"))
    val pre = Window
      .partitionBy(col(groupCol), pmod(xxhash64(col(idCol)), lit(preShards)))
      .orderBy(key, col(idCol))
    val fin = Window.partitionBy(col(groupCol)).orderBy(key, col(idCol))
    df.select(col(idCol), col(groupCol))
      .withColumn("__pr", row_number().over(pre))
      .filter(col("__pr") <= n)
      .withColumn("sample_rank", row_number().over(fin).cast("long"))
      .filter(col("sample_rank") <= n)
      .select(col(idCol), col(groupCol), col("sample_rank"))
  }

  /** EXACT-PROPORTION STRATIFIED SPLIT (sklearn's
    * train_test_split(stratify=…) at corpus scale): within every
    * stratum, exactly ⌊trainPermille·n_s / 1000⌋ rows go to 'train'
    * and the rest to 'val' — unlike the per-document hash split
    * (q46), which only hits the proportion in expectation and can
    * starve a small stratum entirely. Membership is the md5(id) rank
    * within the stratum, so the split is reproducible, order- and
    * partitioning-independent, and stable under re-runs; adding rows
    * to a stratum reassigns only rows near the cut (the hash-rank
    * prefix property — same discipline as [[mixByBudget]]).
    *
    * Shape: one stratum-keyed rank window + the stratum count over
    * the same partition (one exchange total), a stateless cut.
    * Returns (id, stratum, split). The per-stratum window bounds
    * state by stratum size — the same contract as every grouped
    * ranking here; pre-shard enormous strata with
    * [[stratifiedByHash]]'s two-phase trick if one stratum dominates.
    */
  def stratifiedSplit(df: DataFrame, idCol: String, strataCol: String,
                      trainPermille: Int): DataFrame = {
    require(trainPermille >= 0 && trainPermille <= 1000,
      s"trainPermille must be in [0, 1000], got $trainPermille")
    df.select(col(idCol), col(strataCol).as("stratum"))
      .withColumn("__rn", row_number().over(Window.partitionBy("stratum")
        .orderBy(md5(col(idCol).cast("string")), col(idCol))))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("stratum")))
      .select(col(idCol), col("stratum"),
        when(col("__rn") <= expr(s"($trainPermille * __n) div 1000"), "train")
          .otherwise("val").as("split"))
  }

  /** Deterministic training-order shuffle: a reproducible pseudorandom
    * permutation of the corpus, sharded for parallel writers. shard =
    * first md5 byte mod `numShards`; within a shard rows order by the
    * full md5 (id tie-break) and get a contiguous 1-based sequence.
    * Returns (doc_id, shard, seq) — writing each shard's rows in seq
    * order yields the same global shuffle on any cluster, any run.
    *
    * The per-shard window streams one shard through one reducer BY
    * DESIGN (a shard is one output file's write order); `numShards`
    * sizes that stream at ~corpus/numShards rows. The md5 sort key is
    * uncorrelated with every data attribute, which is the property
    * training-order shuffling exists for.
    */
  def shuffleOrder(df: DataFrame, idCol: String, numShards: Int = 8): DataFrame = {
    require(numShards >= 1 && numShards <= 256,
      s"numShards must be in [1,256], got $numShards")
    val h = md5(col(idCol).cast("string"))
    df.select(col(idCol).as("doc_id"), h.as("__h"),
        (conv(substring(h, 1, 2), 16, 10).cast("int") % numShards).as("shard"))
      .withColumn("seq", row_number()
        .over(Window.partitionBy("shard").orderBy(col("__h"), col("doc_id")))
        .cast("long"))
      .select("doc_id", "shard", "seq")
  }

  /** Token-budget source mixing: cap each source's contribution at
    * `budgetTokens` whitespace tokens, taking docs in deterministic
    * pseudorandom (md5) order until the budget is exhausted — the
    * mixture-rebalancing step that turns per-source weights into an
    * actual subset, reproducibly. A doc is kept while the running
    * per-source token sum INCLUDING it stays ≤ budget. Returns
    * (doc_id, source, n_tokens, cum_tokens) for kept docs.
    *
    * One shuffle on source; the per-source running sum streams a
    * source through one reducer (same bound as sessionization —
    * inherent to an ordered cumulative sum). Mixing runs on the
    * already-curated corpus where per-source volume is a deliberate
    * knob; pre-split a mega-source upstream if one source dwarfs the
    * rest.
    */
  def mixByBudget(df: DataFrame, idCol: String, text: Column, sourceCol: String,
                  budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be non-negative")
    val base = df.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
      graft.functions.TextFunctions.tokenCount(text).as("n_tokens"),
      md5(col(idCol).cast("string")).as("__h"))
    val w = Window.partitionBy("source").orderBy(col("__h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    base.withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= budgetTokens)
      .select("doc_id", "source", "n_tokens", "cum_tokens")
  }

  /** Deterministic importance (weighted Poisson) sampling: keep each
    * row independently with probability min(1, k·w/Σw) — quality- or
    * length-weighted subsampling where the expected sample size is `k`
    * and every run, every cluster size, every engine selects the SAME
    * rows. The coin is pmod(xxhash64(id), 10^6) compared against the
    * inclusion threshold CROSS-MULTIPLIED into integers — keep iff
    * u·Σw < w·k·10^6 — so no floating-point division ever happens and
    * the decision is exact (u is uniform on [0, 10^6) up to the
    * negligible 2^64 mod bias). Rows with w·k ≥ Σw are kept always
    * (true min(1, ·) semantics, no coin needed — the comparison does
    * it naturally).
    *
    * Scale shape: ONE aggregate for Σw rolled into a one-row broadcast
    * (the single-pass scalar rule), then a stateless map-side filter —
    * no shuffle of the corpus at all, the cheapest possible sampling
    * plan. Integer bounds: u·Σw < 10^6·Σw needs Σw < 2^43 (≈8·10^12
    * total weight) — document counts × token weights at 100 TB fit;
    * rescale weights (divide by a constant) past that.
    *
    * Returns (id, weight, u) for kept rows — `u` exposes the coin so
    * downstream audits can re-verify inclusion.
    */
  def weightedByHash(df: DataFrame, idCol: String, weightCol: Column,
                     expectedK: Long): DataFrame = {
    require(expectedK >= 1, s"expectedK must be positive, got $expectedK")
    val M = 1000000L
    val base = df.select(col(idCol).as("doc_id"),
      weightCol.cast("long").as("weight"),
      pmod(xxhash64(col(idCol)), lit(M)).as("u"))
    val total = base.agg(sum("weight").as("__sumw"))
    base.crossJoin(broadcast(total))
      .filter(col("u") * col("__sumw") < col("weight") * lit(expectedK) * lit(M))
      .select("doc_id", "weight", "u")
  }

  /** Temperature-scaled mixture allocation (the XLM-R/mT5 α=0.5
    * upsampling rule): given per-source sizes, derive sampling weights
    * w_s = ⌊√size_s⌋ and apportion an integer token `budget` across
    * sources proportionally — the step BEFORE [[mixByBudget]], which
    * takes the per-source budgets as given. √-scaling damps the
    * head (a 100× larger source gets only 10× the weight) so
    * low-resource sources aren't drowned; the integer square root is
    * EXACT (floor(√n) from the double estimate, then a ±1
    * cross-multiplication correction — no FP boundary can misplace
    * it), and the division uses largest-remainder apportionment:
    * every source gets ⌊B·w/W⌋, and the B − Σ⌊·⌋ leftover units go to
    * the largest remainders (ties broken by source name). Result sums
    * to EXACTLY `budget`, deterministically, on any engine.
    *
    * Scale shape: `perSource` is the output of a map-side-combinable
    * groupBy (one row per source — dozens, not billions); everything
    * after is a one-row broadcast total plus a window over dozens of
    * rows. The weighted projection is persisted (via [[CacheRegistry]]
    * — callers release after their action) because the total and
    * leftover scalars reach the plan as independent broadcast
    * subqueries: without the cache each one re-executes `perSource`'s
    * lineage, i.e. FOUR corpus scans for a dozens-of-rows result
    * (a plan scan audit caught exactly that). With it the corpus is scanned
    * once and every scalar derives from the cached rows.
    *
    * Input: (sourceCol, sizeCol) one row per source, sizes ≥ 0.
    * Returns (source, <sizeCol>, weight, alloc) with Σalloc = budget.
    */
  def allocateBudget(perSource: DataFrame, sourceCol: String, sizeCol: String,
                     budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    val isqrt = {
      val s0 = floor(sqrt(col(sizeCol).cast("double"))).cast("long")
      when((s0 + 1) * (s0 + 1) <= col(sizeCol), s0 + 1)
        .when(s0 * s0 > col(sizeCol), s0 - 1)
        .otherwise(s0)
    }
    val weighted = CacheRegistry.register(
      perSource
        .select(col(sourceCol).as("source"), col(sizeCol), isqrt.as("weight"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val total = weighted.agg(sum("weight").as("__wtot"))
    val quotas = weighted.crossJoin(broadcast(total))
      // `div`, not `/`: Spark's / on BIGINT is fractional (double) and
      // a 1-ULP boundary error would break Σalloc = budget exactness
      .withColumn("__quota",
        expr(s"CAST($budget AS BIGINT) * weight div __wtot"))
      .withColumn("__rem", (lit(budget) * col("weight")) % col("__wtot"))
    val leftover = quotas.agg((lit(budget) - sum("__quota")).as("__leftover"))
    quotas.crossJoin(broadcast(leftover))
      // partitioned by __leftover — one value for every row, so the
      // rank is global, through a real (non-foldable) column: the
      // single partition is bounded by contract (one row per source —
      // dozens), not a corpus-scale reducer
      .withColumn("__rnk", row_number().over(Window
        .partitionBy(col("__leftover"))
        .orderBy(col("__rem").desc, col("source"))))
      .select(col("source"), col(sizeCol), col("weight"),
        (col("__quota") + when(col("__rnk") <= col("__leftover"), 1L)
          .otherwise(0L)).as("alloc"))
  }

  /** STRATIFIED k-FOLD assignment — cross-validation folds at corpus
    * scale: within each stratum, rows take folds round-robin in
    * md5(id)-rank order, so every fold holds ⌈n_s/k⌉ or ⌊n_s/k⌋ rows
    * of EVERY stratum (the exact-proportion guarantee
    * [[stratifiedSplit]] gives for one cut, extended to k disjoint
    * folds), deterministically under any partitioning. fold is
    * 0-based. One stratum-keyed exchange, rank window inside.
    */
  def stratifiedKFold(df: DataFrame, idCol: String, stratumCol: String,
                      k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val w = Window.partitionBy(stratumCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("fold", ((row_number().over(w) - 1) % k).cast("long"))
  }

  /** CLUSTER-BALANCED deterministic subsample: at most `maxPerCluster`
    * rows from each cluster, chosen by md5(id) rank (id tie-break) —
    * the diversity-preserving leg of a SemDeDup-style pipeline: after
    * clustering, a uniform sample re-concentrates on the biggest
    * clusters; capping per cluster keeps the long tail represented.
    * Deterministic under any partitioning (the md5 order is a value),
    * and engine-replicable. One cluster-keyed exchange, rank window
    * inside each cluster. Returns the input rows plus `sample_rank`.
    */
  def balancedByCluster(df: DataFrame, idCol: String, clusterCol: String,
                        maxPerCluster: Int): DataFrame = {
    require(maxPerCluster >= 1,
      s"maxPerCluster must be positive, got $maxPerCluster")
    val w = Window.partitionBy(clusterCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= maxPerCluster)
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how much more likely its hashed-token features are
    * under a TARGET corpus's distribution than under the raw corpus's
    * own — log w(x) = Σ_b c_b(x)·(log p_t(b) − log p_r(b)), the
    * bucket-level log-likelihood ratio DSIR resamples by. Buckets are
    * [[Tokenization.featureHash]]'s hashing trick — xxhash64(token)
    * mod `dims`, power of two so the signed pmod equals the unsigned
    * residue on any engine — and both distributions are add-one
    * smoothed over the `dims` buckets.
    *
    * EXACT integer arithmetic end to end ([[LanguageModel]]'s
    * portability discipline, at likelihood-RATIO precision): the
    * whole-bit floor-log2 that serves surprisal ranking is too coarse
    * here — λ lives in fractions of a bit (shared vocabulary puts
    * most buckets within ±1 bit of parity, and a ±1-bit floor grain
    * collapses the score to a constant at realistic `dims`; measured
    * on the fixture). Each log term is instead
    * [[graft.functions.IntMath]]'s fixed-point log2 — a deterministic
    * integer squaring recurrence to 2^-10-bit grain whose step list
    * is SHARED with the oracle SQL, so λ_b = log2q(p_t(b)) −
    * log2q(p_r(b)) is bit-identical on any partitioning or engine.
    * The score ranks and filters; it is not a calibrated likelihood.
    *
    * Scale shape: ONE explode of the raw corpus into a map-side-
    * combinable (doc, bucket) count, persisted under [[CacheRegistry]]
    * when `persistFeatures` (it feeds the raw bucket census AND the
    * score join — without it the corpus tokenizes twice); the target —
    * typically a small quality corpus — explodes separately; the λ
    * table is ≤ `dims` rows and broadcasts; the final aggregate is
    * doc-keyed. No vocabulary table anywhere (the hashing trick's
    * point). Totals reach the λ table as 1-row broadcasts.
    *
    * Eagerness: with `dims <= driverMaxDims` (the default) the two
    * bucket censuses (raw and target) are collected to the driver when
    * the frame is built, so calling this runs two Spark jobs over the
    * whole corpus — and, with `persistFeatures`, fills the `docB`
    * cache — before any action on the result.
    *
    * Returns (doc_id, n_tokens, logw_1024ths, avg_millibits) —
    * logw_1024ths is Σ c_b·λ_b in 2^-10 bits, avg_millibits =
    * (1000·logw_1024ths) div (1024·n_tokens) the length-normalized
    * selection score in millibits/token; `div` truncates toward zero
    * in Spark and DuckDB alike, so negative weights stay portable.
    * Docs with no tokens produce no row (no evidence — route them
    * through a length filter, the [[LanguageModel.bigramSurprisal]]
    * contract). Counts must stay below 2^61 ([[IntMath]]'s input
    * bound — ~2.3e18 tokens, past any corpus). Select with
    * orderBy(desc).limit(k) (greedy top-k) or shift weights positive
    * into [[weightedByHash]] for sampled selection.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
                  text: Column, dims: Int = 1024,
                  persistFeatures: Boolean = true,
                  driverMaxDims: Int = 1 << 16): DataFrame = {
    require(dims >= 2 && (dims & (dims - 1)) == 0,
      s"dims must be a power of two, got $dims")
    def bucket(t: Column): Column = pmod(xxhash64(t), lit(dims.toLong))
    val docBRaw = raw
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.TextFunctions.tokens(text)).as("__t"))
      .select(col("doc_id"), bucket(col("__t")).as("__b"))
      .groupBy("doc_id", "__b").agg(count(lit(1)).as("__c"))
    val docB =
      if (persistFeatures)
        CacheRegistry.register(docBRaw
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else docBRaw
    val rawB = docB.groupBy("__b").agg(sum("__c").as("__cr"))
    val tgtB = target
      .select(explode(graft.functions.TextFunctions.tokens(text)).as("__t"))
      .select(bucket(col("__t")).as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("__ct"))
    // λ TABLE ON THE DRIVER when it is provably tiny: the table is ≤
    // `dims` rows BY CONSTRUCTION (bucket = hash mod dims), so for the
    // practical dims range the two bucket censuses collect bounded
    // state (the perceptron-delta / BPE-argmax precedent: driver reads
    // bounded by a declared parameter, never by data). The fixed-point
    // log2 is [[graft.functions.IntMath.fracLog2Ref]] — the committed
    // Scala REFERENCE the fracLog2Col spec asserts bit-equality
    // against — so both paths are identical by the same contract that
    // makes the metric oracle-gate-able. This removes the ~80-column
    // generated step chain whose planning/codegen/per-task
    // deserialization dominated the gate (measured r16: 0.5 s analysis
    // + 2 s driver build + 3.6 s task deser at sf0.1), plus two 1-row
    // total aggregates and two crossJoins. Beyond the driver bound —
    // or on any future wide-dims call — the distributed chain runs
    // unchanged.
    val lam: DataFrame =
      if (dims <= driverMaxDims) {
        val rawArr = rawB.collect().map(r => (r.getLong(0), r.getLong(1)))
        val tgtMap = tgtB.collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val nrV = rawArr.map(_._2).sum
        val ntV = tgtMap.values.sum
        import graft.functions.IntMath.fracLog2Ref
        val rows = rawArr.toSeq.map { case (b, cr) =>
          val lt = fracLog2Ref(tgtMap.getOrElse(b, 0L) + 1, ntV + dims)
          val lr = fracLog2Ref(cr + 1, nrV + dims)
          (b, lt - lr)
        }
        val spark = raw.sparkSession
        import spark.implicits._
        rows.toDF("__b", "__lam")
      } else {
        val nr = rawB.agg(sum("__cr").as("__nr"))
        val nt = tgtB.agg(coalesce(sum("__ct"), lit(0L)).as("__nt"))
        // target-only buckets can never join a raw doc's features, so
        // the λ table only needs rawB's buckets (left join, absent
        // target → 0)
        val lamBase = rawB
          .join(tgtB, Seq("__b"), "left_outer")
          .na.fill(0L, Seq("__ct"))
          .crossJoin(broadcast(nr)).crossJoin(broadcast(nt))
          .withColumn("__at", col("__ct") + 1)
          .withColumn("__bt", col("__nt") + dims)
          .withColumn("__ar", col("__cr") + 1)
          .withColumn("__br", col("__nr") + dims)
        graft.functions.IntMath.fracLog2Col(
            graft.functions.IntMath.fracLog2Col(lamBase, "__at", "__bt", "__lt"),
            "__ar", "__br", "__lr")
          .withColumn("__lam", col("__lt") - col("__lr"))
          .select("__b", "__lam")
      }
    docB.join(broadcast(lam), Seq("__b"))
      .groupBy("doc_id")
      .agg(sum("__c").cast("long").as("n_tokens"),
        sum(col("__c") * col("__lam")).cast("long").as("logw_1024ths"))
      .withColumn("avg_millibits",
        expr("(1000 * logw_1024ths) div (1024 * n_tokens)"))
  }
}
