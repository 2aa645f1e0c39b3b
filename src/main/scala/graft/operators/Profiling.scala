package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality profiling (Deequ-style): the audit pass a pipeline
  * runs before trusting 100 TB of input.
  */
object Profiling {

  /** Per-column profile — row count, null count, distinct count,
    * min/max (rendered as strings so heterogeneous columns share one
    * schema) — computed in ONE aggregate over ONE scan: the per-column
    * stats are parallel aggregate expressions, and the wide result row
    * is reshaped long (one row per column) with a local inline — no
    * second pass, no per-column scans.
    *
    * `approxDistinct = false` (default) uses exact count(DISTINCT):
    * Spark plans the multi-distinct aggregate with an Expand that
    * multiplies scanned rows by the number of profiled columns — exact
    * answers, #cols × the shuffle volume. At 100 TB pass `true`:
    * approx_count_distinct (HLL++, ±5%) keeps the plan a plain
    * single-pass partial aggregate with bounded state, the same
    * accuracy contract the sketch gates (q79/q80) verify.
    *
    * Returns (col_name, n_rows, n_null, n_distinct, min_val, max_val).
    */
  def columnProfile(df: DataFrame, cols: Seq[String],
                    approxDistinct: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    def nd(c: String): Column =
      if (approxDistinct) approx_count_distinct(col(c)) else countDistinct(col(c))
    val aggs: Seq[Column] = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"), nd(c).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("col_name"), col("__n").as("n_rows"),
        (col("__n") - col(s"__nn_$c")).as("n_null"),
        col(s"__nd_$c").cast("long").as("n_distinct"),
        col(s"__min_$c").as("min_val"), col(s"__max_$c").as("max_val"))
    }
    wide.select(inline(array(rows: _*)))
  }

  /** EQUI-DEPTH binning per group (the quantile bucketizer of feature
    * engineering, the histogram q43's equi-WIDTH bins can't give on
    * skewed data): split each group's rows into `numBins` rank bins of
    * near-equal population via ntile over the strict total order
    * (value, tie), and report each bin's population and value range.
    * The bin boundaries double as exact per-group quantile estimates
    * (bin k's max ≈ the k/numBins quantile).
    *
    * Deterministic: ntile's larger-bins-first remainder rule is ANSI
    * fixed, and the (value, tie) order is strict — identical output
    * on any engine/partitioning. One shuffle (the group window); the
    * per-bin aggregate reuses the same partitioning prefix. A group
    * is one window partition — the same per-key size bound as any
    * sessionization; for a GLOBAL binning at 100 TB, range-partition
    * first and bin within ranges, or use approx_percentile cutpoints.
    *
    * Returns (group, bin, n_rows, lo, hi).
    */
  def equiDepthBins(df: DataFrame, groupCol: String, value: Column,
                    tieCol: String, numBins: Int = 10): DataFrame = {
    require(numBins >= 2, s"numBins must be >= 2, got $numBins")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(col("__v"), col(tieCol))
    df.select(col(groupCol), value.as("__v"), col(tieCol))
      .withColumn("bin", ntile(numBins).over(w))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("__v")).as("lo"), max(col("__v")).as("hi"))
      .select(col(groupCol), col("bin").cast("long").as("bin"),
        col("n_rows"), col("lo"), col("hi"))
  }

  /** CONFUSION MATRIX of a categorical prediction against truth — the
    * evaluation primitive for the pipeline's own classifiers
    * (language ID, quality tiers, topic labels): per (label, pred)
    * cell, the count and its share of the label's row (= the recall
    * decomposition; column shares give precision — derive from the
    * same cells). One map-side-combinable count + a label-keyed
    * normalization join; exact integer milli shares. Returns
    * (label, pred, n, row_frac_milli).
    */
  def confusionMatrix(df: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val cells = df.groupBy(col(labelCol).as("label"), col(predCol).as("pred"))
      .agg(count(lit(1)).as("n"))
    val rows = cells.groupBy("label").agg(sum("n").as("__rt"))
    cells.join(rows, Seq("label"))
      .select(col("label"), col("pred"), col("n"),
        expr("(1000 * n) div __rt").as("row_frac_milli"))
  }

  /** EXACT ROC-AUC by rank-sum (Mann–Whitney U) — the
    * threshold-free acceptance metric for the engine's own scorers
    * (quality classifiers, LM surprisal, dedup scores): the
    * probability a random positive outscores a random negative, ties
    * counting half. Computed exactly in integers, no sampling, no
    * ROC curve materialization:
    *
    *   AUC · 2·P·N = Σ_v  p_v · (2·negBelow_v + n_v)
    *
    * over the DISTINCT-SCORE census (p_v/n_v = positives/negatives
    * at score v, negBelow_v = negatives strictly below). Equal
    * scores collapse into one census row, so there is no tie-order
    * dependence at all — bit-identical on any engine/partitioning.
    *
    * Scale shape: one map-side-combinable census shuffle (rows =
    * distinct (group, score) pairs — the operator contract is
    * quantized scores, which every engine score already is: ppm/
    * milli integers bound the census at the quantization grain, NOT
    * the corpus size), a cumulative window over that census, one
    * final aggregate. With `groupCols` the window is partitioned;
    * ungrouped, the unpartitioned window runs over the bounded
    * census only. Exact while 10^6·2·P·N < 2^63 (≈ 4·10^6 balanced
    * rows per group; beyond that drop to per-mille). Returns one row
    * per group: (groups..., n_pos, n_neg, auc_ppm) — auc_ppm null
    * when a group lacks one of the classes (AUC is undefined there).
    */
  def aucExact(df: DataFrame, labelCol: String, scoreCol: String,
               groupCols: Seq[String] = Nil): DataFrame = {
    val gs = groupCols.map(col)
    val census = df
      .select(gs :+ col(scoreCol).as("__s") :+
        col(labelCol).cast("long").as("__y"): _*)
      .groupBy(gs :+ col("__s"): _*)
      .agg(sum(col("__y")).as("__np"),
        sum(lit(1L) - col("__y")).as("__nn"))
    val base =
      if (groupCols.isEmpty) Window.orderBy(col("__s"))
      else Window.partitionBy(gs: _*).orderBy(col("__s"))
    val below = base.rowsBetween(Window.unboundedPreceding, -1)
    census
      .withColumn("__below", coalesce(sum(col("__nn")).over(below), lit(0L)))
      .groupBy(gs: _*)
      .agg(sum("__np").as("n_pos"), sum("__nn").as("n_neg"),
        sum(expr("__np * (2 * __below + __nn)")).as("__num2"))
      .select(gs ++ Seq(col("n_pos"), col("n_neg"),
        expr("(1000000 * __num2) div nullif(2 * n_pos * n_neg, 0)")
          .as("auc_ppm")): _*)
  }

  /** VOCABULARY GROWTH CURVE (Heaps' law census) — distinct types
    * seen vs tokens read, in corpus order: the corpus-analysis
    * signal behind "is more data still adding vocabulary", tokenizer
    * sizing, and dedup sanity (a growth curve that suddenly flattens
    * means the crawl started re-reading itself). Token positions are
    * GLOBAL: per-doc token counts run through
    * [[Relational.globalPrefixSum]] (the two-level distributed scan —
    * no unpartitioned window over the corpus), each type's FIRST
    * global position is a min-aggregate, and first-positions bucket
    * into `bucketTokens`-sized bins. Exact and deterministic for any
    * partitioning; doc order = `idCol` ascending.
    *
    * Scale shape: the tokenized frame is persisted once (it feeds
    * both the count census and the position explode); the explode is
    * the one corpus-sized pass (min partial-aggregates map-side);
    * the final cumulative window runs over #buckets rows — size the
    * bucket so buckets stay ≤ ~10⁶ (it is the OUTPUT resolution, not
    * a precision knob). Returns (bucket, bucket_start, new_types,
    * cum_types) for buckets containing ≥1 first occurrence.
    */
  def vocabGrowth(df: DataFrame, idCol: String, text: Column,
                  bucketTokens: Long = 1000L): DataFrame = {
    require(bucketTokens >= 1, s"bucketTokens must be positive, got $bucketTokens")
    val toks = CacheRegistry.persist(
      df.select(col(idCol).as("__id"),
        graft.functions.TextFunctions.tokens(text).as("__t")))
    val counts = toks.select(col("__id"), size(col("__t")).cast("long").as("__n"))
    val offs = Relational.globalPrefixSum(counts, "__id", "__n", "__off")
    val first = toks
      .join(offs.select(col("__id"), col("__off")), Seq("__id"))
      .select(col("__off"), posexplode(col("__t")))
      .groupBy(col("col").as("__w"))
      .agg(min(col("__off") + col("pos")).as("__fp"))
    val perBucket = first
      .groupBy(expr(s"__fp div $bucketTokens").as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val wb = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perBucket
      .select(col("bucket").cast("long").as("bucket"),
        (col("bucket") * bucketTokens).cast("long").as("bucket_start"),
        col("new_types"),
        sum(col("new_types")).over(wb).cast("long").as("cum_types"))
  }

  /** ZIPF RANK-FREQUENCY FIT — the second classic corpus-statistics
    * law next to Heaps' ([[vocabGrowth]]): least-squares slope of
    * log2(freq) against log2(rank) over the top-`topN` vocabulary, a
    * one-number "is this corpus natural language" signal (natural
    * text slopes ≈ −1; templated/generated text is flatter or
    * steeper). EXACT integer end to end: both logs are
    * [[graft.functions.IntMath]]'s fixed-point log2 recurrence
    * (2^-fracBits grain, the same generated step list replayable in
    * any engine), the normal-equation sums are plain integer
    * aggregates, and the slope is one integer division (both engines
    * truncate toward zero, negative numerators included — the q209
    * adjudication).
    *
    * Scale shape: one corpus explode + vocab census (map-side
    * combinable), then `orderBy.limit(topN)` — TakeOrdered, never a
    * full sort — and everything after runs on ≤ topN rows (the rank
    * window's input is capped by the LIMIT; PlanLint-declared). The
    * fixed-point ranges bound every sum far under 2⁶³ for topN ≤ 2¹⁴.
    *
    * Returns one row: (n_points, sum_x, sum_y, sum_xx, sum_xy, num,
    * den, slope_milli) — the components gated alongside the slope so
    * a drift anywhere in the recurrence is visible, slope_milli =
    * ⌊1000·(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)⌋ toward zero.
    */
  def zipfFit(df: DataFrame, text: Column, topN: Int = 128,
              fracBits: Int = 10): DataFrame = {
    require(topN >= 3, s"topN must be at least 3, got $topN")
    val vocab = df
      .select(explode(graft.functions.TextFunctions.tokens(text)).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__f"))
      .orderBy(col("__f").desc, col("__w")).limit(topN)
    val w = Window.orderBy(col("__f").desc, col("__w"))
    val ranked = vocab
      .withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__one", lit(1L))
    val withX = graft.functions.IntMath.fracLog2Col(
      ranked, "__r", "__one", "__x", fracBits)
    val withY = graft.functions.IntMath.fracLog2Col(
      withX, "__f", "__one", "__y", fracBits)
    withY.agg(
      count(lit(1)).as("n_points"),
      sum("__x").as("sum_x"), sum("__y").as("sum_y"),
      sum(expr("__x * __x")).as("sum_xx"),
      sum(expr("__x * __y")).as("sum_xy"))
      .withColumn("num", expr("n_points * sum_xy - sum_x * sum_y"))
      .withColumn("den", expr("n_points * sum_xx - sum_x * sum_x"))
      .withColumn("slope_milli", expr("(1000 * num) div den"))
  }

  /** SHANNON ENTROPY of a keyed categorical distribution, per group,
    * in fixed-point bits — the vocabulary-diversity / monoculture
    * dial next to Gini (q198): low token entropy flags templated or
    * machine-generated text, per-source entropy drift flags a crawl
    * source going stale. Exact integer end to end via the algebraic
    * form that needs only logs of COUNTS (never of fractions):
    *
    *   H = log2 N − (Σ_k c_k·log2 c_k) / N
    *
    * with every log2 the [[graft.functions.IntMath]] fixed-point
    * recurrence (2^-10-bit grain) and the final division integer —
    * bit-identical on any engine. Scale shape: one census shuffle
    * (map-side combinable), the per-distinct-key log recurrence as a
    * codegen'd expression chain, one per-group aggregate, then the
    * group-frame log. Returns (group, n_rows, n_keys, h_1024ths).
    */
  def entropyBits(df: DataFrame, groupCol: String, key: Column): DataFrame = {
    val census = df
      .groupBy(col(groupCol).as("group"), key.as("__k"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__one", lit(1L))
    val withL = graft.functions.IntMath.fracLog2Col(census, "__c", "__one", "__lc")
    val agg = withL.groupBy("group")
      .agg(sum("__c").as("n_rows"), count(lit(1)).as("n_keys"),
        sum(expr("__c * __lc")).as("__s"))
      .withColumn("__one", lit(1L))
    graft.functions.IntMath.fracLog2Col(agg, "n_rows", "__one", "__ln")
      .select(col("group"), col("n_rows"), col("n_keys"),
        expr("__ln - __s div n_rows").as("h_1024ths"))
  }

  /** COHEN'S KAPPA — chance-corrected agreement between two
    * categorical labelings of the same rows (two annotators, two
    * classifier versions, a model vs a heuristic): the standard
    * "is the new labeler actually agreeing beyond chance" statistic
    * for label-quality audits. Exact integers via the common-
    * denominator form (N = rows, agree = matching rows, a_k/b_k =
    * each side's per-category counts):
    *
    *   κ = (p_o − p_e)/(1 − p_e)
    *     = (N·agree − Σ_k a_k·b_k) / (N² − Σ_k a_k·b_k)
    *
    * kappa_milli = ⌊1000·num / den⌋ toward zero (negative κ — worse
    * than chance — included; both engines truncate alike), null when
    * den = 0 (both sides constant and identical — κ undefined).
    * Exact while 1000·N² < 2⁶³ (~3·10⁹ rows). Scale shape: one
    * agreement count + two per-category censuses joined full-outer
    * (absent categories contribute 0), all map-side combinable; the
    * chance term is a category-table-sized fold. Returns one row:
    * (n_rows, n_agree, agree_milli, kappa_milli).
    */
  def cohenKappa(df: DataFrame, predA: Column, predB: Column): DataFrame = {
    val base = CacheRegistry.persist(
      df.select(predA.as("__a"), predB.as("__b")))
    val totals = base.agg(count(lit(1)).as("__n"),
      sum(when(col("__a") === col("__b"), 1L).otherwise(0L)).as("__agree"))
    val ca = base.groupBy(col("__a").as("__k")).agg(count(lit(1)).as("__ca"))
    val cb = base.groupBy(col("__b").as("__k")).agg(count(lit(1)).as("__cb"))
    val chance = ca.join(cb, Seq("__k"), "full_outer")
      .na.fill(0L, Seq("__ca", "__cb"))
      .agg(sum(expr("__ca * __cb")).as("__e"))
    totals.crossJoin(broadcast(chance))
      .select(col("__n").as("n_rows"), col("__agree").as("n_agree"),
        expr("(1000 * __agree) div __n").as("agree_milli"),
        expr("(1000 * (__n * __agree - __e)) div nullif(__n * __n - __e, 0)")
          .as("kappa_milli"))
  }

  /** TWO-SAMPLE KOLMOGOROV–SMIRNOV statistic — the CONTINUOUS-score
    * twin of [[distributionDrift]]'s categorical TVD: the largest
    * gap between the two samples' empirical CDFs, the standard "did
    * this score distribution move between snapshots / sources /
    * model versions" test. Exact integers over the common
    * denominator n_a·n_b:
    *
    *   D_ppm = max_v 10⁶·|cumA(v)·n_b − cumB(v)·n_a| div (n_a·n_b)
    *
    * evaluated at every distinct score value of either sample (the
    * ECDF only jumps there, so the max over values IS the supremum).
    * Same census discipline as [[aucExact]]: the cumulative window
    * runs over the distinct-score census — bounded by the score
    * quantization grain, not the corpus — and the same exactness
    * bound (10⁶·n_a·n_b < 2⁶³ ≈ 3·10⁶ rows per side at ppm; drop to
    * per-mille beyond). Ties across samples land on one census row;
    * the reported location is the SMALLEST score attaining the max
    * (deterministic under ties).
    *
    * Returns one row: (n_a, n_b, d_ppm, at_score).
    */
  def ksTest(a: DataFrame, b: DataFrame, scoreCol: String): DataFrame = {
    val ca = a.select(col(scoreCol).as("__s")).groupBy("__s")
      .agg(count(lit(1)).as("__ca"))
    val cb = b.select(col(scoreCol).as("__s")).groupBy("__s")
      .agg(count(lit(1)).as("__cb"))
    val merged = ca.join(cb, Seq("__s"), "full_outer")
      .na.fill(0L, Seq("__ca", "__cb"))
    val w = Window.orderBy(col("__s")).rowsBetween(Window.unboundedPreceding, 0)
    val cum = merged
      .withColumn("__cumA", sum("__ca").over(w))
      .withColumn("__cumB", sum("__cb").over(w))
    val totals = merged.agg(sum("__ca").as("__na"), sum("__cb").as("__nb"))
    cum.crossJoin(broadcast(totals))
      .select(col("__s"), col("__na"), col("__nb"),
        abs(col("__cumA") * col("__nb") - col("__cumB") * col("__na"))
          .as("__gap"))
      .groupBy(col("__na").as("n_a"), col("__nb").as("n_b"))
      .agg(max("__gap").as("__mg"),
        min_by(col("__s"), struct(negate(col("__gap")), col("__s")))
          .as("at_score"))
      .select(col("n_a"), col("n_b"),
        expr("(1000000 * __mg) div (n_a * n_b)").as("d_ppm"),
        col("at_score"))
  }

  /** CATEGORICAL DISTRIBUTION DRIFT between two snapshots (training-
    * data shift detection — "did this source's language/topic/label
    * mix move since the last crawl"): per-category counts on both
    * sides plus each category's contribution to the total-variation
    * distance, all in EXACT integer arithmetic over the common
    * denominator n_a·n_b:
    *
    *   TVD = ½ Σ_c |p_a(c) − p_b(c)|
    *   tvd_contrib_ppm(c) = (10^6 · |c_a·n_b − c_b·n_a|) div (2·n_a·n_b)
    *
    * Integer sums commute → bit-identical on any engine/partitioning;
    * Σ contributions recovers the (floor-quantized) corpus TVD.
    * Sound for snapshots up to ~10^6 rows per side with the 10^6 ppm
    * scale (10^6·n_a·n_b < 2^63); beyond that, divide counts by a
    * common power of 10 first — TVD is scale-invariant.
    *
    * Scale shape: one map-side-combinable count per side, a
    * full-outer join on the category (absent categories count 0 —
    * their mass is pure drift), two broadcast scalar totals. Returns
    * one row per category in either snapshot:
    * (category, n_a, n_b, tvd_contrib_ppm).
    */
  def distributionDrift(a: DataFrame, b: DataFrame, category: Column): DataFrame = {
    val ca = a.select(category.as("category")).groupBy("category")
      .agg(count(lit(1)).as("n_a"))
    val cb = b.select(category.as("category")).groupBy("category")
      .agg(count(lit(1)).as("n_b"))
    val ta = ca.agg(sum("n_a").as("__ta"))
    val tb = cb.agg(sum("n_b").as("__tb"))
    ca.join(cb, Seq("category"), "full_outer")
      .na.fill(0L, Seq("n_a", "n_b"))
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
      .select(col("category"), col("n_a"), col("n_b"),
        expr("(1000000 * abs(n_a * __tb - n_b * __ta)) div (2 * __ta * __tb)")
          .as("tvd_contrib_ppm"))
  }

  /** SKEW DIAGNOSIS — the operational pre-flight for any join or
    * aggregation key at 100 TB: which keys are hot, how hot relative
    * to the mean, and what salt factor would level them. Per top key:
    *
    *   - `share_ppm`    = 10⁶·n DIV total rows
    *   - `skew_x_milli` = 10³·n DIV mean rows-per-key (1000 = average)
    *   - `salt_factor`  = ⌈n / mean⌉ — the number of salt buckets that
    *     brings this key's per-bucket share back to the mean (feed it
    *     to a salted-join/[[graft.operators.Relational]] salted
    *     collect, or trust AQE's skew split and use this as evidence)
    *
    * All integer arithmetic over one map-side-combinable count
    * aggregate; the report is a TakeOrdered top-k — no global sort,
    * no second scan. Returns (key, n_rows, share_ppm, skew_x_milli,
    * salt_factor), heaviest first.
    */
  def skewReport(df: DataFrame, keyCol: Column, topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be positive, got $topK")
    val counts = df.select(keyCol.as("key")).groupBy("key")
      .agg(count(lit(1)).as("n_rows"))
    val tot = counts.agg(sum("n_rows").as("__t"), count(lit(1)).as("__k"))
    counts.crossJoin(broadcast(tot))
      .select(col("key"), col("n_rows"),
        expr("(1000000 * n_rows) div __t").as("share_ppm"),
        expr("(1000 * n_rows * __k) div __t").as("skew_x_milli"),
        expr("(n_rows * __k + __t - 1) div __t").as("salt_factor"))
      .orderBy(col("n_rows").desc, col("key"))
      .limit(topK)
  }

  /** Pairwise Jaccard overlap of per-group item SETS — corpus-level
    * similarity audit ("how much vocabulary do two sources share",
    * "which two crawls cover the same hosts"): the group-granularity
    * complement of the per-document dedup operators. Returns one row
    * per unordered group pair (a < b):
    * (group_a, group_b, n_a, n_b, n_inter, jaccard_ppm).
    *
    * Scale shape: one distinct projection; the intersection self-join
    * keys on the ITEM, and each item's fan-out is bounded by the
    * number of groups it appears in (≤ |groups|, a small constant) —
    * so the intermediate is ≤ |distinct links| × |groups|, never
    * item-frequency-quadratic. Sizes broadcast; no row of raw data is
    * shuffled twice.
    */
  def groupSetOverlap(df: DataFrame, groupCol: Column, itemCol: Column): DataFrame = {
    // feeds the size census and both intersection sides — one distinct,
    // cached under the CacheRegistry lifecycle
    val links = CacheRegistry.persist(
      df.select(groupCol.as("g"), itemCol.as("i")).distinct())
    val sizes = links.groupBy("g").agg(count(lit(1)).as("n"))
    val inter = links.as("x").join(links.as("y"),
        col("x.i") === col("y.i") && col("x.g") < col("y.g"))
      .groupBy(col("x.g").as("group_a"), col("y.g").as("group_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(broadcast(sizes.select(col("g").as("group_a"), col("n").as("n_a"))),
        Seq("group_a"))
      .join(broadcast(sizes.select(col("g").as("group_b"), col("n").as("n_b"))),
        Seq("group_b"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("n_inter"),
        expr("(1000000 * n_inter) div (n_a + n_b - n_inter)").as("jaccard_ppm"))
  }

  /** COMPRESSION-RATIO quality signal (Gopher/FineWeb family): deflate
    * each document and report compressed/raw in milli — highly
    * repetitive or templated text compresses far below natural prose,
    * a cheap single-pass junk signal orthogonal to the heuristic and
    * LM scores. Runs as `mapPartitions` over the JVM's zlib Deflater
    * (fixed level + strategy → deterministic bytes for a given zlib
    * build — a non-JVM engine carries a different zlib, so this
    * operator is spec-gated for determinism/ordering while the
    * hash-gated q183 runs [[byteCompressibility]], the cross-engine-
    * exact restatement of the same signal).
    *
    * Scale shape: stateless per-row work, zero shuffle, CPU-bound —
    * exactly what executors parallelize perfectly; at 100 TB wire it
    * after the cheap length filters so the Deflater only sees
    * survivors. Returns (doc_id, n_raw_bytes, n_deflate_bytes,
    * ratio_milli) with ratio_milli = 1000·deflate DIV raw (0-byte
    * docs report ratio 0).
    */
  def compressionRatio(df: DataFrame, idCol: String, text: Column,
                       level: Int = 6): DataFrame = {
    require(level >= 1 && level <= 9, s"level must be in [1,9], got $level")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_raw_bytes", LongType, nullable = false),
      StructField("n_deflate_bytes", LongType, nullable = false),
      StructField("ratio_milli", LongType, nullable = false)))
    df.select(col(idCol).cast("long").as("doc_id"), text.as("__t"))
      .mapPartitions { it =>
        // ONE Deflater per partition, reset per row — allocation-free
        // in the loop, the shape a native codec wrapper would use
        val d = new java.util.zip.Deflater(level)
        it.map { r =>
          val raw = Option(r.getString(1)).getOrElse("")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          d.reset(); d.setInput(raw); d.finish()
          var out = 0L
          val buf = new Array[Byte](8192)
          while (!d.finished()) out += d.deflate(buf)
          val ratio = if (raw.length == 0) 0L else 1000L * out / raw.length
          Row(r.getLong(0), raw.length.toLong, out, ratio)
        }
      }(Encoders.row(schema))
  }

  /** BYTE-LEVEL COMPRESSIBILITY PROXY — the cross-engine-exact sibling
    * of [[compressionRatio]]: run-length and distinct-byte statistics
    * over the document's UTF-8 bytes, all integer arithmetic, so the
    * signal hash-verifies against any SQL engine (zlib output is a
    * library-build contract; these stats are a math contract). Per doc:
    *
    *   - `n_raw_bytes`       UTF-8 length
    *   - `n_runs`            maximal equal-byte runs (the RLE token
    *                         count — templated/repetitive text has few)
    *   - `n_distinct_bytes`  alphabet size (≤ 256; low = low entropy)
    *   - `rle_ratio_milli`   1000·2·n_runs DIV n_raw — the size of a
    *                         2-bytes-per-run RLE encoding vs raw; the
    *                         ordering mirrors deflate's on the
    *                         repetition axis (empty doc → 0)
    *
    * Shape: pure per-row codegen'd expressions over a hex projection —
    * one regexp byte-split, one zip_with run count, one array_distinct;
    * zero shuffle, embarrassingly parallel at any scale.
    */
  def byteCompressibility(df: DataFrame, idCol: String, text: Column): DataFrame = {
    val bytes = regexp_extract_all(hex(encode(text, "UTF-8")), lit(".."), lit(0))
    val out = df
      .select(col(idCol).cast("long").as("doc_id"), bytes.as("__ba"))
      .select(col("doc_id"), col("__ba"),
        size(col("__ba")).cast("long").as("n_raw_bytes"))
      .select(col("doc_id"), col("n_raw_bytes"),
        when(col("n_raw_bytes") === 0, 0L).otherwise(
          size(filter(
            zip_with(
              slice(col("__ba"), lit(1), greatest(size(col("__ba")) - 1, lit(0))),
              slice(col("__ba"), lit(2), greatest(size(col("__ba")) - 1, lit(0))),
              (x, y) => x =!= y),
            b => b)).cast("long") + 1L).as("n_runs"),
        size(array_distinct(col("__ba"))).cast("long").as("n_distinct_bytes"))
    out.select(col("doc_id"), col("n_raw_bytes"), col("n_runs"),
      col("n_distinct_bytes"),
      when(col("n_raw_bytes") === 0, 0L)
        .otherwise(expr("(2000 * n_runs) div n_raw_bytes"))
        .as("rle_ratio_milli"))
  }

  /** GINI CONCENTRATION of a weight across groups — "how skewed is
    * the corpus across sources/domains/shards" as one exact-integer
    * number: 0 = perfectly even, →10⁶ = one group holds everything.
    * The classic rank-sum form G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over
    * groups ranked ascending by (weight, group), in ppm with floored
    * integer division — both terms replicate on any engine.
    *
    * Ranks come from an inequality SELF-JOIN of the group-sized frame
    * (n² pairs of a frame that is groups-sized — dozens), NOT a global
    * window: the frame is bounded by the group cardinality by
    * contract, and the join keeps the plan lint-clean. Returns one row
    * (n_groups, total_weight, gini_ppm).
    */
  def giniConcentration(df: DataFrame, groupCol: Column, weight: Column): DataFrame = {
    val s = df.select(groupCol.as("g"), weight.cast("long").as("w"))
      .groupBy("g").agg(sum("w").as("x"))
    val ranked = s.as("a").join(s.as("b"),
        col("b.x") < col("a.x") ||
          (col("b.x") === col("a.x") && col("b.g") <= col("a.g")))
      .groupBy(col("a.g").as("g"), col("a.x").as("x"))
      .agg(count(lit(1)).as("i"))
    ranked.agg(count(lit(1)).as("n_groups"),
        sum("x").as("total_weight"),
        sum(col("i") * col("x")).as("__ix"))
      .select(col("n_groups"), col("total_weight"),
        (expr("(2 * __ix * 1000000) div (n_groups * total_weight)")
          - expr("((n_groups + 1) * 1000000) div n_groups")).as("gini_ppm"))
  }

  /** 2-D Pareto frontier (skyline): the distinct (x, y) points not
    * DOMINATED by any other — `p` dominates `q` iff p.x ≥ q.x ∧
    * p.y ≥ q.y with at least one strict — the multi-criteria selection
    * primitive ("newest AND highest-value", "highest-quality AND
    * longest") that no single ORDER BY can express. Both columns are
    * maximized; negate a column to minimize it.
    *
    * Scale shape — NOT the quadratic NOT-EXISTS self-join:
    *
    *  1. distinct (x, y) census with per-point row count (one agg);
    *  2. LOCAL prune: a window partitioned by a hash bucket, ordered
    *     (x desc, y desc) — a point beaten by the running y-max of its
    *     bucket is dominated by that earlier point (its x is ≥ by the
    *     sort) and exits. Pruning against a SUBSET of points only
    *     removes truly-dominated points, so this is lossless; with B
    *     buckets the survivors are ≤ B × |frontier| — tiny.
    *  3. GLOBAL pass: same window over the survivors without the
    *     bucket — for distinct pairs, "y strictly above every earlier
    *     y" under (x desc, y desc) order IS the skyline: an earlier
    *     equal-x point has higher y (dominates), an earlier higher-x
    *     point with y ≥ yours dominates, ties on both are impossible
    *     after the census.
    *
    * The single-reducer global window touches only step-2 survivors.
    * Returns (x, y, n_rows) for each frontier point.
    */
  def paretoFrontier(df: DataFrame, xCol: Column, yCol: Column,
                     buckets: Int = 32): DataFrame = {
    require(buckets >= 1, s"buckets must be positive, got $buckets")
    import org.apache.spark.sql.expressions.Window
    val pts = df.select(xCol.cast("long").as("x"), yCol.cast("long").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("n_rows"))
    val localW = Window.partitionBy("__b")
      .orderBy(col("x").desc, col("y").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = pts
      .withColumn("__b", pmod(xxhash64(col("x"), col("y")), lit(buckets.toLong)))
      .withColumn("__m", max("y").over(localW))
      .filter(col("__m").isNull || col("y") > col("__m"))
    val globalW = Window.orderBy(col("x").desc, col("y").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    local
      .withColumn("__g", max("y").over(globalW))
      .filter(col("__g").isNull || col("y") > col("__g"))
      .select("x", "y", "n_rows")
  }
}
