package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level lexical retrieval — the classic IR scoring path a
  * training-data pipeline uses for targeted corpus slicing (pulling
  * topical subsets, seeding classifier training sets, eval-set
  * retrieval baselines).
  */
object Retrieval {

  /** BM25 top-k retrieval (Okapi, k1 = 1.2, b = 0.75) of `queryTerms`
    * over a corpus, with EXACT integer arithmetic end to end.
    *
    * Floating-point BM25 is not portable across engines (libm `ln`
    * differs in ULPs and a parallel double sum is order-dependent), so
    * every factor here is rational and the per-term score is quantized
    * to milli-units with integer division BEFORE the per-doc sum —
    * integer addition commutes, so the result is bit-identical on any
    * partitioning, any engine. With k1 = 6/5 and b = 3/4, multiplying
    * the classic term through by 20·Σdl clears all denominators:
    *
    *   tf_part  = 44·tf·Σdl / (20·tf·Σdl + 6·Σdl + 18·dl·N)
    *   idf      = (N − df + ½)/(df + ½) = (2N − 2df + 1)/(2df + 1)
    *   s_milli  = ⌊1000 · tf_part · idf⌋   (one integer div)
    *
    * idf is the log-free Robertson–Spärck-Jones odds ratio — more
    * rare-term-skewed than the usual ln form, monotone in the same df,
    * and exactly representable. Intermediate products stay under 2^63
    * for corpora up to ~10^6 docs × 10^3-token averages per scoring
    * shard; beyond that, quantize Σdl (cap the precision, not the
    * corpus).
    *
    * Scale shape: ONE explode of the corpus into a (doc, term) count
    * aggregate — map-side combinable, the single wide shuffle. Every
    * downstream stat derives from that projection: dl and Σdl from its
    * per-doc sums (no re-scan of text), tf/df from its query-term
    * subset (filter first, then aggregate — the subset is tiny). The
    * per-doc length table joins the scored subset on doc_id; the
    * query-term df table is broadcast-sized by construction. The final
    * top-k is TakeOrdered (no global sort). The (doc, term) projection
    * is cached through [[CacheRegistry.persist]] because two branches
    * (dl and tf) consume it.
    *
    * Returns (doc_id, bm25_milli) — the k highest-scoring docs that
    * contain at least one query term, score-descending, doc_id
    * ascending on ties.
    */
  def bm25TopK(df: DataFrame, idCol: String, text: Column,
               queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k >= 1, s"k must be positive, got $k")
    val cnt = CacheRegistry.persist(df
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.TextFunctions.tokens(text)).as("__term"))
      .groupBy(col("doc_id"), col("__term"))
      .agg(count(lit(1)).as("__tf")))
    val dl = cnt.groupBy("doc_id").agg(sum("__tf").as("__dl"))
    // One-row corpus stats (N over ALL docs incl. token-less; Σdl over
    // the token counts), rolled into a single broadcast row — the
    // single-pass scalar rule: never a scalar subquery per reference.
    val stats = df.select(col(idCol).as("doc_id"))
      .join(dl, Seq("doc_id"), "left_outer")
      .agg(count(lit(1)).as("__n"), sum(coalesce(col("__dl"), lit(0L))).as("__sdl"))
    val terms = cnt.filter(col("__term").isin(queryTerms: _*))
    val dfreq = terms.groupBy("__term").agg(count(lit(1)).as("__df"))
    terms
      .join(broadcast(dfreq), Seq("__term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("s_milli", expr(
        """(1000 * (44 * __tf * __sdl) * (2 * __n - 2 * __df + 1))
          | div ((20 * __tf * __sdl + 6 * __sdl + 18 * __dl * __n)
          |      * (2 * __df + 1))""".stripMargin))
      .groupBy("doc_id")
      .agg(sum("s_milli").cast("long").as("bm25_milli"))
      .orderBy(col("bm25_milli").desc, col("doc_id"))
      .limit(k)
  }

  /** Reciprocal-rank fusion of several candidate rankings (the hybrid
    * lexical + semantic retrieval combiner): each ranking contributes
    * ⌊10⁶ / (kRrf + rank)⌋ per doc, ranks derived from its own
    * (score desc, doc_id) order; docs absent from a ranking contribute
    * nothing. Integer division keeps the fused score engine-exact.
    *
    * Input rankings are (name, df) where df has `idCol` and
    * `scoreCol`; each is expected to be an already-truncated top-k
    * candidate list (the operator re-ranks but does not re-truncate,
    * so feed it TakeOrdered outputs, not whole corpora). The
    * per-ranking rank window partitions on the ranking tag — one
    * bounded partition per ranking, never a corpus-wide single
    * reducer. Returns (doc_id, rrf_micro, n_rankers) for the fused
    * top `topK`, (rrf_micro desc, doc_id) ordered.
    */
  /** Inverted-index CONSTRUCTION: index unit → (document frequency,
    * sorted posting list) — the storable artifact behind
    * [[bm25TopK]]-style retrieval, dictionary-based slicing, and
    * boolean corpus queries. `units` is any array column (word
    * tokens, n-gram shingles for phrase indexing, normalized terms).
    * Returns (term, df, postings) with postings ascending by doc id.
    *
    * `minDf`/`maxDf` bound the emitted vocabulary: the hapax floor
    * drops the long noise tail, and the stopword CEILING is the scale
    * guard — a corpus-frequent term's posting list is one row holding
    * a corpus-sized array (the single-row skew that kills collect
    * aggregates), so production indexes exclude or chunk it.
    * The cap is enforced from the df census BEFORE collecting
    * postings: the census is a map-side-combinable count, a left-semi
    * filter keeps only in-range terms, and only those terms' postings
    * are ever collected (two aggregates over the same exploded
    * projection, one shuffle each, no oversized rows).
    *
    * Scale shape: distinct (doc, term) explode → df census →
    * in-range filter (left-semi, AQE-broadcast when the surviving
    * vocabulary is small) → per-term ordered collect. At 100 TB,
    * partition the OUTPUT by term range/bucket for serving; the
    * build itself has no driver state.
    */
  def invertedIndex(df: DataFrame, idCol: String, units: Column,
                    minDf: Long = 1, maxDf: Long = Long.MaxValue): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf, s"need 1 <= minDf <= maxDf, got [$minDf,$maxDf]")
    val terms = CacheRegistry.persist(df
      .select(col(idCol).as("doc_id"), explode(units).as("term"))
      .distinct())
    val inRange = terms.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    terms.join(inRange, Seq("term"), "left_semi")
      .groupBy("term")
      .agg(count(lit(1)).cast("long").as("df"),
        sort_array(collect_list(col("doc_id"))).as("postings"))
  }

  def rrfFuse(rankings: Seq[(String, DataFrame)], idCol: String, scoreCol: String,
              topK: Int, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rankings must be non-empty")
    require(kRrf >= 1 && topK >= 1, s"kRrf/topK must be positive, got $kRrf/$topK")
    val tagged = rankings.map { case (nm, df) =>
      df.select(col(idCol).as("doc_id"), col(scoreCol).cast("long").as("__score"),
        lit(nm).as("__ranker"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy("__ranker")
      .orderBy(col("__score").desc, col("doc_id"))
    tagged
      .withColumn("__rn", row_number().over(w).cast("long"))
      // integer div (Column./ on longs widens to double)
      .withColumn("__contrib", expr(s"1000000L div (${kRrf}L + __rn)"))
      .groupBy("doc_id")
      .agg(sum(col("__contrib")).cast("long").as("rrf_micro"),
        count(lit(1)).cast("long").as("n_rankers"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(topK)
  }

  /** Graded discount table for [[rankingMetrics]]: rank r (1-based) →
    * ⌊10⁶ / log₂(r+1) + ½⌋. The constants are computed ONCE here in
    * driver Scala and baked into the plan as literals (and into the
    * oracle as a VALUES list), so the inherently-irrational log₂
    * discounts become a FIXED integer contract both engines share —
    * the same quantize-then-agree discipline as the BM25 milli scores.
    */
  def ndcgDiscountMicro(k: Int): Seq[(Int, Long)] =
    (1 to k).map(r => r -> math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))

  /** Offline ranking-quality evaluation — the measurement layer for
    * the engine's own retrieval operators (BM25, cosine/ANN top-k,
    * RRF). Inputs: `ranked` = (query_id, doc_id, rank) with rank
    * 1-based and ≤ k per query; `truth` = (query_id, doc_id) RELEVANT
    * pairs (binary gains). Per query:
    *
    *   - `dcg_micro`   = Σ_{hits} discount(rank)        (micro units)
    *   - `idcg_micro`  = Σ_{r ≤ min(k, n_rel)} discount(r) — the
    *     ideal: every top slot relevant
    *   - `ndcg_ppm`    = 10⁶·dcg DIV idcg
    *   - `rr_micro`    = 10⁶ DIV first relevant rank (0 if none) — MRR
    *   - `hits_at_k`, `n_rel`, `recall_ppm` = 10⁶·hits DIV n_rel
    *
    * Queries with NO relevant documents are excluded (every metric is
    * undefined there — standard IR-eval practice). Queries WITH
    * relevant documents but no ranked rows (a ranker that returned
    * nothing — e.g. an ANN path whose probed cells were all empty) are
    * KEPT with dcg/hits/recall/rr = 0: n_rel drives the join, so a
    * silent ranker shows up as zeros instead of silently inflating the
    * aggregate averages. All arithmetic is integer over the fixed
    * discount table, so results are bit-portable across engines and
    * partitionings.
    *
    * Shuffle shape: ranked⋈truth on (query, doc) — both sides already
    * ≤ k·|queries| and |relevant| — one groupBy query for the DCG/MRR
    * side, one for n_rel, one broadcast-sized join of the two
    * per-query frames. The discount map enters as a literal
    * `map_from_arrays` lookup: zero extra scans.
    */
  def rankingMetrics(ranked: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val disc = ndcgDiscountMicro(k)
    val discMap = map_from_arrays(
      array(disc.map(d => lit(d._1.toLong)): _*),
      array(disc.map(d => lit(d._2)): _*))
    // cumulative ideal DCG for n_rel = 1..k (n_rel > k saturates)
    val cumIdeal = disc.scanLeft(0L)(_ + _._2).tail
    val idealMap = map_from_arrays(
      array((1 to k).map(i => lit(i.toLong)): _*),
      array(cumIdeal.map(lit(_)): _*))
    val rel = truth.select(col("query_id"), col("doc_id"), lit(1L).as("__rel"))
    val perQ = ranked.filter(col("rank") <= k)
      .join(rel, Seq("query_id", "doc_id"), "left_outer")
      .groupBy("query_id")
      .agg(
        sum(when(col("__rel").isNotNull,
          element_at(discMap, col("rank").cast("long"))).otherwise(0L))
          .as("dcg_micro"),
        min(when(col("__rel").isNotNull, col("rank"))).as("__first"),
        sum(when(col("__rel").isNotNull, 1L).otherwise(0L)).as("hits_at_k"))
    val nRel = rel.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    // nRel DRIVES (left outer): a query with relevant docs but zero
    // ranked rows reports zeros, matching the oracle's LEFT JOIN
    nRel.join(perQ, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        element_at(idealMap, least(col("n_rel"), lit(k.toLong)))
          .as("idcg_micro"),
        coalesce(col("hits_at_k"), lit(0L)).as("hits_at_k"),
        col("n_rel"),
        coalesce(expr("1000000L div __first"), lit(0L)).as("rr_micro"))
      .withColumn("ndcg_ppm", expr("(1000000 * dcg_micro) div idcg_micro"))
      .withColumn("recall_ppm", expr("(1000000 * hits_at_k) div n_rel"))
  }
}
