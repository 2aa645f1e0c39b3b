package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained language-model scoring — the CCNet/Gopher-style
  * "perplexity filter" of an LLM curation pipeline: train a smoothed
  * bigram model on the corpus itself, score every document by its
  * surprisal under that model, and filter/bucket on the score. The
  * heuristic quality signals (`TextFunctions.qualityScoreMilli`, q26)
  * catch structural junk; the LM score catches fluent-looking word
  * salad and boilerplate the heuristics miss.
  */
object LanguageModel {

  /** Per-document bigram surprisal under an add-one-smoothed bigram LM
    * trained on the corpus itself, in EXACT integer arithmetic.
    *
    * Floating-point log-probs are not portable across engines (libm
    * `ln` ULPs, order-dependent double sums), so the per-bigram
    * surprisal −log2 P(w2|w1) with P = (c12+1)/(c1+V) is quantized to
    * whole BITS with an exact integer floor-log2:
    *
    *   ⌊log2 n⌋      = length(bin(n)) − 1          (no leading zeros)
    *   ⌊log2 (a/b)⌋  = k  if a ≥ b·2^k  else k−1,  k = ⌊log2 a⌋−⌊log2 b⌋
    *
    * Both `bin` and the shift are integer-exact in Spark and ANSI-SQL
    * oracles alike, so the per-doc sums are bit-identical on any
    * partitioning, any engine. The 1-bit granularity is the price of
    * that portability: each bigram's surprisal is within 1 bit of the
    * true −log2 P, and the per-doc AVERAGE over n bigrams concentrates
    * accordingly (the score separates fluent from improbable text; it
    * is a filter signal, not a calibrated perplexity). Sound for
    * context counts up to 2^62 (the shift never overflows a long
    * because b·2^k < 2^(⌊log2 a⌋+1)).
    *
    * Model choice: c1 counts CONTEXT occurrences (bigram starts, not
    * raw unigrams) and V is the context vocabulary — both derived from
    * the same (doc, w1, w2) count projection as c12, so the corpus is
    * exploded ONCE. Scale shape: one explode into a per-doc bigram
    * count aggregate (map-side combinable — the single wide shuffle of
    * the text), persisted under the [[CacheRegistry]] lifecycle
    * because four consumers derive from it (c12, c1, V, and the scored
    * join); the model tables c12/c1 are aggregates of that projection
    * (distinct-bigram-sized, shuffle-joined back, AQE broadcasts when
    * small), V is a one-row broadcast. Docs with fewer than 2 tokens
    * have no bigram evidence and are not scored (route them through a
    * length filter instead).
    *
    * Returns (doc_id, n_bigrams, surprisal_bits, avg_millibits) with
    * avg_millibits = ⌊1000·bits / n_bigrams⌋.
    */
  def bigramSurprisal(df: DataFrame, idCol: String, text: Column): DataFrame = {
    val toks = graft.functions.TextFunctions.tokens(text)
    val bi = df
      .select(col(idCol).as("doc_id"), toks.as("__a"))
      .filter(size(col("__a")) >= 2)
      .withColumn("__h", slice(col("__a"), lit(1), size(col("__a")) - 1))
      .withColumn("__t", slice(col("__a"), lit(2), size(col("__a")) - 1))
      .select(col("doc_id"),
        explode(arrays_zip(col("__h"), col("__t"))).as("__p"))
      .select(col("doc_id"), col("__p.__h").as("__w1"),
        col("__p.__t").as("__w2"))
    val bc = CacheRegistry.persist(bi.groupBy("doc_id", "__w1", "__w2")
      .agg(count(lit(1)).as("__c")))
    val c12 = bc.groupBy("__w1", "__w2").agg(sum("__c").as("__c12"))
    val c1 = bc.groupBy("__w1").agg(sum("__c").as("__c1"))
    val v = c1.agg(count(lit(1)).as("__v"))
    bc.join(c12, Seq("__w1", "__w2"))
      .join(c1, Seq("__w1"))
      .crossJoin(broadcast(v))
      .withColumn("__bits", expr(
        """CASE WHEN (__c1 + __v) >= shiftleft(__c12 + 1,
          |       length(bin(__c1 + __v)) - length(bin(__c12 + 1)))
          |     THEN length(bin(__c1 + __v)) - length(bin(__c12 + 1))
          |     ELSE length(bin(__c1 + __v)) - length(bin(__c12 + 1)) - 1
          |END""".stripMargin))
      .groupBy("doc_id")
      .agg(sum("__c").cast("long").as("n_bigrams"),
        sum(col("__bits") * col("__c")).cast("long").as("surprisal_bits"))
      .withColumn("avg_millibits",
        expr("(1000 * surprisal_bits) div n_bigrams"))
  }

  /** COLLOCATION MINING by pointwise mutual information: the corpus's
    * top-k adjacent word pairs whose co-occurrence beats chance —
    * "new york", "machine learning" — the classic phrase-discovery
    * signal (tokenizer vocab seeding, quality probes, n-gram
    * blocklists). PMI(x,y) = log2( P(xy) / (P(x·)·P(·y)) ) with all
    * probabilities from the corpus bigram table: P(xy) = c12/N,
    * P(x·) = c1/N (x as first element), P(·y) = c2/N — so
    * PMI = log2( c12·N / (c1·c2) ).
    *
    * Engine-exact like [[bigramSurprisal]]: the score is quantized to
    * whole bits with the integer floor-log2 (length(bin(·)) + one
    * shift compare) over the EXACT integer products a = c12·N,
    * b = c1·c2; only positive-PMI pairs (a ≥ b) are kept — negative
    * association is noise for collocation mining and keeps the shift
    * argument non-negative. Sound while N < ~3·10^9 bigrams (both
    * products must fit a signed 64-bit long); beyond that, mine per
    * shard/source and merge, or widen the products to decimal and
    * replace bin() with a decimal floor-log2.
    *
    * Scale shape: one corpus explode into ONE map-side-combinable
    * (w1, w2) count — the single wide shuffle; the persisted pair
    * table (vocabulary²-bounded, far smaller than the corpus) then
    * derives both marginals, N, and the scored join (4 consumers —
    * [[CacheRegistry]] lifecycle); `minPairCount` prunes the hapax
    * tail BEFORE the marginal joins; the final top-k is a
    * TakeOrdered under the strict total order
    * (pmi_bits desc, n_pair desc, w1, w2) — no global sort
    * materializes. Returns (w1, w2, n_pair, pmi_bits).
    */
  def pmiCollocations(df: DataFrame, text: Column,
                      minPairCount: Long = 5, topK: Int = 100): DataFrame = {
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = graft.functions.TextFunctions.tokens(text)
    val bi = df
      .select(toks.as("__a"))
      .filter(size(col("__a")) >= 2)
      .withColumn("__h", slice(col("__a"), lit(1), size(col("__a")) - 1))
      .withColumn("__t", slice(col("__a"), lit(2), size(col("__a")) - 1))
      .select(explode(arrays_zip(col("__h"), col("__t"))).as("__p"))
      .select(col("__p.__h").as("__w1"), col("__p.__t").as("__w2"))
    val c12 = CacheRegistry.persist(bi.groupBy("__w1", "__w2").agg(count(lit(1)).as("__c12")))
    val c1 = c12.groupBy("__w1").agg(sum("__c12").as("__c1"))
    val c2 = c12.groupBy("__w2").agg(sum("__c12").as("__c2"))
    val n = c12.agg(sum("__c12").as("__n"))
    c12.filter(col("__c12") >= minPairCount)
      .join(c1, Seq("__w1")).join(c2, Seq("__w2"))
      .crossJoin(broadcast(n))
      .withColumn("__1a", col("__c12") * col("__n"))
      .withColumn("__1b", col("__c1") * col("__c2"))
      .filter(col("__1a") >= col("__1b")) // PMI >= 0 only
      .withColumn("pmi_bits", expr(
        """CASE WHEN __1a >= shiftleft(__1b, length(bin(__1a)) - length(bin(__1b)))
          |     THEN length(bin(__1a)) - length(bin(__1b))
          |     ELSE length(bin(__1a)) - length(bin(__1b)) - 1
          |END""".stripMargin))
      .select(col("__w1").as("w1"), col("__w2").as("w2"),
        col("__c12").cast("long").as("n_pair"),
        col("pmi_bits").cast("long").as("pmi_bits"))
      .orderBy(col("pmi_bits").desc, col("n_pair").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Multinomial Naive Bayes TRAINED AND APPLIED relationally — the
    * classifier tier of a curation pipeline (language ID, quality
    * tiers, topic routing: the fastText-classifier role) where the
    * n-gram heuristics top out. Add-one smoothing over the train
    * vocabulary; every log-probability is quantized to whole BITS with
    * the exact integer floor-log2 ([[bigramSurprisal]]'s discipline),
    * so scores and argmins are bit-identical across engines and
    * partitionings:
    *
    *   score(d, c) = ⌊log2 N/N_c⌋ + Σ_w m_w·⌊log2 (tot_c+V)/(c_cw+1)⌋
    *
    * (negated log-probs: the PREDICTED class minimizes bits; ties
    * break to the lexicographically smallest class). Out-of-vocabulary
    * test words carry no class evidence and are skipped — the standard
    * practical choice, and the deterministic one. `margin_bits` =
    * runner-up score − best score (0 on a tie, null with one class):
    * the selective-prediction confidence — route low-margin docs to a
    * stronger classifier instead of trusting the argmax.
    *
    * Scale shape: one explode per side into map-side-combinable count
    * aggregates; the model tables (per-class word counts — vocab×|C|
    * bounded, AQE-broadcast when small; per-class totals and priors —
    * |C| rows, broadcast) join the test word counts, which expand
    * |C|-fold for the per-class scores — the inherent NB cost, linear
    * in test tokens × classes. The argmin is a per-doc min_by, no
    * window. Docs whose every token is OOV (or empty) produce no score
    * row and are absent from the result — route them through a
    * fallback, don't silently default.
    *
    * Returns (id, pred_class, score_bits, margin_bits).
    */
  /** Batch perceptron trained RELATIONALLY — the discriminative
    * complement to [[naiveBayesClassify]] (generative): a linear
    * model over hashed token counts (the q153 hashing trick,
    * `xxhash64 % dims`) fit by `epochs` full-batch perceptron
    * updates, every step exact integer arithmetic so any engine
    * replays training bit-for-bit:
    *
    *   score_i = Σ_b w_b·c_ib;  misclassified: y_i·score_i ≤ 0
    *   w_b    += Σ_{misclassified i} y_i·c_ib
    *
    * (weights start at 0, so epoch 1's update is the class-weighted
    * feature census — the deterministic classic; the ≤0 rule makes
    * the zero-score tie a defined "wrong" for both classes.)
    *
    * Spark shape: the feature frame (doc, bucket, count, y) is built
    * once, persisted, and each epoch is ONE pass over it — a doc-
    * keyed score aggregation, a semi-join back for the misclassified
    * set, a bucket-keyed delta aggregation. The weight vector lives
    * driver-side between epochs (≤ dims longs — the k-means-centroid
    * / BPE-merge-table adjudication: model state bounded by the
    * MODEL, not the data) and re-enters the plan as an array
    * literal, so nothing iterative accumulates lineage. Epochs is
    * small and fixed by contract — perceptron training at corpus
    * scale is epochs × one-pass, the same cost envelope as
    * [[bigramSurprisal]]'s censuses.
    *
    * Returns one row per input doc: (idCol, label (+1/−1), score
    * (final integer activation), pred (+1/−1, 0-score → −1), correct).
    */
  def perceptronClassify(df: DataFrame, idCol: String, text: Column,
                         positive: Column, dims: Int = 64,
                         epochs: Int = 3): DataFrame = {
    require(dims >= 2 && (dims & (dims - 1)) == 0,
      s"dims must be a power of two, got $dims")
    require(epochs >= 1, s"epochs must be positive, got $epochs")
    val labeled = df.select(col(idCol).as("__id"),
      when(positive, 1L).otherwise(-1L).as("__y"), text.as("__t"))
    val feats = CacheRegistry.persist(labeled
      .select(col("__id"), col("__y"),
        explode(graft.functions.TextFunctions.tokens(col("__t"))).as("__w"))
      .select(col("__id"), col("__y"),
        pmod(xxhash64(col("__w")), lit(dims.toLong)).as("__b"))
      .groupBy("__id", "__y", "__b").agg(count(lit(1)).as("__c")))
    val w = new Array[Long](dims)
    def wLit = array(w.toIndexedSeq.map(lit): _*)
    def scores = feats
      .groupBy("__id", "__y")
      .agg(sum(col("__c") * element_at(wLit, (col("__b") + 1).cast("int")))
        .as("__s"))
    for (_ <- 1 to epochs) {
      val delta = feats
        .join(scores.filter(col("__y") * col("__s") <= 0).select("__id"),
          Seq("__id"), "left_semi")
        .groupBy("__b").agg(sum(col("__y") * col("__c")).as("__d"))
        .collect()
      delta.foreach(r => w(r.getLong(0).toInt) += r.getLong(1))
    }
    // one row per INPUT doc: a doc whose text tokenizes to nothing has
    // no feature rows (hence no score row) — restore it with score 0,
    // which the ≤0 rule classifies as −1, instead of silently dropping
    labeled.select(col("__id"), col("__y"))
      .join(scores.select(col("__id"), col("__s")), Seq("__id"), "left_outer")
      .select(col("__id").as(idCol), col("__y").as("label"),
        coalesce(col("__s"), lit(0L)).as("score"),
        when(coalesce(col("__s"), lit(0L)) > 0, 1L).otherwise(-1L).as("pred"),
        (when(coalesce(col("__s"), lit(0L)) > 0, 1L).otherwise(-1L)
          === col("__y")).as("correct"))
  }

  def naiveBayesClassify(train: DataFrame, classCol: Column, trainText: Column,
                         test: DataFrame, idCol: String, testText: Column): DataFrame = {
    val toks = graft.functions.TextFunctions.tokens _
    val cw = CacheRegistry.persist(train
      .select(classCol.as("__c"), explode(toks(trainText)).as("__w"))
      .groupBy("__c", "__w").agg(count(lit(1)).as("__cw")))
    val totc = cw.groupBy("__c").agg(sum("__cw").as("__tot"))
    val vocab = cw.select("__w").distinct()
    val v = vocab.agg(count(lit(1)).as("__v"))
    val nc = train.select(classCol.as("__c")).groupBy("__c")
      .agg(count(lit(1)).as("__nc"))
    val n = nc.agg(sum("__nc").as("__n"))
    // (class, tot_c, prior_bits): |C| rows, broadcast into the grid
    val classes = totc.join(nc, Seq("__c"))
      .crossJoin(broadcast(n)).crossJoin(broadcast(v))
      .withColumn("__pbits", expr(
        """CASE WHEN __n >= shiftleft(__nc, length(bin(__n)) - length(bin(__nc)))
          |     THEN length(bin(__n)) - length(bin(__nc))
          |     ELSE length(bin(__n)) - length(bin(__nc)) - 1
          |END""".stripMargin))
      .select(col("__c"), col("__tot"), col("__v"), col("__pbits"))
    val testWords = test
      .select(col(idCol), explode(toks(testText)).as("__w"))
      .groupBy(idCol, "__w").agg(count(lit(1)).as("__m"))
      .join(vocab, Seq("__w"), "left_semi") // OOV words carry no evidence
    testWords
      .crossJoin(broadcast(classes))
      .join(cw, Seq("__c", "__w"), "left_outer")
      .withColumn("__a", col("__tot") + col("__v"))
      .withColumn("__b", coalesce(col("__cw"), lit(0L)) + 1)
      .withColumn("__bits", expr(
        """CASE WHEN __a >= shiftleft(__b, length(bin(__a)) - length(bin(__b)))
          |     THEN length(bin(__a)) - length(bin(__b))
          |     ELSE length(bin(__a)) - length(bin(__b)) - 1
          |END""".stripMargin))
      .groupBy(idCol, "__c")
      .agg((sum(col("__m") * col("__bits")) + max(col("__pbits")))
        .cast("long").as("__score"))
      // the per-doc class list is |C|-bounded — sorting it in one
      // collected array gives best AND runner-up from one aggregate
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("__score"), col("__c")))).as("__r"))
      .select(col(idCol),
        element_at(col("__r"), 1).getField("__c").as("pred_class"),
        element_at(col("__r"), 1).getField("__score").as("score_bits"),
        (element_at(col("__r"), 2).getField("__score") -
          element_at(col("__r"), 1).getField("__score")).as("margin_bits"))
  }
}
