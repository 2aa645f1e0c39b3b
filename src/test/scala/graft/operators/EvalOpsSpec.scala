package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the artifact/evaluation operators: bloom filter build +
  * probe, Pareto frontier, ranking metrics, link prediction.
  */
class EvalOpsSpec extends AnyFunSuite with SparkSpec {

  test("bloomBuild/bloomProbe: no false negatives, word packing replays") {
    import spark.implicits._
    val keys = (1L to 200L).toDF("k")
    val words = Sketches.bloomBuild(keys, col("k"), numBits = 1024, numHashes = 3)
    // driver-side replay of the packing for the same keys
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.LongType
    def pos(i: Int, k: Long): Long = {
      val h = XxHash64Function.hash(k, LongType,
        XxHash64Function.hash(i.toLong, LongType, 42L))
      java.lang.Math.floorMod(h, 1024L)
    }
    val expect = (for { k <- 1L to 200L; i <- 0 until 3 } yield pos(i, k))
      .groupBy(_ / 64)
      .map { case (w, ps) =>
        w.toInt -> ps.distinct.map(p => 1L << (p % 64)).reduce(_ | _)
      }
    val got = words.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === expect)

    // every inserted key hits; a disjoint probe range is mostly absent
    val probes = ((1L to 200L) ++ (100000L to 100199L)).toDF("k")
    val hits = Sketches.bloomProbe(words, probes, "k", 1024, 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert((1L to 200L).forall(hits(_)), "bloom has a false negative")
    val fp = (100000L to 100199L).count(hits(_))
    // 1024 bits / 200 keys / 3 hashes → FP rate ≈ 11%; 200 trials
    assert(fp < 60, s"implausible false-positive count $fp/200")
    assertThrows[IllegalArgumentException] {
      Sketches.bloomBuild(keys, col("k"), numBits = 1000, numHashes = 3)
    }
  }

  test("paretoFrontier: dominance semantics, duplicate counting, bucket invariance") {
    import spark.implicits._
    // frontier: (5,1), (3,3), (1,5); dominated: (2,2) by (3,3),
    // (3,1) by (5,1)/(3,3), (1,1) by everything; (5,1) duplicated
    val pts = Seq((5L, 1L), (5L, 1L), (3L, 3L), (1L, 5L),
      (2L, 2L), (3L, 1L), (1L, 1L)).toDF("x", "y")
    val got = Profiling.paretoFrontier(pts, col("x"), col("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((5L, 1L, 2L), (3L, 3L, 1L), (1L, 5L, 1L)))
    // result is independent of the local-prune bucket count
    for (b <- Seq(1, 7, 64)) {
      val g = Profiling.paretoFrontier(pts, col("x"), col("y"), buckets = b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(g === got, s"buckets=$b diverged")
    }
  }

  test("rankingMetrics: hand-computed NDCG/MRR, no-relevant queries excluded") {
    import spark.implicits._
    // q1: ranked (d1,d2,d3), relevant {d2, d9} → hit at rank 2 only
    // q2: ranked (d1,d2,d3), relevant {d1, d2} → hits at ranks 1,2
    // q3: ranked (d1,d2,d3), no relevant docs → excluded
    val ranked = (for { q <- Seq("q1", "q2", "q3"); (dd, r) <- Seq(("d1", 1L), ("d2", 2L), ("d3", 3L)) }
      yield (q, dd, r)).toDF("query_id", "doc_id", "rank")
    val truth = Seq(("q1", "d2"), ("q1", "d9"), ("q2", "d1"), ("q2", "d2"))
      .toDF("query_id", "doc_id")
    val disc = Retrieval.ndcgDiscountMicro(3).toMap
    val m = Retrieval.rankingMetrics(ranked, truth, k = 3)
      .collect().map(r => r.getAs[String]("query_id") -> r).toMap
    assert(m.keySet === Set("q1", "q2"))
    val q1 = m("q1")
    assert(q1.getAs[Long]("dcg_micro") === disc(2))
    // ideal for n_rel=2: relevant docs at ranks 1 and 2
    assert(q1.getAs[Long]("idcg_micro") === disc(1) + disc(2))
    assert(q1.getAs[Long]("rr_micro") === 500000L)
    assert(q1.getAs[Long]("hits_at_k") === 1L)
    assert(q1.getAs[Long]("n_rel") === 2L)
    assert(q1.getAs[Long]("recall_ppm") === 500000L)
    assert(q1.getAs[Long]("ndcg_ppm") ===
      1000000L * disc(2) / (disc(1) + disc(2)))
    val q2 = m("q2")
    assert(q2.getAs[Long]("dcg_micro") === disc(1) + disc(2))
    assert(q2.getAs[Long]("ndcg_ppm") === 1000000L)
    assert(q2.getAs[Long]("rr_micro") === 1000000L)
  }

  test("rankingMetrics: query with relevant docs but NO ranked rows reports zeros") {
    import spark.implicits._
    // q1 has truth rows but the ranker returned nothing for it (the
    // empty-probed-cells ANN shape) — it must appear with zero metrics,
    // not vanish (ADVICE r6: nRel drives the join, like the oracle's
    // LEFT JOIN)
    val ranked = Seq(("q2", "d1", 1L)).toDF("query_id", "doc_id", "rank")
    val truth = Seq(("q1", "d1"), ("q1", "d2"), ("q2", "d1"))
      .toDF("query_id", "doc_id")
    val disc = Retrieval.ndcgDiscountMicro(3).toMap
    val m = Retrieval.rankingMetrics(ranked, truth, k = 3)
      .collect().map(r => r.getAs[String]("query_id") -> r).toMap
    assert(m.keySet === Set("q1", "q2"))
    val q1 = m("q1")
    assert(q1.getAs[Long]("dcg_micro") === 0L)
    assert(q1.getAs[Long]("idcg_micro") === disc(1) + disc(2))
    assert(q1.getAs[Long]("hits_at_k") === 0L)
    assert(q1.getAs[Long]("n_rel") === 2L)
    assert(q1.getAs[Long]("rr_micro") === 0L)
    assert(q1.getAs[Long]("ndcg_ppm") === 0L)
    assert(q1.getAs[Long]("recall_ppm") === 0L)
    assert(m("q2").getAs[Long]("ndcg_ppm") === 1000000L)
  }

  test("softDedupWeights: cluster downweighting, singletons keep full weight") {
    import spark.implicits._
    // chain 1-2-3 (one cluster of 3), pair 10-11, singletons 20, 21
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.softDedupWeights(ids, "id", pairs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((1L, 3L, 333333L)))
    assert(got(2L) === ((1L, 3L, 333333L)))
    assert(got(3L) === ((1L, 3L, 333333L)))
    assert(got(10L) === ((10L, 2L, 500000L)))
    assert(got(11L) === ((10L, 2L, 500000L)))
    assert(got(20L) === ((20L, 1L, 1000000L)))
    assert(got(21L) === ((21L, 1L, 1000000L)))
  }

  test("naiveBayesClassify: hand-computed bits, OOV skipped, tie to smallest class") {
    import spark.implicits._
    // class a: tokens {x x y}; class b: tokens {z z y} → V = 3
    val train = Seq(("a", "x x y"), ("b", "z z y")).toDF("cls", "text")
    // doc 1 "x x": cw(a,x)=2 → bits ⌊log2 6/3⌋=1 ×2 = 2 + prior 1 = 3
    //              cw(b,x)=0 → bits ⌊log2 6/1⌋=2 ×2 = 4 + prior 1 = 5 → a
    // doc 2 "z":   a: ⌊log2 6/1⌋=2 +1 = 3; b: ⌊log2 6/3⌋=1 +1 = 2 → b
    // doc 3 "y":   both ⌊log2 6/2⌋=1 +1 = 2 — tie → a
    // doc 4 "q q": all OOV → absent
    val test0 = Seq((1L, "x x"), (2L, "z"), (3L, "y"), (4L, "q q"))
      .toDF("id", "text")
    val got = LanguageModel.naiveBayesClassify(
        train, col("cls"), col("text"), test0, "id", col("text"),
        persistModel = false)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // margins: doc 1 = 5−3 = 2; doc 2 = 3−2 = 1; doc 3 ties → 0
    assert(got === Map(
      1L -> (("a", 3L, 2L)), 2L -> (("b", 2L, 1L)), 3L -> (("a", 2L, 0L))))
  }

  test("perceptronClassify: separable corpus learns; epoch-1 census is the hand fold") {
    import spark.implicits._
    // two disjoint vocabularies → linearly separable by construction
    val docs = Seq(
      (1L, "en", "alpha beta alpha"), (2L, "en", "beta beta"),
      (3L, "en", "alpha"), (4L, "de", "zork quux"),
      (5L, "de", "quux quux zork"), (6L, "de", "zork")
    ).toDF("doc_id", "lang", "text")
    val got = LanguageModel.perceptronClassify(docs, "doc_id", col("text"),
      col("lang") === "en", dims = 64, epochs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    CacheRegistry.releaseAll()
    assert(got.size === 6)
    assert(got.values.forall(_._4), s"separable corpus must classify perfectly: $got")
    assert(got(1L)._1 === 1L && got(4L)._1 === -1L)

    // 1 epoch from w=0 IS the class-weighted census: score(doc) =
    // Σ_tokens y-weighted corpus count of each token's bucket (no
    // bucket collisions among the 4 distinct tokens at dims=64 —
    // witnessed by these exact score values, and deterministic
    // forever since xxhash64 of fixed strings never changes).
    // "alpha beta alpha": alpha corpus count 3(+), beta 3(+) →
    // 2×3 + 3 = 9
    val one = LanguageModel.perceptronClassify(docs, "doc_id", col("text"),
      col("lang") === "en", dims = 64, epochs = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    CacheRegistry.releaseAll()
    assert(one(1L) === 9L) // 2×3 + 1×3
    assert(one(6L) === -3L) // zork count 3, negative class

    // a doc whose text tokenizes to nothing still gets a row: score 0,
    // pred −1 by the ≤0 rule (the one-row-per-input-doc contract)
    val withEmpty = docs.union(Seq((7L, "en", "   ")).toDF("doc_id", "lang", "text"))
    val e = LanguageModel.perceptronClassify(withEmpty, "doc_id", col("text"),
      col("lang") === "en", dims = 64, epochs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    CacheRegistry.releaseAll()
    assert(e.size === 7)
    assert(e(7L) === ((1L, 0L, -1L, false)))
  }

  test("skewReport: exact shares and salt factors") {
    import spark.implicits._
    // keys: a ×6, b ×2, c ×1, d ×1 → total 10, 4 keys, mean 2.5
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d")).toDF("k")
    val got = Profiling.skewReport(df, col("k"), topK = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // a: share 600000 ppm, skew 6/2.5 = 2.4x → 2400 milli, salt ⌈2.4⌉ = 3
    assert(got(0) === (("a", 6L, 600000L, 2400L, 3L)))
    assert(got(1) === (("b", 2L, 200000L, 800L, 1L)))
  }

  test("groupSetOverlap: pairwise Jaccard of per-group sets") {
    import spark.implicits._
    // A = {1,2,3}, B = {2,3,4}, C = {9}; duplicates collapse
    val df = Seq(("A", 1), ("A", 2), ("A", 3), ("A", 3),
      ("B", 2), ("B", 3), ("B", 4), ("C", 9)).toDF("g", "i")
    val got = Profiling.groupSetOverlap(df, col("g"), col("i"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // A∩B = {2,3} → 2/4 = 500000 ppm; C shares nothing → absent
    assert(got === Map(("A", "B") -> ((3L, 3L, 2L, 500000L))))
  }

  test("joinSizeEstimate: upper bound, exact on collision-free keys") {
    import spark.implicits._
    // side A: key 1 ×3, key 2 ×2; side B: key 1 ×2, key 2 ×1, key 9 ×4
    // exact join size = 3·2 + 2·1 = 8
    val a = Seq(1L, 1L, 1L, 2L, 2L).toDF("k")
    val b = Seq(1L, 1L, 2L, 9L, 9L, 9L, 9L).toDF("k")
    val est = Sketches.joinSizeEstimate(a, col("k"), b, col("k"),
      depth = 3, width = 4096).head.getLong(0)
    // 3 keys in 4096 cells: no collisions → the bound is tight
    assert(est === 8L)
    // width 2 forces collisions: the estimate stays an upper bound of
    // the exact size, capped by the all-one-cell worst case 5·7 = 35
    val coarse = Sketches.joinSizeEstimate(a, col("k"), b, col("k"),
      depth = 2, width = 2).head.getLong(0)
    assert(coarse >= 8L && coarse <= 35L, s"coarse=$coarse")
  }

  test("labelPropagation: two cliques bridged, min-label tie-break") {
    import spark.implicits._
    // triangle {1,2,3} + triangle {10,11,12} + bridge 3-10
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("a", "b")
    val got = Graphs.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheRegistry.releaseAll()
    // round 1: every node takes its min neighbor (all neighbor counts
    // are 1): 1→2, 2→1, 3→1, 10→3, 11→10, 12→10; subsequent rounds
    // propagate 1 through the left triangle and into the bridge while
    // the right triangle's majority keeps the smaller labels moving —
    // the invariant we pin: deterministic labels, and the two
    // triangles do NOT collapse to one community by round 3
    assert(got.size === 6)
    assert(got.values.toSet.size >= 2, s"cliques collapsed: $got")
    // determinism: a second run yields identical labels
    val again = Graphs.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheRegistry.releaseAll()
    assert(again === got)
  }

  test("associationRules: hand-computed support/confidence/lift, directionality") {
    import spark.implicits._
    // baskets: {x,y} ×3, {x} ×1, {y,z} ×1 → N = 5 baskets
    val df = Seq((1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (3, "y"),
      (4, "x"), (5, "y"), (5, "z")).toDF("k", "i")
    val got = Graphs.associationRules(df, "k", "i", minShared = 2,
        maxBasketSize = 10, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    CacheRegistry.releaseAll()
    // x→y: n_ab=3, n_x=4, n_y=4 → support 600000, conf 750000,
    // lift = 3·5/(4·4) = 937500
    assert(got(("x", "y")) === ((3L, 600000L, 750000L, 937500L)))
    assert(got(("y", "x")) === ((3L, 600000L, 750000L, 937500L)))
    assert(!got.contains(("y", "z")), "n_ab=1 pair must be pruned")
  }

  test("chunkHashPairs: aligned chunk overlap, hot-chunk blacklist") {
    import spark.implicits._
    val blk = "A" * 64
    val doc1 = blk + ("B" * 64) + ("C" * 64) // chunks A B C
    val doc2 = blk + ("B" * 64) + ("D" * 64) // shares A B at idx 0,1
    val doc3 = ("E" * 64) + ("B" * 64)       // shares only B with 1,2
    val blobs = Seq((1L, doc1), (2L, doc2), (3L, doc3)).toDF("id", "t")
      .select(col("id"), encode(col("t"), "UTF-8").as("blob"))
    val got = Multimodal.chunkHashPairs(blobs, "id", "blob",
        chunkBytes = 64, minShared = 2, maxDocsPerChunk = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(5)))).toMap
    // only (1,2): 2 shared of 3 chunks → 666666 ppm
    assert(got === Map((1L, 2L) -> ((2L, 666666L))))
    // a blacklist at maxDocsPerChunk = 2 kills the B chunk (3 docs),
    // leaving (1,2) with only chunk A → below minShared → no pairs
    val pruned = Multimodal.chunkHashPairs(blobs, "id", "blob",
      chunkBytes = 64, minShared = 2, maxDocsPerChunk = 2)
    assert(pruned.count() === 0L)
  }

  test("pairSetComparison: confusion counts, empty-set conventions") {
    import spark.implicits._
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val cand = Seq((1L, 2L), (3L, 4L), (7L, 8L)).toDF("id_a", "id_b")
    val r = Dedup.pairSetComparison(truth, cand).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 3L, 2L)))
    assert(r.getLong(3) === 666666L) // recall 2/3
    assert(r.getLong(4) === 666666L) // precision 2/3
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val e = Dedup.pairSetComparison(empty, cand).head
    assert(e.getLong(3) === 1000000L, "vacuous truth is perfectly recalled")
    assert(e.getLong(4) === 0L)
  }

  test("kCore: chain peels away, clique survives with exact degrees") {
    import spark.implicits._
    // K4 {1,2,3,4} + a tail 4-5-6: 5 and 6 never have degree >= 3,
    // and after they peel node 4 still has 3 in-clique neighbors
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val got = Graphs.kCore(edges, k = 3, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheRegistry.releaseAll()
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k above the clique degree empties the graph
    val none = Graphs.kCore(edges, k = 4, rounds = 4).count()
    CacheRegistry.releaseAll()
    assert(none === 0L)
  }

  test("zoneMap: per-file min/max/count in long form") {
    import spark.implicits._
    val df = Seq((0, 10L, "x"), (0, 20L, "y"), (1, 5L, "z"))
      .toDF("f", "v", "s")
    val got = Layout.zoneMap(df, col("f"), Seq("v", "s"))
      .collect().map(r => (r.getInt(0), r.getString(1)) ->
        ((r.getLong(2), r.getString(3), r.getString(4)))).toMap
    assert(got === Map(
      (0, "v") -> ((2L, "10", "20")), (0, "s") -> ((2L, "x", "y")),
      (1, "v") -> ((1L, "5", "5")), (1, "s") -> ((1L, "z", "z"))))
  }

  test("containmentPairs: short-in-long detection Jaccard misses") {
    import spark.implicits._
    // doc 2 = a 4-token quote fully inside doc 1's 12 tokens:
    // containment = 1.0 while Jaccard = 2/10 = 0.2
    val long = "a b c d e f g h i j k l"
    val quote = "e f g h"
    val docs = Seq((1L, long), (2L, quote), (3L, "x y z w v u"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", col("text"),
        n = 3, minContainmentPpm = 900000, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    CacheRegistry.releaseAll()
    // quote has 2 3-shingles (e f g, f g h), both inside doc 1
    assert(got === Map((1L, 2L) -> ((2L, 1000000L))))
    // the same pair is far below any Jaccard threshold: 2/(10+2-2)
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", col("text"), n = 3)
      .filter(col("id_a") === 1 && col("id_b") === 2)
      .head.getLong(2)
    CacheRegistry.releaseAll()
    assert(jac === 200000L)
  }

  test("noveltyScore: seen/unseen shingle fractions") {
    import spark.implicits._
    val ref = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    // doc 1: shingles {a b c, b c d} all in ref → novelty 0
    // doc 2: {a b c, b c x} → 1 of 2 novel
    // doc 3: all novel
    val docs = Seq((1L, "a b c d"), (2L, "a b c x"), (3L, "q r s"))
      .toDF("doc_id", "text")
    val got = Dedup.noveltyScore(docs, "doc_id", col("text"),
        ref, col("text"), n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      1L -> ((2L, 0L, 0L)),
      2L -> ((2L, 1L, 500000L)),
      3L -> ((1L, 1L, 1000000L))))
  }

  test("ewmaInteger: hand-computed fold, floor on negative diffs, order by (ts, v)") {
    import spark.implicits._
    // k=2 (α=1/4): s0=100; x=200 → 100+25=125; x=0 → 125+⌊-125/4⌋ =
    // 125-32 = 93 (floor, not trunc: trunc would give 94)
    val df = Seq(("a", 1L, 100L), ("a", 2L, 200L), ("a", 3L, 0L))
      .toDF("k", "t", "v")
    val got = TimeSeries.ewmaInteger(df, "k", col("t"), col("v"), shiftK = 2)
      .head
    assert(got.getLong(1) === 3L)
    assert(got.getLong(2) === 93L)
    // duplicate timestamps break ties by value — deterministic under
    // any input order
    val dup = Seq(("b", 1L, 50L), ("b", 1L, 10L)).toDF("k", "t", "v")
    val d1 = TimeSeries.ewmaInteger(dup, "k", col("t"), col("v"), shiftK = 1)
      .head.getLong(2)
    val d2 = TimeSeries.ewmaInteger(dup.orderBy(col("v").desc), "k",
      col("t"), col("v"), shiftK = 1).head.getLong(2)
    assert(d1 === 30L && d2 === 30L) // 10 then 50: 10 + (50-10)/2
  }

  test("simhashNearDupPairs: equals brute-force hamming pairs (pigeonhole recall)") {
    import spark.implicits._
    val docs = ((1L to 12L).map(i => (i, s"shared prefix tokens alpha beta gamma delta epsilon zeta marker$i"))
      ++ Seq((20L, "completely different content nothing shared here at all"),
        (21L, "shared prefix tokens alpha beta gamma delta epsilon zeta marker1")))
      .toDF("doc_id", "text")
    // brute-force ground truth from the fingerprints themselves
    val fps = Dedup.simhashBuckets(docs, "doc_id", col("text"))
      .select(col("doc_id"), col("simhash").cast("decimal(20,0)"))
      .collect().map(r => r.getLong(0) ->
        r.getDecimal(1).toBigInteger.longValue()).toMap
    val expect = (for {
      a <- fps.keys; b <- fps.keys if a < b
      h = java.lang.Long.bitCount(fps(a) ^ fps(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(expect.nonEmpty, "test corpus must contain hamming<=3 pairs")
    val got = Dedup.simhashNearDupPairs(docs, "doc_id", col("text"),
        maxHamming = 3, maxDocsPerBlock = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expect)
    // exact duplicates are hamming 0
    assert(got.contains((1L, 21L, 0L)))
  }

  test("ivfTopKStored: pair-for-pair parity with the recompute path via a real store") {
    import spark.implicits._
    val vecs = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val direct = Similarity.ivfTopK(vecs, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    CacheRegistry.releaseAll()
    val (cents, assigns) = Similarity.ivfIndex(vecs, "vec_id", "embedding")
    cents.write.mode("overwrite").parquet("/tmp/ivf-spec-store/centroids")
    assigns.write.mode("overwrite").parquet("/tmp/ivf-spec-store/assignments")
    val stored = Similarity.ivfTopKStored(vecs, "vec_id", "embedding",
        vecs, "vec_id", "embedding",
        spark.read.parquet("/tmp/ivf-spec-store/centroids"),
        spark.read.parquet("/tmp/ivf-spec-store/assignments"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(stored === direct)
  }

  test("balancedByCluster: per-cluster cap, md5 order, determinism") {
    import spark.implicits._
    // cluster A: 5 members, cluster B: 2, cluster C: 1 — cap 3
    val df = (Seq.tabulate(5)(i => (i.toLong, "A"))
      ++ Seq((10L, "B"), (11L, "B"), (20L, "C"))).toDF("id", "cl")
    val got = Sampling.balancedByCluster(df, "id", "cl", maxPerCluster = 3)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    assert(got.count(_._1 == "A") === 3)
    assert(got.count(_._1 == "B") === 2)
    assert(got.count(_._1 == "C") === 1)
    assert(got.forall(_._3 <= 3))
    // the chosen A-members are the md5-smallest, independent of input order
    val expectA = (0L to 4L).sortBy(i =>
      (java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes).map("%02x".format(_)).mkString, i))
      .take(3).toSet
    assert(got.filter(_._1 == "A").map(_._2).toSet === expectA)
  }

  test("personalizedPageRank: mass concentrates near the seeds") {
    import spark.implicits._
    // path 1→2→3→4 plus an isolated pair 10→11; seed = {1}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val got = Graphs.personalizedPageRank(edges, Seq(1L).toDF("node"),
        srcCol = "a", dstCol = "b", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheRegistry.releaseAll()
    // the seed keeps the restart mass; rank decays along the path;
    // the disconnected component gets nothing
    assert(got(1L) > got(2L), s"seed must outrank its successor: $got")
    assert(got(2L) > got(3L) && got(3L) > got(4L), s"decay along path: $got")
    assert(got(10L) === 0L && got(11L) === 0L, s"unreachable ranks 0: $got")
    // exact steady value for node 2: node 1 holds base = 0.15·10^12
    // from round 1 on, and node 2 receives 85% of it
    assert(got(1L) === 150000000000L)
    assert(got(2L) === 127500000000L)
  }

  test("giniConcentration: even is 0, monoculture approaches 1e6, hand case") {
    import spark.implicits._
    // perfectly even: 4 groups × 100 → G = 0
    val even = Seq(("a", 100L), ("b", 100L), ("c", 100L), ("d", 100L))
      .toDF("g", "w")
    val g0 = Profiling.giniConcentration(even, col("g"), col("w")).head
    assert(g0.getLong(2) === 0L, s"even corpus must score 0: $g0")
    // hand case: weights 1,1,2 ranked 1,2,3 → Σi·x = 1+2+6 = 9;
    // G = 2·9·10⁶ div 12 − 4·10⁶ div 3 = 1500000 − 1333333 = 166667
    val skew = Seq(("a", 1L), ("b", 1L), ("c", 2L)).toDF("g", "w")
    val g1 = Profiling.giniConcentration(skew, col("g"), col("w")).head
    assert(g1.getLong(2) === 166667L, s"hand case: $g1")
    // extreme: one group holds everything
    val mono = Seq(("a", 0L), ("b", 0L), ("c", 0L), ("d", 1000L)).toDF("g", "w")
    val g2 = Profiling.giniConcentration(mono, col("g"), col("w")).head
    assert(g2.getLong(2) === 750000L, s"monoculture of 4 groups → 1−1/n: $g2")
  }

  test("stratifiedKFold: exact per-stratum fold shares, determinism") {
    import spark.implicits._
    // stratum A: 7 rows → folds sized 3/2/2 (round-robin); B: 2 rows
    val df = ((1L to 7L).map(i => (i, "A")) ++ Seq((10L, "B"), (11L, "B")))
      .toDF("id", "st")
    val got = Sampling.stratifiedKFold(df, "id", "st", k = 3)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    val aCounts = got.filter(_._1 == "A").groupBy(_._2).view.mapValues(_.size).toMap
    assert(aCounts === Map(0L -> 3, 1L -> 2, 2L -> 2))
    assert(got.filter(_._1 == "B").map(_._2).sorted === Seq(0L, 1L))
    // determinism under input order
    val again = Sampling.stratifiedKFold(df.orderBy(col("id").desc), "id", "st", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val first = Sampling.stratifiedKFold(df, "id", "st", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again === first)
  }

  test("compressionRatio: deterministic, repetition compresses more") {
    import spark.implicits._
    val rep = ("abc " * 200).trim
    val varied = (1 to 200).map(i => s"w${i * 7919 % 1000}").mkString(" ")
    val df = Seq((1L, rep), (2L, varied), (3L, "")).toDF("doc_id", "text")
    val got = Profiling.compressionRatio(df, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L)._1 === rep.length.toLong)
    assert(got(1L)._3 < got(2L)._3,
      s"repetitive text must compress better: $got")
    assert(got(3L) === ((0L, got(3L)._2, 0L))) // empty doc → ratio 0
    // bit-determinism across runs
    val again = Profiling.compressionRatio(df, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(again === got)
  }

  test("semanticDecontaminate: exact benchmark member flagged, paraphrase flagged, orthogonal clean") {
    import spark.implicits._
    val e1 = Array.fill(8)(1.0f)
    val near = Array(1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 0.9f)
    val orth = Array(1.0f, -1.0f, 1.0f, -1.0f, 1.0f, -1.0f, 1.0f, -1.0f)
    val corpus = Seq((1L, e1), (2L, near), (3L, orth))
      .toDF("vec_id", "embedding")
    val bench = Seq((100L, e1)).toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(corpus, "vec_id", "embedding",
        bench, "vec_id", "embedding", minCosinePpm = 990000L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got(1L) === ((1L, true)))  // byte-identical to the benchmark
    assert(got(2L) === ((1L, true)))  // paraphrase: cosine ~0.999
    assert(got(3L) === ((0L, false))) // orthogonal — spine keeps it at 0
    assert(got.size === 3)
  }

  test("topKRecall: exact side drives, ANN-missed queries report zero") {
    import spark.implicits._
    val approx = Seq((1L, 10L), (1L, 11L)).toDF("query_id", "neighbor_id")
    val exact = Seq((1L, 10L), (1L, 12L), (1L, 13L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val got = Similarity.topKRecall(approx, exact)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((3L, 1L, 333333L)))
    // query 2 has exact answers but the ANN returned nothing for it —
    // it must appear with recall 0, not vanish
    assert(got(2L) === ((2L, 0L, 0L)))
  }

  test("byteCompressibility: hand-computed runs, multibyte UTF-8, empty doc") {
    import spark.implicits._
    val df = Seq((1L, "aaabbc"), (2L, "éé"), (3L, ""), (4L, "abab"))
      .toDF("doc_id", "text")
    val got = Profiling.byteCompressibility(df, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // "aaabbc": 6 bytes, runs aaa|bb|c, alphabet {a,b,c}, 2000*3/6
    assert(got(1L) === ((6L, 3L, 3L, 1000L)))
    // "éé" = C3 A9 C3 A9: 4 bytes, every byte a run boundary, 2 distinct
    assert(got(2L) === ((4L, 4L, 2L, 2000L)))
    assert(got(3L) === ((0L, 0L, 0L, 0L)))
    // alternation never merges runs: RLE "compresses" to 2× the input
    assert(got(4L) === ((4L, 4L, 2L, 2000L)))
  }

  test("resourceAllocationLinks: shared-unit scoring, hub cap, minCommon") {
    import spark.implicits._
    // unit u1 shared by a,b,c (deg 3); u2 by a,b (deg 2); hub by all 4
    val links = Seq(
      ("a", "u1"), ("b", "u1"), ("c", "u1"),
      ("a", "u2"), ("b", "u2"),
      ("a", "hub"), ("b", "hub"), ("c", "hub"), ("d", "hub")).toDF("ent", "u")
    val got = Graphs.resourceAllocationLinks(links, "ent", "u",
        minCommon = 1, maxUnitDegree = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // hub (deg 4) dropped: a–b share u1+u2, a–c and b–c share u1 only
    assert(got === Map(
      ("a", "b") -> ((2L, 1000000L / 3 + 500000L)),
      ("a", "c") -> ((1L, 1000000L / 3)),
      ("b", "c") -> ((1L, 1000000L / 3))))
    val filtered = Graphs.resourceAllocationLinks(links, "ent", "u",
      minCommon = 2, maxUnitDegree = 3)
    assert(filtered.collect().map(r => (r.getString(0), r.getString(1))).toSet
      === Set(("a", "b")))
  }
}
