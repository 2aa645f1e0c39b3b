package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TokenizationSpec extends AnyFunSuite with SparkSpec {

  // the classic Sennrich walkthrough corpus: low×5 lower×2 newest×6
  // widest×3, one word per "document" repeated by frequency
  private def sennrich = {
    import spark.implicits._
    (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
  }

  test("mergeOnce is greedy leftmost non-overlapping") {
    assert(Tokenization.mergeOnce(Seq("a", "a", "a"), "a", "a") === Seq("aa", "a"))
    assert(Tokenization.mergeOnce(Seq("a", "a", "a", "a"), "a", "a") === Seq("aa", "aa"))
    assert(Tokenization.mergeOnce(Seq("x", "a", "b", "y", "a", "b"), "a", "b")
      === Seq("x", "ab", "y", "ab"))
    assert(Tokenization.mergeOnce(Seq("a"), "a", "a") === Seq("a"))
  }

  test("bpePairStats: hand-computed weighted pair counts, deterministic order") {
    val top = Tokenization.bpePairStats(sennrich, col("text"), 5).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // es: 6+3=9, st: 6+3=9, we: 2+6=8, lo: 5+2=7, ow: 5+2=7; ties
    // break on the pair itself → (e,s) before (s,t), (l,o) before (o,w)
    assert(top === Seq(("e", "s", 9L), ("s", "t", 9L), ("w", "e", 8L),
      ("l", "o", 7L), ("o", "w", 7L)))
  }

  test("trainBpe learns the classic merge sequence with deterministic ties") {
    val merges = Tokenization.trainBpe(sennrich, col("text"), numMerges = 4)
    assert(merges.map(m => (m.left, m.right)) ===
      Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
    assert(merges.map(_.pairN) === Seq(9L, 9L, 7L, 7L))
    assert(merges.map(_.rank) === Seq(0, 1, 2, 3))
  }

  test("trainBpe round 0 agrees with the gated pair census") {
    val census = Tokenization.bpePairStats(sennrich, col("text"), 1).collect()(0)
    val first = Tokenization.trainBpe(sennrich, col("text"), numMerges = 1).head
    assert((first.left, first.right, first.pairN) ===
      ((census.getString(0), census.getString(1), census.getLong(2))))
  }

  test("trainBpe stops at minPairCount and frees every checkpoint block") {
    import spark.implicits._
    val tiny = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    // ab appears twice (weight 2), cd once; minPairCount=2 admits only (a,b)
    val merges = Tokenization.trainBpe(tiny, col("text"), numMerges = 10,
      minPairCount = 2L)
    assert(merges.map(m => (m.left, m.right, m.pairN)) === Seq(("a", "b", 2L)))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "trainBpe must free all its checkpoint blocks before returning")
  }

  test("minWordCount bounds the table before training") {
    import spark.implicits._
    val df = Seq((1L, "zz zz qq")).toDF("doc_id", "text")
    // qq is a hapax: with minWordCount=2 only zz trains, so (z,z) is
    // the single possible merge and (q,q) never appears
    val merges = Tokenization.trainBpe(df, col("text"), numMerges = 10,
      minPairCount = 1L, minWordCount = 2L)
    assert(merges.map(m => (m.left, m.right)) === Seq(("z", "z")))
  }

  test("applyBpe replays training segmentations and generalizes by rank") {
    import spark.implicits._
    val merges = Tokenization.trainBpe(sennrich, col("text"), numMerges = 4)
    val out = Tokenization.applyBpe(
        Seq((1L, "newest low"), (2L, "lowest")).toDF("doc_id", "text"),
        "doc_id", col("text"), merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // trained words reproduce their final training segmentation
    assert(out(1L) === Seq("n", "e", "w", "est", "low"))
    // unseen "lowest": low + est by rank replay, no (w,e) merge learned
    assert(out(2L) === Seq("low", "est"))
  }

  test("bpeVocab: base alphabet in binary order, then merges at B+rank") {
    import spark.implicits._
    val merges = Tokenization.trainBpe(sennrich, col("text"), numMerges = 2)
    val vocab = Tokenization.bpeVocab(sennrich, col("text"), merges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // alphabet of {low, lower, newest, widest} = {d,e,i,l,n,o,r,s,t,w}
    val alpha = "deilnorstw".map(_.toString)
    alpha.zipWithIndex.foreach { case (s, i) => assert(vocab(s) === i.toLong) }
    merges.foreach(m =>
      assert(vocab(m.left + m.right) === (alpha.size + m.rank).toLong))
    assert(vocab.size === alpha.size + merges.size)
  }

  test("encodeIds: ids follow the vocab, positions are 1-based per doc, OOV is -1") {
    import spark.implicits._
    val merges = Tokenization.trainBpe(sennrich, col("text"), numMerges = 4)
    val vocab = Tokenization.bpeVocab(sennrich, col("text"), merges)
    val enc = Tokenization.encodeIds(
        Seq((1L, "newest low")).toDF("doc_id", "text"),
        "doc_id", col("text"), merges, vocab)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    val v = vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // applyBpe gives n e w est low (the replay spec above)
    assert(enc === Seq(1L -> v("n"), 2L -> v("e"), 3L -> v("w"),
      4L -> v("est"), 5L -> v("low")).map { case (p, i) => (p, i) })
    // a token outside the vocab encodes as -1
    val oov = Tokenization.encodeIds(
        Seq((7L, "zzz")).toDF("doc_id", "text"),
        "doc_id", col("text"), merges, vocab)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(oov.toSeq === Seq((7L, 1L, -1L), (7L, 2L, -1L), (7L, 3L, -1L)))
  }

  test("decodeIds round-trips encodeIds to the whitespace-squashed text; unks surface") {
    import spark.implicits._
    val merges = Tokenization.trainBpe(sennrich, col("text"), numMerges = 4)
    val vocab = Tokenization.bpeVocab(sennrich, col("text"), merges)
    val docs = Seq((1L, "newest  low\t wider"), (2L, "low")).toDF("doc_id", "text")
    val enc = Tokenization.encodeIds(docs, "doc_id", col("text"), merges, vocab)
    val dec = Tokenization.decodeIds(enc, "doc_id", vocab)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // whitespace squashed, words intact and ordered; no unks (corpus alphabet)
    assert(dec(1L) === (("newestlowwider", 10L, 0L))) // n e w est low w i d e r
    assert(dec(2L) === (("low", 1L, 0L)))
    // an id outside the vocab decodes as U+FFFD and counts in n_unk
    val rogue = Seq((9L, 1L, 999999L), (9L, 2L, 0L)).toDF("doc_id", "pos", "token_id")
    val d9 = Tokenization.decodeIds(rogue, "doc_id", vocab).collect().head
    assert(d9.getString(1).startsWith("�"))
    assert(d9.getLong(3) === 1L)
  }
}
