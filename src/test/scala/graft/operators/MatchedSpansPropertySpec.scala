package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property gate for [[Dedup.matchedSpans]]: against random corpora
  * drawn from a SMALL token alphabet (so long shared runs and repeated
  * text arise by chance, the adversarial case for diagonal handling),
  * the operator must agree exactly with a quadratic brute-force
  * reference — all maximal common token runs per (pair, diagonal) of
  * at least minTokens — whenever the seed cap is wide open. The
  * reference is the definition; the operator is the distributed
  * anchor-and-extend rewrite of it. Fixed-seed sampling (the
  * TokenizerParityPropertySpec pattern) keeps failures reproducible.
  */
class MatchedSpansPropertySpec extends AnyFunSuite with SparkSpec {

  /** Brute force: maximal common runs >= minTokens between two token
    * arrays, per diagonal, 1-based positions. */
  private def bruteSpans(a: Array[String], b: Array[String],
                         minTokens: Int): Set[(Long, Long, Long)] = {
    val out = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    for (diag <- -(b.length - 1) to (a.length - 1)) {
      var i = math.max(0, diag)
      val iEnd = math.min(a.length, b.length + diag)
      while (i < iEnd) {
        if (a(i) == b(i - diag)) {
          val start = i
          while (i < iEnd && a(i) == b(i - diag)) i += 1
          val len = i - start
          if (len >= minTokens)
            out += (((start + 1).toLong, (start - diag + 1).toLong, len.toLong))
        } else i += 1
      }
    }
    out.toSet
  }

  private val tok = Gen.oneOf("a", "b", "c", "ab", "x")
  private val doc = Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, tok))
  private val corpus = Gen.chooseNum(2, 5).flatMap(k => Gen.listOfN(k, doc))

  test("matchedSpans == quadratic brute force on random small-alphabet corpora") {
    import spark.implicits._
    val k = 3
    val minTokens = 5
    var seed = org.scalacheck.rng.Seed(97531L)
    val params = Gen.Parameters.default
    (0 until 25).foreach { it =>
      val docs0 = corpus.apply(params, seed).get
      seed = seed.next
      val docs = docs0.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" "))
      }
      val got = Dedup.matchedSpans(docs.toDF("doc_id", "text"), "doc_id",
          col("text"), k = k, minTokens = minTokens,
          maxSeedOccurrences = 1000000L)
        .collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Long]("pos_a"), r.getAs[Long]("pos_b"),
          r.getAs[Long]("span_tokens"))).toSet
      CacheRegistry.releaseAll()
      val toks = docs0.map(_.toArray)
      val want = (for {
        i <- toks.indices
        j <- toks.indices if i < j
        (pa, pb, len) <- bruteSpans(toks(i), toks(j), minTokens)
      } yield (i.toLong, j.toLong, pa, pb, len)).toSet
      assert(got === want, s"iteration $it corpus=$docs")
    }
  }

  test("matchedSpans never reports a span below minTokens or a mismatching run (seeded regression corpus)") {
    import spark.implicits._
    // the pathological shapes by construction: periodic text (multiple
    // self-diagonals), shared prefix+suffix around a differing middle,
    // and an exact full-document duplicate
    val docs = Seq(
      1L -> "p q p q p q p q p q p q",
      2L -> "p q p q p q p q p q p q",
      3L -> "h1 h2 h3 h4 h5 MID a b c t1 t2 t3 t4 t5",
      4L -> "h1 h2 h3 h4 h5 DIF a b c t1 t2 t3 t4 t5").toDF("doc_id", "text")
    val rows = Dedup.matchedSpans(docs, "doc_id", col("text"),
        k = 2, minTokens = 3, maxSeedOccurrences = 1000000L)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("pos_a"), r.getAs[Long]("pos_b"),
        r.getAs[Long]("span_tokens")))
    CacheRegistry.releaseAll()
    assert(rows.forall(_._5 >= 3))
    // the full duplicate: one 12-token span on the main diagonal plus
    // the periodic off-diagonals — period-2 text matches only on EVEN
    // diagonals d, each as one maximal span of length 12 − |d|
    val dup = rows.filter(r => r._1 == 1L && r._2 == 2L)
    assert(dup.contains((1L, 2L, 1L, 1L, 12L)))
    assert(dup.forall { case (_, _, pa, pb, len) =>
      val d = math.abs(pa - pb)
      d % 2 == 0 && len == 12L - d })
    // prefix and suffix of the 3/4 pair are separate spans; the
    // differing middle token must split them
    val ps = rows.filter(r => r._1 == 3L && r._2 == 4L).toSet
    assert(ps === Set((3L, 4L, 1L, 1L, 5L), (3L, 4L, 7L, 7L, 8L)))
  }
}
