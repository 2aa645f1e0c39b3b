package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property gate for the BPE ENCODE path: [[Tokenization.applyBpe]]
  * (lowest-rank-present + full greedy pass per round) must agree with
  * the TEXTBOOK reference — one single leftmost application per step,
  * repeated to fixpoint — on corpora WITH THE TABLE TRAINED ON THEM
  * and on unseen words. This is the equivalence q212's oracle leans
  * on (its recursive CTE is the single-leftmost form), proved here on
  * randomized inputs rather than argued: for one rule the greedy pass
  * and iterated-single-leftmost merge the same occurrence set, and a
  * TRAINED table's later merges cannot create earlier pairs.
  * Fixed-seed sampling keeps failures reproducible.
  */
class BpeEncodePropertySpec extends AnyFunSuite with SparkSpec {

  /** Textbook BPE encode: while some adjacent pair is in the table,
    * apply the LOWEST-RANK one at its LEFTMOST position only, repeat. */
  private def refEncode(word: String,
                        rank: Map[(String, String), Int]): Seq[String] = {
    var syms: Vector[String] = word.map(_.toString).toVector
    var done = false
    while (!done && syms.length >= 2) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      var i = 0
      while (i < syms.length - 1) {
        rank.get((syms(i), syms(i + 1))).foreach { rk =>
          if (rk < bestRank) { bestRank = rk; bestIdx = i }
        }
        i += 1
      }
      if (bestIdx < 0) done = true
      else syms = (syms.take(bestIdx) :+ (syms(bestIdx) + syms(bestIdx + 1))) ++
        syms.drop(bestIdx + 2)
    }
    syms
  }

  test("applyBpe == textbook single-leftmost encode on trained tables (random corpora + unseen words)") {
    import spark.implicits._
    val word = Gen.chooseNum(1, 12)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val corpusGen = Gen.chooseNum(3, 8).flatMap(k => Gen.listOfN(k, word))
    val unseenGen = Gen.listOfN(3, word)
    var seed = org.scalacheck.rng.Seed(86420L)
    val params = Gen.Parameters.default
    (0 until 10).foreach { it =>
      val train = corpusGen.apply(params, seed).get
      seed = seed.next
      val extra = unseenGen.apply(params, seed).get
      seed = seed.next
      val trainDf = train.zipWithIndex
        .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val merges = Tokenization.trainBpe(trainDf, col("text"), numMerges = 6)
      val rank = merges.map(m => (m.left, m.right) -> m.rank).toMap
      val docs = (train ++ extra).zipWithIndex
        .map { case (w, i) => (i.toLong, w) }
      val got = Tokenization.applyBpe(docs.toDF("doc_id", "text"),
          "doc_id", col("text"), merges)
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      docs.foreach { case (id, w) =>
        assert(got(id) === refEncode(w, rank),
          s"iteration $it word '$w' merges=$merges")
      }
    }
  }
}
