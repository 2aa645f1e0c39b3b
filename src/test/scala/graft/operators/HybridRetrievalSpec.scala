package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit semantics for the round-6 additions: semanticDedup (SemDeDup
  * cell-confined pruning), rrfFuse (reciprocal-rank fusion), and
  * canonicalPerCluster (quality-argmax keeper selection).
  */
class HybridRetrievalSpec extends AnyFunSuite with SparkSpec {

  private def vec(xs: Double*) = xs.map(_.toFloat).toArray

  test("semanticDedup drops the higher id of a near-identical pair, keeps orthogonals") {
    import spark.implicits._
    // ids 1/2 nearly parallel (cos ~ 1), id 3 orthogonal to both
    val df = Seq(
      (1L, vec(1, 0, 0, 0)),
      (2L, vec(0.999, 0.01, 0, 0)),
      (3L, vec(0, 0, 1, 0))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(df, "vec_id", "embedding",
      minCosinePpm = 900000L, nLists = 1)
      .orderBy("vid").collect()
    CacheRegistry.releaseAll(blocking = true)
    assert(out.map(r => r.getLong(0) -> r.getBoolean(2)).toSeq ===
      Seq(1L -> true, 2L -> false, 3L -> true))
  }

  test("semanticDedup maxCell cap: an over-cap cell contributes no pairs") {
    import spark.implicits._
    val df = Seq(
      (1L, vec(1, 0)), (2L, vec(0.999, 0.01)), (3L, vec(0.998, 0.02))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(df, "vec_id", "embedding",
      minCosinePpm = 900000L, nLists = 1, maxCell = 2)
      .collect()
    CacheRegistry.releaseAll(blocking = true)
    // all three land in one cell of size 3 > cap 2 -> everyone survives
    assert(out.forall(_.getBoolean(2)))
  }

  test("rrfFuse sums floor(1e6/(60+rank)) across rankers, ranks by (score desc, id)") {
    import spark.implicits._
    val lex = Seq((10L, 500L), (20L, 400L), (30L, 400L)).toDF("doc_id", "score")
    val sem = Seq((20L, 999L), (40L, 100L)).toDF("doc_id", "score")
    val out = Retrieval.rrfFuse(Seq("lex" -> lex, "sem" -> sem),
      "doc_id", "score", topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // lex ranks: 10->1, 20->2 (400 ties break by id), 30->3; sem: 20->1, 40->2
    val c = (r: Int) => 1000000L / (60 + r)
    val expect = Seq(
      (20L, c(2) + c(1), 2L), // fused across both rankers, top score
      (10L, c(1), 1L),
      (40L, c(2), 1L), // sem rank 2 beats...
      (30L, c(3), 1L)) // ...lex rank 3

    assert(out.toSeq === expect)
  }

  test("canonicalPerCluster keeps highest quality, lowest id on ties") {
    import spark.implicits._
    // one component {1,2,3}: quality 5,9,9 -> keeper 2 (tie 2 vs 3 -> lower id)
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val attrs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (99L, 100L)).toDF("doc_id", "q")
    val out = Dedup.canonicalPerCluster(pairs, attrs, "doc_id", "q")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    CacheRegistry.releaseAll(blocking = true)
    assert(out.toSeq === Seq((1L, 2L, 9L, 3L)))
  }
}
