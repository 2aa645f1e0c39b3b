package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the round-9 primitives' algebraic laws:
  *
  *  - [[Relational.globalPrefixSum]] equals the serial exclusive fold
  *    for ANY input multiset (sizes spanning empty → multi-partition,
  *    values including negatives and zeros) — the law the two-level
  *    distributed scan must satisfy regardless of where the range
  *    boundaries fall;
  *  - [[Sketches.kmvSketch]] obeys the KMV MERGE LAW: the sketch of
  *    A ∪ B is exactly "merge the two sketches, drop duplicates,
  *    re-take the bottom k" — the property that makes sketches
  *    mergeable artifacts ([[Sketches.kmvPairOps]]'s foundation) and
  *    distributed aggregation of them correct.
  */
class FoldLawPropertySpec extends AnyFunSuite with SparkSpec {

  /** Deterministic sampling driver (the PropertySpec convention — the
    * scalatest/scalacheck bridge artifact isn't cached here).
    */
  private def forAll[T](g: Gen[T], n: Int)(f: T => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(1337L)
    val params = Gen.Parameters.default
    (0 until n).foreach { i =>
      g.apply(params.withSize(1 + i % 40), seed).foreach(f)
      seed = seed.next
    }
  }

  test("globalPrefixSum == serial exclusive fold for arbitrary inputs") {
    import spark.implicits._
    val gen = Gen.listOf(Gen.chooseNum(-1000L, 1000L))
    forAll(gen, 12) { vals =>
      val rows = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      var acc = 0L
      val expected = rows.map { case (id, v) =>
        val e = id -> acc; acc += v; e
      }.toMap
      if (rows.nonEmpty) {
        val got = Relational
          .globalPrefixSum(rows.toDF("id", "v"), "id", "v", "off")
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        assert(got === expected, s"prefix sums diverged for $vals")
      }
      CacheRegistry.releaseAll()
    }
  }

  test("kmvSketch merge law: sketch(A ∪ B) == re-take(sketch(A) ∪ sketch(B))") {
    import spark.implicits._
    val k = 16
    val gen = for {
      a <- Gen.listOf(Gen.chooseNum(0L, 400L))
      b <- Gen.listOf(Gen.chooseNum(0L, 400L))
    } yield (a, b)
    forAll(gen, 10) { case (a, b) =>
      val rows = a.map(("A", _)) ++ b.map(("B", _)) ++ (a ++ b).map(("U", _))
      if (rows.nonEmpty) {
        val sk = Sketches.kmvSketch(rows.toDF("g", "key"), "g", col("key"), k)
          .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
        val merged = (sk.getOrElse("A", Nil) ++ sk.getOrElse("B", Nil))
          .distinct.sorted.take(k)
        assert(sk.getOrElse("U", Nil) === merged,
          s"merge law violated for |A|=${a.size} |B|=${b.size}")
      }
      CacheRegistry.releaseAll()
    }
  }
}
