package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property test for [[Frontier.fetchSchedule]]'s not-before grant
  * recurrence: the running-max WINDOW form
  *
  *   fetch_i = seq_i·d + max_(j≤i)(coalesce(nb_j, t0) − seq_j·d)
  *
  * must equal the SEQUENTIAL fold
  *
  *   fetch_i = max(t0, nb_i, fetch_(i−1) + d)
  *
  * for ANY (t0, delay, not-before multiset) — including not-befores
  * far in the past (stale recrawl dues), far in the future (long
  * deferrals that dominate many successors), nulls, duplicates, and
  * hosts with a single URL. This is the law that lets the frontier
  * schedule relationally instead of iterating per host.
  */
class FrontierRecurrencePropertySpec extends AnyFunSuite with SparkSpec {

  private def sequentialFold(t0: Long, d: Long,
                             nbs: Seq[Option[Long]]): Seq[Long] =
    nbs.foldLeft((Seq.empty[Long], Long.MinValue)) {
      case ((acc, prev), nb) =>
        val earliest = if (prev == Long.MinValue) t0 else prev + d
        val granted = math.max(math.max(t0, nb.getOrElse(t0)), earliest)
        (acc :+ granted, granted)
    }._1

  test("window recurrence equals the sequential fold for arbitrary not-befores") {
    val s = spark
    import s.implicits._
    val t0 = 1000000L
    val gen = for {
      n <- Gen.choose(1, 40)
      d <- Gen.oneOf(1L, 250L, 1000L, 7777L)
      nbs <- Gen.listOfN(n, Gen.option(Gen.choose(t0 - 50000L, t0 + 50000L)))
    } yield (d, nbs)
    val cases = Gen.listOfN(30, gen).sample.get
    cases.zipWithIndex.foreach { case ((d, nbs), ci) =>
      val urls = nbs.zipWithIndex.map { case (nb, i) =>
        (i.toLong, s"http://h$ci.x/p$i", nb)
      }.toDF("id", "url", "nb")
      val delays = Seq((s"h$ci.x", d)).toDF("host", "crawl_delay_ms")
      val got = Frontier.fetchSchedule(urls, "id", col("url"), delays,
        t0Ms = t0, defaultDelayMs = 1L, maxPerHost = Int.MaxValue,
        notBeforeCol = Some("nb"))
        .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
      val expected = sequentialFold(t0, d, nbs)
      expected.zipWithIndex.foreach { case (e, i) =>
        assert(got(i.toLong) === e,
          s"case $ci (d=$d, nbs=$nbs): grant $i")
      }
      // politeness invariants hold independently of the fold replay
      val ordered = expected
      ordered.sliding(2).foreach {
        case Seq(a, b) => assert(b >= a + d, s"case $ci: spacing violated")
        case _ =>
      }
      nbs.zip(ordered).foreach { case (nb, f) =>
        assert(f >= math.max(t0, nb.getOrElse(t0)), s"case $ci: grant too early")
      }
    }
  }
}
