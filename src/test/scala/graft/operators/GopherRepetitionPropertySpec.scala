package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property test for the full gopherRepetition battery against an
  * independent in-JVM reference model over random tiny documents —
  * the hardening for the r8 short-doc crash class (sequence(1,0) is
  * descending in Spark): every random doc must produce a row, never
  * throw, and match the model field by field. Docs are drawn from a
  * tiny token alphabet with mixed space/newline separators, blank and
  * whitespace-only cases included, lengths 0..12 tokens — exactly the
  * region the sf0.1 gate corpus never exercises.
  */
class GopherRepetitionPropertySpec extends AnyFunSuite with SparkSpec {

  // ---- reference model (independent re-derivation of the battery)

  // whitespace tokens, no boundary empties — the tokens() contract
  private def toks(text: String): Array[String] =
    text.split("\\s+").filter(_.nonEmpty)

  private def floorDiv(a: Long, b: Long): Long = a / b // non-negative here

  private case class Expect(dupLine: Long, dupLineChar: Long,
                            top2: Long, top3: Long, top4: Long,
                            dup5: Long, dup10: Long)

  private def model(text: String): Expect = {
    // line rules: raw text split on \n, trailing empties kept (Spark
    // split default)
    val lines = text.split("\n", -1)
    val nl = lines.length.toLong
    val nld = lines.distinct.length.toLong
    val lc = lines.map(_.length.toLong).sum
    val lcd = lines.distinct.map(_.length.toLong).sum
    val dupLine = if (nl == 0) 0L else floorDiv(1000000L * (nl - nld), nl)
    val dupLineChar = if (lc == 0) 0L else floorDiv(1000000L * (lc - lcd), lc)
    val tk = toks(text)
    val nt = tk.length.toLong
    val tc = if (nt == 0) 0L else tk.map(_.length.toLong).sum + nt - 1
    def top(n: Int): Long = {
      if (nt < n) 0L
      else {
        val grams = (0 to (nt - n).toInt).map(i => tk.slice(i, i + n).mkString(" "))
        val counts = grams.groupBy(identity).view.mapValues(_.size.toLong).toSeq
        val (g, c) = counts.minBy { case (g, c) => (-c, g) }
        floorDiv(1000000L * c * g.length, tc)
      }
    }
    def dupCoverage(n: Int): Long = {
      if (nt < n) 0L
      else {
        val starts = (1 to (nt - n + 1).toInt)
        val byGram = starts.groupBy(i => tk.slice(i - 1, i - 1 + n).mkString(" "))
        val dupStarts = byGram.values.filter(_.size >= 2).flatten.toSeq
        val covered = dupStarts.flatMap(s => s until s + n).distinct.sorted
        if (covered.isEmpty) 0L
        else {
          val tokChars = covered.map(p => tk(p - 1).length.toLong).sum
          val joins = covered.sliding(2).count {
            case Seq(a, b) => b - a == 1
            case _ => false
          }
          floorDiv(1000000L * (tokChars + joins), tc)
        }
      }
    }
    Expect(dupLine, dupLineChar, top(2), top(3), top(4),
      dupCoverage(5), dupCoverage(10))
  }

  // ---- generator: 0..12 tokens over a tiny alphabet, mixed seps

  private val genDoc: Gen[String] = for {
    n <- Gen.choose(0, 12)
    tokens <- Gen.listOfN(n, Gen.oneOf("a", "b", "ab", "ccc", "d1"))
    seps <- Gen.listOfN(math.max(n - 1, 0), Gen.oneOf(" ", "\n", "  ", " \n"))
    pad <- Gen.oneOf("", " ", "\n", "  \n ")
  } yield {
    val sb = new StringBuilder(pad)
    tokens.zipAll(seps, "", "").foreach { case (t, s) => sb.append(t).append(s) }
    sb.append(pad).toString
  }

  test("random tiny docs: battery matches the reference model, never throws") {
    var seed = org.scalacheck.rng.Seed(42L)
    val params = Gen.Parameters.default
    val sample = (0 until 150).flatMap { i =>
      val v = genDoc.apply(params.withSize(1 + i % 30), seed)
      seed = seed.next
      v
    }
    val rows = sample.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    import spark.implicits._
    val got = TextFunctions
      .gopherRepetition(rows.toDF("doc_id", "text"), "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size === rows.size, "one output row per input doc")
    rows.foreach { case (id, text) =>
      val e = model(text)
      val r = got(id)
      def chk(c: String, v: Long) =
        assert(r.getAs[Long](c) === v, s"doc $id ${text.replace("\n", "\\n")} col $c")
      chk("dup_line_ppm", e.dupLine); chk("dup_line_char_ppm", e.dupLineChar)
      chk("top2_char_ppm", e.top2); chk("top3_char_ppm", e.top3)
      chk("top4_char_ppm", e.top4)
      chk("dup5_char_ppm", e.dup5); chk("dup10_char_ppm", e.dup10)
    }
  }
}
