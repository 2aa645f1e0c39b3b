package graft.plans

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property parity across the THREE tokenizer implementations the
  * engine carries — the composed `TextFunctions.tokens` (split +
  * empty-filter), `WordShingles.tokenize`, and
  * `PositionedGramHashes.tokenize` — over random documents rich in
  * the boundary cases the r8 phantom-empty-token bug hid in: leading/
  * trailing \n\t\r\f\u000B runs, multi-space separators, unicode
  * NON-\s whitespace (NBSP must stay INSIDE a token: Java regex \s is
  * ASCII-only and all three implementations must agree on that), and
  * empty/blank docs. Any future tokenizer drift between the composed
  * and custom forms shifts positions or counts somewhere — this spec
  * makes it fail loudly instead of silently mis-deduping.
  */
class TokenizerParityPropertySpec extends AnyFunSuite with SparkSpec {

  private def modelTokens(text: String): Array[String] =
    text.split("\\s+").filter(_.nonEmpty)

  private def modelShingles(text: String, n: Int): Seq[String] = {
    val tk = modelTokens(text)
    if (tk.isEmpty) Seq.empty
    else if (tk.length < n) Seq(tk.mkString(" "))
    else {
      val all = (0 to tk.length - n).map(i => tk.slice(i, i + n).mkString(" "))
      all.distinct // first-occurrence order
    }
  }

  private def modelGramHashes(text: String, k: Int): Seq[Long] = {
    val tk = modelTokens(text)
    if (tk.length < k) Seq.empty
    else (0 to tk.length - k).map { i =>
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          tk.slice(i, i + k).mkString(" ")), 42L)
    }
  }

  // tokens from a mix of ASCII words, unicode words, and words with
  // EMBEDDED non-\s whitespace (NBSP, ideographic space) that must
  // not split; separators cover every ASCII \s char
  private val genDoc: Gen[String] = for {
    n <- Gen.choose(0, 10)
    tokens <- Gen.listOfN(n,
      Gen.oneOf("a", "bb", "Ωμέγα", "日本", "x\u00A0y", "p\u3000q", "z9"))
    seps <- Gen.listOfN(math.max(n - 1, 0),
      Gen.oneOf(" ", "\n", "\t", "\r\n", "\u000B", "\f", "  \t"))
    pad <- Gen.oneOf("", " ", "\n", "\t\n", "\r", " \f ")
  } yield {
    val sb = new StringBuilder(pad)
    tokens.zipAll(seps, "", "").foreach { case (t, s) => sb.append(t).append(s) }
    sb.append(pad).toString
  }

  test("tokens / word_shingles / positioned_gram_hashes agree with one model") {
    var seed = org.scalacheck.rng.Seed(1234L)
    val params = Gen.Parameters.default
    val sample = (0 until 200).flatMap { i =>
      val v = genDoc.apply(params.withSize(1 + i % 25), seed)
      seed = seed.next
      v
    }
    import spark.implicits._
    val df = sample.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val got = df.select(col("id"),
        TextFunctions.tokens(col("text")).as("tk"),
        WordShingles.word_shingles(col("text"), 3).as("sh"),
        PositionedGramHashes.positioned_gram_hashes(col("text"), 2).as("gh"))
      .collect().map(r => r.getLong(0) -> r).toMap
    sample.zipWithIndex.foreach { case (text, i) =>
      val r = got(i.toLong)
      val show = text.replace("\n", "\\n").replace("\t", "\\t")
      assert(r.getAs[scala.collection.Seq[String]]("tk") === modelTokens(text).toSeq,
        s"tokens() doc $i <$show>")
      assert(r.getAs[scala.collection.Seq[String]]("sh") === modelShingles(text, 3),
        s"word_shingles doc $i <$show>")
      assert(r.getAs[scala.collection.Seq[Long]]("gh") === modelGramHashes(text, 2),
        s"positioned_gram_hashes doc $i <$show>")
    }
  }
}
