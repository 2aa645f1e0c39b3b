package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MemoRLike must be a drop-in for `regexp_like` with a non-foldable
  * pattern — same Java-regex `find` semantics, same null contract —
  * under BOTH evaluation paths (codegen is the default; the
  * interpreted path runs when codegen is disabled).
  */
class MemoRLikeSpec extends AnyFunSuite with SparkSpec {

  // per-row pattern CHANGES (the cache-thrash shape the expression
  // exists for), anchors, wildcards, metachars, no-match, substring
  // (unanchored find) semantics
  private val cases = Seq(
    ("/private/x", "^/private/"),
    ("/private/x", "^/public/"),
    ("/file.tmp", "^/.*\\.tmp$"),
    ("/file.tmp?x=1", "^/.*\\.tmp$"),
    ("/a.b/z", "^/a\\.b/"),
    ("/aXb/z", "^/a\\.b/"),
    ("middle match", "dle ma"),
    ("", "^$"),
    ("anything", ""),
    ("[literal]", "^\\[literal\\]$"))

  test("agrees with regexp_like across per-row-changing patterns (codegen path)") {
    val s = spark
    import s.implicits._
    val df = cases.toDF("str", "pat")
      .select(col("str"), col("pat"),
        MemoRLike.matches(col("str"), col("pat")).as("memo"),
        regexp_like(col("str"), col("pat")).as("builtin"))
    val rows = df.collect()
    assert(rows.length === cases.length)
    rows.foreach { r =>
      assert(r.getBoolean(2) === r.getBoolean(3),
        s"memo_rlike('${r.getString(0)}', '${r.getString(1)}')")
    }
  }

  test("agrees on the interpreted path and repeated patterns hit the cache") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    // direct eval = interpreted nullSafeEval; reuse one instance so
    // repeated patterns exercise the LRU hit path
    val pats = cases ++ cases // second pass: every pattern is a cache hit
    pats.foreach { case (str, pat) =>
      val e = MemoRLike(Literal(UTF8String.fromString(str)),
        Literal(UTF8String.fromString(pat)))
      val expected = java.util.regex.Pattern.compile(pat)
        .matcher(str).find(0)
      assert(e.eval(null) === expected, s"interp('$str', '$pat')")
    }
  }

  test("null contract: null on either side yields null, like RLike") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Some("x"), None: Option[String]),
      (None: Option[String], Some("^x")),
      (Some("x"), Some("^x"))
    ).toDF("str", "pat")
      .select(MemoRLike.matches(col("str"), col("pat")).as("m"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getBoolean(0)))
    assert(got.toSeq === Seq(None, None, Some(true)))
  }
}
