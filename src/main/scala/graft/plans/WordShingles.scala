package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: distinct word n-gram shingles in ONE
  * tight eval per row.
  *
  * The same semantics composed from built-ins
  * (split → transform(sequence…, slice+concat_ws) → array_distinct)
  * run as interpreted higher-order functions with per-element Catalyst
  * dispatch — measured ~7 s for 5k docs at sf0.1 versus milliseconds
  * here. This is the preference-order case (b) from the design notes:
  * a scalar expression where built-ins can't express the op
  * efficiently.
  *
  * Semantics (shared with the SQL oracle): whitespace tokens of
  * trimmed text; fewer than n tokens → one shingle of all tokens
  * (empty text → empty array); duplicates removed keeping first
  * occurrence.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {

  override def inputTypes = org.apache.spark.sql.graft.TypeShim.oneString
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val toks = WordShingles.tokenize(s)
    val out = new java.util.LinkedHashSet[UTF8String]()
    if (toks.length > 0 && toks.length < n) {
      out.add(UTF8String.fromString(toks.mkString(" ")))
    } else {
      var i = 0
      val sb = new java.lang.StringBuilder(64)
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out.add(UTF8String.fromString(sb.toString))
        i += 1
      }
    }
    new GenericArrayData(out.toArray[AnyRef](new Array[AnyRef](out.size())))
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {

  // exactly Java regex \s = [ \t\n\x0B\f\r], matching the composed
  // split("\\s+")-of-trimmed form and the SQL oracle's
  // regexp_split_to_array; shared with PositionedGramHashes
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private[plans] def tokenize(s: String): Array[String] = {
    val out = new java.util.ArrayList[String]()
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) out.add(s.substring(start, i))
    }
    out.toArray(new Array[String](out.size()))
  }

  /** Column wrapper (via the namespace shim — Spark 4 gates Column
    * construction behind private[sql]). */
  def word_shingles(c: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      WordShingles(org.apache.spark.sql.graft.ColumnShim.expression(c), n))
}
