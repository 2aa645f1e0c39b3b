package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: the xxhash64 (seed 42 — Spark's
  * `xxhash64` default) of every positioned word k-gram of a text, as
  * ONE array<long> per row. Element i is bit-identical to
  * `xxhash64(concat_ws(' ', slice(tokens, i+1, k)))` — the composed
  * form `Dedup.duplicateSpans` originally used.
  *
  * Why an expression and not built-ins (preference-order case (b)):
  * the composed pipeline explodes position indexes FIRST and slices
  * per exploded row, so every one of a document's n positions carries
  * a full copy of the n-token array through the explode — O(n²) bytes
  * per document in the unsafe row format. Here the gram hashes are
  * produced in one pass over the tokens (reused StringBuilder, no
  * intermediate gram-string column), and the explode that follows
  * carries 8-byte longs only. Honest sizing: at the gate corpus's
  * ~10²-token documents the two forms bench identically (the n² term
  * is ~100 KB/doc); the quadratic term dominates for long documents
  * — at 10⁵ tokens (a book, a code file, a transcript) the composed
  * form materializes ~100 GB of array copies PER DOCUMENT while this
  * stays linear. Fewer than k tokens → empty array (matching the
  * composed form's empty sequence guard); NULL text → NULL
  * (null-intolerant).
  */
case class PositionedGramHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {

  require(k >= 1, s"k must be positive, got $k")

  override def inputTypes = org.apache.spark.sql.graft.TypeShim.oneString
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val toks = WordShingles.tokenize(s)
    val n = toks.length
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n - k + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i + k <= n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = XXH64.hashUTF8String(UTF8String.fromString(sb.toString), 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PositionedGramHashes =
    copy(child = newChild)
}

object PositionedGramHashes {
  /** Column wrapper (via the namespace shim — Spark 4 gates Column
    * construction behind private[sql]). */
  def positioned_gram_hashes(c: Column, k: Int): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      PositionedGramHashes(org.apache.spark.sql.graft.ColumnShim.expression(c), k))
}
