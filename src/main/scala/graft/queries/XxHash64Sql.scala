package graft.queries

/** Generates oracle SQL that reproduces Spark's XxHash64 (seed 42)
  * bit-for-bit on an engine with only 128-bit integers.
  *
  * Technique: all values live in [0, 2^64) as HUGEINT; multiplication
  * is mod-2^64 via a split multiplicand (a full 64×64 product overflows
  * INT128); rotations are shift+divide; the byte stream comes from
  * `hex(encode(s))` (UTF-8, non-ASCII-safe); the word/stripe loops are
  * ordered `list_reduce` folds; and every dependent hash step is staged
  * as its OWN CTE column — textual nesting of hash expressions blows up
  * exponentially (each fmix stage references its input twice).
  *
  * Verified value-identical to `XxHash64Function.hash` for the string,
  * long and int paths, including the ≥32-byte stripe loop and chained
  * multi-argument hashing (the correctness gate exercises all of them
  * through q29/q30).
  */
private[queries] object XxHash64Sql {

  val M64 = "18446744073709551616"
  private val P1 = "11400714785074694791"
  private val P2 = "14029467366897019727"
  private val P3 = "1609587929392839161"
  private val P4 = "9650029242287828579"
  private val P5 = "2870177450012600261"

  /** Unsigned u64 string of Spark's xxhash64(i) — the chained seed the
    * i-th bloom/count-min hash starts from (see q120).
    */
  def seedU64(i: Int): String = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.LongType
    val sgn = XxHash64Function.hash(i.toLong, LongType, 42L)
    (if (sgn < 0) BigInt(sgn) + (BigInt(1) << 64) else BigInt(sgn)).toString
  }

  private def m64(x: String) = s"(($x) % $M64)"
  private def mul(a: String, b: String) =
    m64(s"((($a) % 4294967296) * ($b) % $M64 + ((($a) // 4294967296) * ($b) % 4294967296) * 4294967296)")
  private def rotl(x: String, r: Int) =
    // BigInt: 1L << 63 overflows to a NEGATIVE long literal, and the
    // oracle's truncating division with a negative divisor is silently
    // wrong only when the operand's top bit is set — an intermittent
    // corruption, not a crash
    m64(s"(($x) * ${BigInt(1) << r} + ($x) // ${BigInt(1) << (64 - r)})")
  private def xor(a: String, b: String) = s"xor(($a), ($b))"
  private def shr(x: String, n: Int) = s"(($x) // ${1L << n})"

  /** Unsigned HUGEINT in [0,2^64) → its signed-long (two's complement)
    * value as BIGINT, and back.
    */
  def u2s(x: String): String =
    s"CAST(CASE WHEN ($x) >= 9223372036854775808 THEN ($x) - $M64 ELSE ($x) END AS BIGINT)"
  def s2u(b: String): String =
    s"(CAST(($b) AS HUGEINT) + CASE WHEN ($b) < 0 THEN CAST($M64 AS HUGEINT) ELSE 0 END)"

  /** Avalanche finalizer as staged (column, expr) steps; returns the
    * final column name.
    */
  private def fmixSteps(h: String, pfx: String): (Seq[(String, String)], String) = {
    val (a, b, c, d, e) = (pfx + "a", pfx + "b", pfx + "c", pfx + "d", pfx + "e")
    (Seq(a -> xor(h, shr(h, 33)), b -> mul(a, P2), c -> xor(b, shr(b, 29)),
      d -> mul(c, P3), e -> xor(d, shr(d, 32))), e)
  }

  /** XXH64 long-input step: hash of `v` (u64 expr) with `seed` (u64
    * expr/column).
    */
  def hashLongSteps(v: String, seed: String, pfx: String): (Seq[(String, String)], String) = {
    val (s1, s2, s3) = (pfx + "1", pfx + "2", pfx + "3")
    val head = Seq(
      s1 -> m64(s"($seed) + $P5 + 8"),
      s2 -> xor(s1, mul(rotl(mul(v, P2), 31), P1)),
      s3 -> m64(mul(rotl(s2, 27), P1) + " + " + P4))
    val (tail, out) = fmixSteps(s3, pfx + "f")
    (head ++ tail, out)
  }

  /** Emit a chain of CTEs over `src`, each adding up to `per` of the
    * step columns; returns (cteSql, lastCteName).
    */
  def chainCtes(src: String, steps: Seq[(String, String)], ctePrefix: String,
                per: Int = 4): (String, String) = {
    val groups = steps.grouped(per).toSeq
    val ctes = groups.zipWithIndex.map { case (chunk, idx) =>
      val cur = if (idx == 0) src else s"$ctePrefix${idx - 1}"
      val cols = chunk.map { case (col, expr) => s"$expr AS $col" }.mkString(", ")
      s"$ctePrefix$idx AS (SELECT *, $cols FROM $cur)"
    }
    (ctes.mkString(",\n"), s"$ctePrefix${groups.size - 1}")
  }

  private def rnd(v: String, w: String) =
    mul(rotl(m64(s"($v) + ${mul(w, P2)}"), 31), P1)

  private def mergeExpr(st: String): String = {
    var h = m64(Seq(1 -> 1, 2 -> 7, 3 -> 12, 4 -> 18)
      .map { case (i, r) => rotl(s"$st[$i]", r) }.mkString(" + "))
    (1 to 4).foreach { i =>
      h = m64(mul(xor(h, mul(rotl(mul(s"$st[$i]", P2), 31), P1)), P1) + " + " + P4)
    }
    h
  }

  /** CTE chain hashing `strCol` (VARCHAR, via its UTF-8 bytes) for each
    * row of `src`; the final CTE is named `hb` and carries every source
    * column plus `xxh` (u64 HUGEINT). Handles all input lengths: the
    * 32-byte stripe loop, trailing 8-byte words, 4-byte word, bytes.
    */
  def hashBytesCtes(src: String, strCol: String, seed: String = "42"): String = {
    val v1 = m64(s"$seed + $P1 + $P2")
    val v2 = m64(s"$seed + $P2")
    val v3 = s"CAST($seed AS HUGEINT)"
    val v4 = m64(s"$seed - $P1 + $M64")
    val word8 = (0 until 8).map(j => s"by[8*w+${j + 1}] * ${1L << (8 * j)}").mkString(" + ")
    val word4 = (0 until 4).map(j => s"by[8*nw+${j + 1}] * ${1L << (8 * j)}").mkString(" + ")
    val stripeFold =
      s"""list_reduce(list_prepend([$v1, $v2, $v3, $v4],
         |    list_transform(generate_series(0, ns - 1), st -> [wd[4*st+1], wd[4*st+2], wd[4*st+3], wd[4*st+4]])),
         |    (a, b) -> [${rnd("a[1]", "b[1]")}, ${rnd("a[2]", "b[2]")}, ${rnd("a[3]", "b[3]")}, ${rnd("a[4]", "b[4]")}])""".stripMargin
    s"""hb0 AS (
       |  SELECT *, octet_length(encode($strCol)) AS n,
       |    list_transform(generate_series(1, octet_length(encode($strCol))),
       |      k -> CAST(CAST(('0x' || substr(hex(encode($strCol)), 2*k-1, 2)) AS BIGINT) AS HUGEINT)) AS by
       |  FROM $src),
       |hb1 AS (
       |  SELECT *, n // 8 AS nw, n // 32 AS ns,
       |    list_transform(generate_series(0, n // 8 - 1), w -> $word8) AS wd
       |  FROM hb0),
       |hbs AS (
       |  SELECT *, CASE WHEN ns > 0 THEN $stripeFold ELSE NULL END AS stv
       |  FROM hb1),
       |hb2 AS (
       |  SELECT *, ${m64(s"(CASE WHEN ns > 0 THEN ${mergeExpr("stv")} ELSE ${m64(s"$seed + $P5")} END) + n")} AS h1
       |  FROM hbs),
       |hb3 AS (
       |  SELECT *, list_reduce(list_prepend([h1],
       |      list_transform(generate_series(4*ns, nw - 1), k -> [wd[k+1]])),
       |      (a, b) -> [${wordMix("a[1]", "b[1]")}])[1] AS h2
       |  FROM hb2),
       |hb4 AS (
       |  SELECT *, CASE WHEN n - 8*nw >= 4 THEN ${intMix("h2", word4)} ELSE h2 END AS h3,
       |    CASE WHEN n - 8*nw >= 4 THEN 8*nw + 4 ELSE 8*nw END AS off4
       |  FROM hb3),
       |hb5 AS (
       |  SELECT *, list_reduce(list_prepend([h3],
       |      list_transform(generate_series(off4 + 1, n), k -> [by[k]])),
       |      (a, b) -> [${byteMix("a[1]", "b[1]")}])[1] AS h4
       |  FROM hb4),
       |hb AS (SELECT *, ${fmixInline("h4")} AS xxh FROM hb5)""".stripMargin
  }

  private def wordMix(h: String, k: String) = {
    val t = xor(h, mul(rotl(mul(k, P2), 31), P1))
    m64(mul(rotl(t, 27), P1) + " + " + P4)
  }
  private def intMix(h: String, k: String) = {
    val t = xor(h, mul(k, P1))
    m64(mul(rotl(t, 23), P2) + " + " + P3)
  }
  private def byteMix(h: String, b: String) = {
    val t = xor(h, mul(b, P5))
    mul(rotl(t, 11), P1)
  }
  /** fmix over a short column name (safe to inline: the name is tiny). */
  private def fmixInline(h: String): String = {
    var x = xor(h, shr(h, 33)); x = mul(x, P2)
    x = xor(x, shr(x, 29)); x = mul(x, P3)
    xor(x, shr(x, 32))
  }
}
